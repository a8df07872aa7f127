"""Embedding-space QUALITY evaluation (SURVEY.md §2B breadth): the
label-supervised diagnostics a pipeline runs before trusting an
embedding column for dedup/ANN/clustering — nearest-centroid
separability, k-NN label agreement, and coarse-cell purity. The
embeddings fixture carries an integer ``label`` column exactly for
this.

Exactness discipline: centroids use the q_emb_centroid quantization
(floor(x·1e10) BIGINT sums → two IEEE divisions — no double→decimal
rounding-tie exposure); distances are (x−c)² single IEEE ops
DECIMAL-summed (the q_kmeans_assign contract); votes/argmins break ties
on the smaller label/id so every reported row is bit-deterministic.

Reference parity note: the reference (/root/reference, 292-LoC ingest
pipeline) has no ML-eval surface; this is §2B/north-star breadth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from streaming_data_ingestion_spark import artifacts
from streaming_data_ingestion_spark.compat import DEC
from streaming_data_ingestion_spark.queries.llm_similarity import (
    _DIM,
    _dot,
    _norm,
    _sql_dot,
    _sql_norm,
)
from streaming_data_ingestion_spark.registry import query
from streaming_data_ingestion_spark.tables import load, spread_for_cpu

# --------------------------------------------------------------------------
# q_centroid_classifier — nearest-class-centroid confusion matrix.
# --------------------------------------------------------------------------

# the exact q_emb_centroid quantization, as SQL text (BIGINT is safe:
# |x|·1e10 ≤ ~1e10 per component, × corpus rows still < 2^63 at any
# fixture; the oracle never sees 100 TB)
_SQL_CENTROID = (
    "CAST(CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e10) "
    "AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e10 / COUNT(*)"
)


@query(
    "q_centroid_classifier",
    oracle=f"""
WITH cents AS (
  SELECT label AS clabel, CAST(i AS INTEGER) AS dim, {_SQL_CENTROID} AS c
  FROM embeddings CROSS JOIN range(1, {_DIM + 1}) r(i)
  GROUP BY label, i
),
dims AS (
  SELECT vec_id, label AS true_label, CAST(i AS INTEGER) AS dim,
         CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN range(1, {_DIM + 1}) r(i)
),
d2 AS (
  SELECT d.vec_id, d.true_label, c.clabel,
         SUM(CAST((d.x - c.c) * (d.x - c.c) AS DECIMAL(38,10))) AS dist2
  FROM dims d JOIN cents c ON c.dim = d.dim
  GROUP BY d.vec_id, d.true_label, c.clabel
),
pred AS (
  SELECT vec_id, true_label, clabel AS pred_label
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY dist2, clabel) AS rn
    FROM d2
  ) WHERE rn = 1
)
SELECT
  CAST(true_label AS INTEGER) AS true_label,
  CAST(pred_label AS INTEGER) AS pred_label,
  CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM pred
GROUP BY true_label, pred_label
ORDER BY true_label, pred_label
""",
    tags=("embeddings", "ml", "eval"),
)
def q_centroid_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-class-centroid confusion matrix: fit one centroid per
    label (the exact integer-quantized means of q_emb_centroid), assign
    every vector to its nearest centroid by squared Euclidean distance,
    and report (true_label, pred_label, n) — the fastest supervised
    separability readout an embedding space gets (a diagonal-heavy
    matrix means labels are linearly separable by distance; off-diagonal
    mass names the confusable classes for q_sim_* consumers).

    Scale shape: the fit is ONE map-side-combined (label, dim) aggregate
    (|labels|×64 rows); scoring is the q_kmeans_assign plan — posexplode
    → broadcast join against the tiny centroid relation → (vec,
    class)-keyed partial aggregate → per-vec argmin window (partitioned,
    never global) → a |labels|²-sized confusion aggregate. Broadcast the
    model, score at scan speed.

    Exactness: centroids are floor-quantized BIGINT sums → two IEEE
    divisions (no decimal-cast tie exposure — see q_emb_centroid); each
    (x−c)² is one IEEE multiply of identical doubles, DECIMAL-summed;
    argmin ties break on the smaller label in both engines.
    """
    e = spread_for_cpu(load(spark, sf_dir, "embeddings"))
    qz = F.floor(F.col("x") * F.lit(1e10))
    # Persist the narrow (vec_id, label, dim, x) stream: the centroid
    # fit and the scoring join are separate plan branches that each
    # re-ran the posexplode corpus pass without it (2 passes → 1).
    dims = artifacts.cached(
        "q_centroid_classifier.dims",
        sf_dir,
        lambda: e.select(
            "vec_id",
            F.col("label").alias("true_label"),
            F.posexplode("embedding").alias("pos", "xf"),
        ).select(
            "vec_id",
            "true_label",
            (F.col("pos") + 1).cast("int").alias("dim"),
            F.col("xf").cast("double").alias("x"),
        ),
    )
    cents = (
        dims.groupBy(F.col("true_label").alias("clabel"), "dim")
        .agg(
            (
                F.sum(qz).cast("double") / F.lit(1e10) / F.count(F.lit(1))
            ).alias("c")
        )
    )
    gap = F.col("x") - F.col("c")
    d2 = (
        dims.join(F.broadcast(cents), "dim")
        .groupBy("vec_id", "true_label", "clabel")
        .agg(F.sum((gap * gap).cast(DEC)).alias("dist2"))
    )
    w = Window.partitionBy("vec_id").orderBy("dist2", "clabel")
    pred = (
        d2.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("true_label", F.col("clabel").alias("pred_label"))
    )
    return (
        pred.groupBy(
            F.col("true_label").cast("int").alias("true_label"),
            F.col("pred_label").cast("int").alias("pred_label"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
        .orderBy("true_label", "pred_label")
    )


# --------------------------------------------------------------------------
# q_knn_classify — k-NN majority-vote label for the probe vectors.
# --------------------------------------------------------------------------

_KNN_QUERY_IDS = (0, 1, 2)
_KNN_K = 5


@query(
    "q_knn_classify",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_emb, label AS true_label
  FROM embeddings
  WHERE vec_id IN ({", ".join(str(i) for i in _KNN_QUERY_IDS)})
),
scored AS (
  SELECT q.q_id, q.true_label, e.vec_id, e.label,
         {_sql_dot("q.q_emb", "e.embedding")}
           / ({_sql_norm("q.q_emb")} * {_sql_norm("e.embedding")}) AS cosine
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.q_id
),
nn AS (
  SELECT q_id, true_label, label FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY cosine DESC, vec_id ASC) AS rnk
    FROM scored
  ) WHERE rnk <= {_KNN_K}
),
votes AS (
  SELECT q_id, true_label, label, CAST(COUNT(*) AS BIGINT) AS n_votes
  FROM nn GROUP BY q_id, true_label, label
)
SELECT CAST(q_id AS BIGINT) AS q_id,
       CAST(true_label AS INTEGER) AS true_label,
       CAST(label AS INTEGER) AS pred_label,
       n_votes
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
             ORDER BY n_votes DESC, label ASC) AS rn
  FROM votes
) WHERE rn = 1
ORDER BY q_id
""",
    tags=("embeddings", "ml", "eval"),
)
def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification of the 3 probe vectors (q_sim_topk's query
    set): majority label among the 5 nearest cosine neighbors, ties to
    the smaller label — the local complement of q_centroid_classifier's
    global view (centroids test linear separability; k-NN tests whether
    the immediate NEIGHBORHOOD is label-pure, which is what semantic
    dedup and retrieval actually experience).

    Scale shape: the q_sim_topk plan — broadcast the 3-row query side
    over the corpus scan (no corpus shuffle), per-query top-k window,
    then vote over ≤ 3·5 rows. Cosine uses the shared fold helpers
    (identical index-order FP sequence in both engines); votes are exact
    integers with deterministic tie-breaks end-to-end.
    """
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id").isin(*_KNN_QUERY_IDS)).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("true_label"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "true_label",
            "vec_id",
            "label",
            (
                _dot(F.col("q_emb"), F.col("embedding"))
                / (_norm(F.col("q_emb")) * _norm(F.col("embedding")))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    nn = (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _KNN_K)
        .select("q_id", "true_label", "label")
    )
    votes = nn.groupBy("q_id", "true_label", "label").agg(
        F.count(F.lit(1)).cast("long").alias("n_votes")
    )
    wv = Window.partitionBy("q_id").orderBy(
        F.col("n_votes").desc(), F.col("label").asc()
    )
    return (
        votes.withColumn("rn", F.row_number().over(wv))
        .where(F.col("rn") == 1)
        .select(
            F.col("q_id").cast("long").alias("q_id"),
            F.col("true_label").cast("int").alias("true_label"),
            F.col("label").cast("int").alias("pred_label"),
            "n_votes",
        )
        .orderBy("q_id")
    )


# --------------------------------------------------------------------------
# q_label_cell_purity — label purity of the IVF coarse cells.
# --------------------------------------------------------------------------

_CELL_K = 8  # q_kmeans_assign's first-k deterministic seeding


@query(
    "q_label_cell_purity",
    oracle=f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS c_emb FROM embeddings
  ORDER BY vec_id LIMIT {_CELL_K}
),
d2 AS (
  SELECT e.vec_id, e.label, cents.cid,
         SUM(CAST((CAST(e.embedding[i] AS DOUBLE) - CAST(cents.c_emb[i] AS DOUBLE))
                  * (CAST(e.embedding[i] AS DOUBLE) - CAST(cents.c_emb[i] AS DOUBLE))
                  AS DECIMAL(38,10))) AS dist2
  FROM embeddings e CROSS JOIN cents CROSS JOIN range(1, {_DIM + 1}) r(i)
  GROUP BY e.vec_id, e.label, cents.cid
),
assign AS (
  SELECT vec_id, label, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY dist2, cid) AS rn
    FROM d2
  ) WHERE rn = 1
),
cell_label AS (
  SELECT cid, label, CAST(COUNT(*) AS BIGINT) AS n_lab
  FROM assign GROUP BY cid, label
),
cell AS (SELECT cid, CAST(SUM(n_lab) AS BIGINT) AS n FROM cell_label GROUP BY cid)
SELECT
  CAST(cl.cid AS BIGINT) AS cell_id,
  cell.n,
  CAST(cl.label AS INTEGER) AS majority_label,
  cl.n_lab AS n_majority,
  CAST(cl.n_lab AS DOUBLE) / CAST(cell.n AS DOUBLE) AS purity
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY cid
             ORDER BY n_lab DESC, label ASC) AS rn
  FROM cell_label
) cl JOIN cell ON cell.cid = cl.cid
WHERE cl.rn = 1
ORDER BY cell_id
""",
    tags=("embeddings", "ml", "eval"),
)
def q_label_cell_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label purity of the IVF coarse partition (q_kmeans_assign's
    deterministic first-{_CELL_K} seeding): per cell, the member count,
    majority label, and purity — the diagnostic that says whether the
    ANN index's cells respect semantics (pure cells mean an
    nprobe-limited search rarely crosses class boundaries; impure cells
    explain recall loss in q_sim_ivfpq_recall).

    Scale shape: the q_kmeans_assign scoring plan (posexplode →
    broadcast {_CELL_K}×{_DIM} centroid join → per-vec argmin window),
    then two cell-keyed tiny aggregates. Counts exact; purity is one
    IEEE division; all ties break on the smaller id/label.
    """
    e = spread_for_cpu(load(spark, sf_dir, "embeddings"))
    cents = e.orderBy("vec_id").limit(_CELL_K)
    dims = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("i", "xf")
    ).select(
        "vec_id", "label", "i", F.col("xf").cast("double").alias("x")
    )
    cdims = cents.select(
        F.col("vec_id").alias("cid"),
        F.posexplode("embedding").alias("i", "cf"),
    ).select("cid", "i", F.col("cf").cast("double").alias("c"))
    gap = F.col("x") - F.col("c")
    d2 = (
        dims.join(F.broadcast(cdims), "i")
        .groupBy("vec_id", "label", "cid")
        .agg(F.sum((gap * gap).cast(DEC)).alias("dist2"))
    )
    w = Window.partitionBy("vec_id").orderBy("dist2", "cid")
    assign = (
        d2.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "label", "cid")
    )
    cell_label = assign.groupBy("cid", "label").agg(
        F.count(F.lit(1)).cast("long").alias("n_lab")
    )
    cell = cell_label.groupBy("cid").agg(
        F.sum("n_lab").cast("long").alias("n")
    )
    wc = Window.partitionBy("cid").orderBy(
        F.col("n_lab").desc(), F.col("label").asc()
    )
    return (
        cell_label.withColumn("rn", F.row_number().over(wc))
        .where(F.col("rn") == 1)
        .join(cell, "cid")
        .select(
            F.col("cid").cast("long").alias("cell_id"),
            "n",
            F.col("label").cast("int").alias("majority_label"),
            F.col("n_lab").alias("n_majority"),
            (F.col("n_lab").cast("double") / F.col("n").cast("double")).alias(
                "purity"
            ),
        )
        .orderBy("cell_id")
    )
