"""Embedding similarity search (north-star mandate: brute-force top-k
baseline + LSH/IVF-style scale paths — SURVEY.md §2B).

Embeddings are ``array<float>`` (64-d). All math runs JVM-side with
higher-order functions — the dot product is a sequential double fold that
both Spark and DuckDB evaluate identically, so even similarity scores are
value-checked against the oracle (no tolerance needed).

Scale design:
- brute force = broadcast the (tiny) query set against the corpus: one
  scan, no shuffle, embarrassingly parallel — correct baseline at any
  corpus size as long as the query side is small;
- the LSH variant buckets vectors by random-hyperplane signs so candidate
  sets shrink ~2^bits-fold before exact scoring — the same
  signature-then-verify shape as MinHash dedup;
- the IVF-style variant pre-partitions by a coarse cell (label here), the
  layout a real 100 TB ANN index would persist bucketed/partitioned on disk.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from streaming_data_ingestion_spark import artifacts
from streaming_data_ingestion_spark.compat import dlit_array, dlit_matrix
from streaming_data_ingestion_spark.registry import query
from streaming_data_ingestion_spark.tables import load

_DIM = 64


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def _fold_sum(arr: Column) -> Column:
    """Sequential left fold in double — bit-identical to DuckDB list_reduce."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def _dot(a: Column, b: Column) -> Column:
    return _fold_sum(F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y))


def _norm(a: Column) -> Column:
    ad = _as_double(a)
    return F.sqrt(_fold_sum(F.zip_with(ad, ad, lambda x, y: x * y)))


def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, {_DIM + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (acc, x) -> acc + x)"
    )


def _sql_norm(a: str) -> str:
    return f"sqrt({_sql_dot(a, a)})"


def _unit_vectors(df: DataFrame) -> DataFrame:
    """(vec_id, label, uv): embeddings scaled to unit norm — ONE fold per
    vector, so quadratic candidate paths downstream pay a single dot
    product per pair instead of dot + two norms. Shared by
    q_sim_knn_graph and q_semdedup; the SQL twin is _SQL_UNIT."""
    nrm = df.select(
        "vec_id", "label", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    return nrm.select(
        "vec_id",
        "label",
        F.transform(
            _as_double(F.col("embedding")), lambda x: x / F.col("nrm")
        ).alias("uv"),
    )


def _sql_unit() -> str:
    """DuckDB CTE body mirroring _unit_vectors element-for-element."""
    return (
        f"SELECT vec_id, label, list_transform(range(1, {_DIM + 1}), "
        f"i -> CAST(embedding[i] AS DOUBLE) / {_sql_norm('embedding')}) AS uv "
        "FROM embeddings"
    )


def _sql_uv_dot() -> str:
    """Dot product of two unit vectors a.uv / b.uv (same fold order as
    _fold_sum(zip_with(...)))."""
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(range(1, {_DIM + 1}), i -> a.uv[i] * b.uv[i])), "
        "(acc, x) -> acc + x)"
    )


_QUERY_IDS = (0, 1, 2)
_SQL_QUERY_IDS = ", ".join(str(i) for i in _QUERY_IDS)


# --------------------------------------------------------------------------
# q_sim_topk — brute-force cosine top-k (the exact baseline).
# --------------------------------------------------------------------------


@query(
    "q_sim_topk",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
  WHERE vec_id IN ({_SQL_QUERY_IDS})
),
scored AS (
  SELECT
    q.q_id,
    e.vec_id,
    {_sql_dot("q.q_emb", "e.embedding")}
      / ({_sql_norm("q.q_emb")} * {_sql_norm("e.embedding")}) AS cosine
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.q_id
)
SELECT q_id, vec_id, cosine, CAST(rnk AS INTEGER) AS rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
             ORDER BY cosine DESC, vec_id ASC) AS rnk
  FROM scored
)
WHERE rnk <= 10
""",
    tags=("llm", "similarity"),
)
def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for 3 query vectors against the whole corpus.

    Plan: broadcast the 3-row query side → BroadcastNestedLoop over the
    corpus scan (no shuffle of the corpus), then a per-query top-k window.
    The corpus side streams; only 10×|queries| rows survive. Scales
    linearly with corpus size and parallelizes perfectly.
    """
    # norms hoisted to one fold per ROW (bit-identical to the oracle's
    # per-pair norm; same IEEE ops on the same values) so the broadcast
    # nested-loop pays one fold per pair, not three
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("n")
    )
    q = e.filter(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("n").alias("qn"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            (
                _dot(F.col("q_emb"), F.col("embedding"))
                / (F.col("qn") * F.col("n"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 10)


# --------------------------------------------------------------------------
# q_sim_ann_lsh — random-hyperplane LSH bucketing + within-bucket exact rank.
# --------------------------------------------------------------------------

_N_PLANES = 6


def _sql_plane_sign(j: int, i: str) -> str:
    # Deterministic pseudo-random ±1 from md5 parity — same text both engines.
    return (
        f"(CASE WHEN substring(md5('{j}_' || CAST({i} AS VARCHAR)), 1, 1) "
        f"IN ('8','9','a','b','c','d','e','f') THEN 1.0 ELSE -1.0 END)"
    )


def _sql_bucket(emb: str) -> str:
    bits = []
    for j in range(_N_PLANES):
        dot = (
            f"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, {_DIM + 1}), "
            f"i -> CAST({emb}[i] AS DOUBLE) * {_sql_plane_sign(j, 'i')})), "
            f"(acc, x) -> acc + x)"
        )
        bits.append(f"(CASE WHEN {dot} >= 0 THEN '1' ELSE '0' END)")
    return " || ".join(bits)


def _plane_vec(j: int) -> list[float]:
    """Plane j's ±1 signs, precomputed at plan-build time.

    Same md5-parity rule the oracle SQL evaluates per row — but the
    planes are constants, so Spark gets them as literal arrays and the
    per-row work is one zip_with product per plane instead of 64 md5
    calls per plane per row (measured ~2× on the whole query)."""
    import hashlib

    return [
        1.0
        if int(hashlib.md5(f"{j}_{i}".encode()).hexdigest()[0], 16) >= 8
        else -1.0
        for i in range(1, _DIM + 1)
    ]


def _bucket(emb: Column) -> Column:
    ad = _as_double(emb)
    bits = []
    for j in range(_N_PLANES):
        # Plane literals are cached per application (no data snapshot):
        # building one walks py4j once per element, ~1.6 s of EVERY
        # builder invocation at sf0.1, while its VALUES are pure
        # functions of the md5-parity rule, so reuse changes no result.
        plane = artifacts.cached(
            f"plane_lit_{j}", None, lambda j=j: dlit_array(_plane_vec(j))
        )
        dot = _fold_sum(F.zip_with(ad, plane, lambda x, y: x * y))
        bits.append(F.when(dot >= 0, "1").otherwise("0"))
    return F.concat(*bits)


@query(
    "q_sim_ann_lsh",
    oracle=f"""
WITH bucketed AS (
  SELECT vec_id, embedding, {_sql_bucket("embedding")} AS bucket
  FROM embeddings
),
q AS (
  SELECT vec_id AS q_id, embedding AS q_emb, bucket AS q_bucket
  FROM bucketed WHERE vec_id IN ({_SQL_QUERY_IDS})
),
scored AS (
  SELECT
    q.q_id,
    e.vec_id,
    e.bucket,
    {_sql_dot("q.q_emb", "e.embedding")}
      / ({_sql_norm("q.q_emb")} * {_sql_norm("e.embedding")}) AS cosine
  FROM bucketed e
  JOIN q ON e.bucket = q.q_bucket AND e.vec_id <> q.q_id
)
SELECT q_id, vec_id, bucket, cosine, CAST(rnk AS INTEGER) AS rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
             ORDER BY cosine DESC, vec_id ASC) AS rnk
  FROM scored
)
WHERE rnk <= 5
""",
    tags=("llm", "similarity", "lsh"),
)
def q_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN: 6-bit random-hyperplane bucket signature, exact
    cosine rank *within the query's bucket only*.

    Hyperplane signs come from md5 parity, so both engines derive the
    identical planes with no RNG. The bucket equi-join replaces the cross
    join — candidates shrink ~64× (2^6). At 100 TB the corpus would be
    written partitioned by bucket so a query touches one partition.
    """
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        _bucket(F.col("embedding")).alias("bucket"),
        _norm(F.col("embedding")).alias("n"),
    )
    q = e.filter(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("bucket").alias("q_bucket"),
        F.col("n").alias("qn"),
    )
    scored = (
        e.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("q_bucket"))
            & (F.col("vec_id") != F.col("q_id")),
        )
        .select(
            "q_id",
            "vec_id",
            "bucket",
            (
                _dot(F.col("q_emb"), F.col("embedding"))
                / (F.col("qn") * F.col("n"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 5)


# --------------------------------------------------------------------------
# q_sim_ivf — inverted-file (IVF) ANN: coarse quantize, probe nprobe cells.
# --------------------------------------------------------------------------

_IVF_K = 8  # coarse centroids
_IVF_NPROBE = 2  # cells probed per query
_IVF_QUERY_IDS = (11, 23, 47)
_SQL_IVF_QUERY_IDS = ", ".join(str(i) for i in _IVF_QUERY_IDS)


def _cos(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _sql_cos(a: str, b: str) -> str:
    return f"{_sql_dot(a, b)} / ({_sql_norm(a)} * {_sql_norm(b)})"


@query(
    "q_sim_ivf",
    oracle=f"""
WITH c AS (
  SELECT vec_id AS centroid_id, embedding AS c_emb
  FROM embeddings WHERE vec_id < {_IVF_K}
),
scored AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         {_sql_cos("e.embedding", "c.c_emb")} AS sim
  FROM embeddings e CROSS JOIN c
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
            ORDER BY sim DESC, centroid_id ASC) AS crn
  FROM scored
),
assign AS (
  SELECT vec_id, embedding, centroid_id AS cell FROM ranked WHERE crn = 1
),
probes AS (
  SELECT vec_id AS q_id, embedding AS q_emb, centroid_id AS cell
  FROM ranked
  WHERE vec_id IN ({_SQL_IVF_QUERY_IDS}) AND crn <= {_IVF_NPROBE}
),
cand AS (
  SELECT p.q_id, a.vec_id, a.cell,
         {_sql_cos("p.q_emb", "a.embedding")} AS cosine
  FROM probes p JOIN assign a ON p.cell = a.cell AND a.vec_id <> p.q_id
)
SELECT q_id, vec_id, cell, cosine, CAST(rnk AS INTEGER) AS rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY cosine DESC, vec_id ASC) AS rnk
  FROM cand
)
WHERE rnk <= 5
""",
    tags=("llm", "similarity", "ivf"),
)
def q_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus to its nearest of K
    deterministic centroids, then answer each query by exact cosine rank
    over only the nprobe=2 nearest cells.

    The coarse centroids here are the first K corpus vectors (a real
    index would k-means them — the plan shape is identical): assignment
    is a broadcast of K rows against the corpus scan, a map-side argmax
    with no corpus shuffle. Probing joins the (3 queries × 2 cells)
    probe list against the assignment on the cell id — a broadcast hash
    join that touches only the probed cells' vectors, Σ nprobe/K of the
    corpus in expectation. At 100 TB the assignment is written once,
    partitioned by cell, so the probe join becomes partition pruning.
    """
    e = load(spark, sf_dir, "embeddings")
    c = e.filter(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_emb")
    )
    scored = e.crossJoin(F.broadcast(c)).select(
        "vec_id",
        "embedding",
        "centroid_id",
        _cos(F.col("embedding"), F.col("c_emb")).alias("sim"),
    )
    # Corpus→cell assignment is an argmax, not a ranking: max_by over a
    # (sim, -centroid) ordering struct partial-aggregates map-side, so the
    # shuffle carries one row per vector per partition instead of the full
    # K-fanned score stream a row_number window would sort. The nprobe>1
    # ranking only ever applies to the (tiny) query side, so the window
    # runs on |queries|×K rows.
    best = F.max_by(
        F.struct(F.col("centroid_id"), F.col("embedding")),
        F.struct(F.col("sim"), (-F.col("centroid_id")).alias("tie")),
    ).alias("best")
    assign = (
        scored.groupBy("vec_id")
        .agg(best)
        .select(
            "vec_id",
            F.col("best.embedding").alias("embedding"),
            F.col("best.centroid_id").alias("cell"),
        )
    )
    cw = Window.partitionBy("vec_id").orderBy(
        F.col("sim").desc(), F.col("centroid_id").asc()
    )
    probes = (
        scored.filter(F.col("vec_id").isin(*_IVF_QUERY_IDS))
        .withColumn("crn", F.row_number().over(cw))
        .filter(F.col("crn") <= _IVF_NPROBE)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
            F.col("centroid_id").alias("cell"),
        )
    )
    cand = (
        assign.join(
            F.broadcast(probes),
            (assign["cell"] == probes["cell"])
            & (assign["vec_id"] != probes["q_id"]),
        )
        .select(
            "q_id",
            assign["vec_id"],
            assign["cell"],
            _cos(F.col("q_emb"), assign["embedding"]).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return cand.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 5
    )


# --------------------------------------------------------------------------
# q_emb_neardup — embedding-cosine near-duplicate pairs within IVF cells.
# --------------------------------------------------------------------------


@query(
    "q_emb_neardup",
    oracle=f"""
SELECT
  a.vec_id AS vec_a,
  b.vec_id AS vec_b,
  {_sql_dot("a.embedding", "b.embedding")}
    / ({_sql_norm("a.embedding")} * {_sql_norm("b.embedding")}) AS cosine
FROM embeddings a
JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {_sql_dot("a.embedding", "b.embedding")}
    / ({_sql_norm("a.embedding")} * {_sql_norm("b.embedding")}) >= 0.35
""",
    tags=("llm", "similarity", "dedup"),
)
def q_emb_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: exact cosine ≥ 0.35 within each label
    cell (the IVF coarse partition).

    The equi-join on label keeps this a hash join — pair count is
    Σ_cell n_cell², not n². In production the cells come from a coarse
    quantizer (k-means); here the fixture's label column plays that role.

    Each vector's norm is computed ONCE per row (a projection below the
    join) instead of per pair — bit-identical to the oracle's
    dot/(norm·norm) (same IEEE ops on the same values), but the
    quadratic stage pays one 64-wide fold per pair instead of three
    (sweep-measured 8.9 s → ~3 s at sf0.1).
    """
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        "embedding",
        _norm(F.col("embedding")).alias("n"),
    )
    a = e.alias("a")
    b = e.alias("b")
    cos = _dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.n") * F.col("b.n")
    )
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.35)
    )


# --------------------------------------------------------------------------
# q_emb_neardup_lsh — embedding near-dup via BANDED hyperplane LSH: the
# bounded-candidate production path for the near-dup problem q_emb_neardup
# solves with fixture label cells.
# --------------------------------------------------------------------------

_NDL_ROWS = 10  # hyperplanes per band (bucket width = 2^10)
_NDL_BANDS = 4  # bands (a pair is a candidate if ANY band collides)
_NDL_THRESHOLD = 0.35  # same verify bound as q_emb_neardup


def _sql_planes_cte(rows: int = _NDL_ROWS, bands: int = _NDL_BANDS) -> str:
    """All bands' planes as VALUES rows (j, p DOUBLE[]) — the same
    md5-parity signs _plane_vec computes, embedded as plan-time
    constants. Rows (not per-element literals) so the oracle pays ONE
    sequential fold per (vector, plane), the exact work the Spark side
    does; an earlier literal-indexing formulation rebuilt the 64-float
    list per element and was ~40× slower."""
    vals = ", ".join(
        "({}, [{}]::DOUBLE[])".format(
            j, ", ".join("1.0" if v > 0 else "-1.0" for v in _plane_vec(j))
        )
        for j in range(rows * bands)
    )
    return f"SELECT * FROM (VALUES {vals}) AS t(j, p)"


def emb_neardup_lsh(
    spark: SparkSession,
    sf_dir: str,
    rows_per_band: int = _NDL_ROWS,
    bands: int = _NDL_BANDS,
    threshold: float = _NDL_THRESHOLD,
) -> DataFrame:
    """Parameterized builder — the registered binding fixes (10, 4, 0.35);
    scale runs pick rows_per_band ≈ log2(n) + const so bucket population
    stays bounded as the corpus grows (see docs/BENCH_NOTES.md)."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        _norm(F.col("embedding")).alias("n"),
    )
    ad = _as_double(F.col("embedding"))
    # Each band's bucket is ONE nested-HOF expression: transform over the
    # band's array-of-planes literal marks bit j_in with weight 2^j_in when
    # the sequential-fold dot (the house exactness idiom) is >= 0, then an
    # integer aggregate sums the weights. Two earlier shapes lost: ~600
    # chained when/add Column ops paid ~3 s of py4j round-trips per plan
    # build, and a single all-bands transform re-evaluated every dot once
    # per band slice (4x the fold work per row). This form is ~50 driver
    # calls and exactly rows_per_band*bands folds per row.
    band_cols = []
    for l in range(bands):
        planes_l = artifacts.cached(
            f"band_planes_lit_{rows_per_band}_{l}",
            None,
            lambda l=l: dlit_matrix(
                _plane_vec(l * rows_per_band + j)
                for j in range(rows_per_band)
            ),
        )
        weighted = F.transform(
            planes_l,
            lambda p, i: F.when(
                _fold_sum(F.zip_with(ad, p, lambda x, y: x * y)) >= 0,
                # 2^i: double pow is exact to 2^52, cast back to long
                F.pow(F.lit(2.0), i.cast("double")).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        )
        band_cols.append(
            F.aggregate(
                weighted, F.lit(0).cast("long"), lambda acc, x: acc + x
            )
        )
    # Persisted: the signature table feeds BOTH sides of the
    # candidate self-join, and Spark plans a self-join as two full
    # subtrees — without the (lazy) persist every vector pays its
    # rows_per_band*bands folds twice. The cached frame is 3 numeric
    # cols x bands rows per vector; at production scale this is the
    # signatures table a pipeline would materialize once anyway.
    banded = artifacts.cached(
        "emb_neardup_lsh_banded",
        sf_dir,
        lambda: e.select(
            "vec_id",
            F.posexplode(F.array(*band_cols)).alias("band", "bucket"),
        ),
        params=(rows_per_band, bands),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .distinct()
    )
    ea = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("n").alias("n_a"),
    )
    eb = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("n").alias("n_b"),
    )
    cos = _dot(F.col("emb_a"), F.col("emb_b")) / (F.col("n_a") * F.col("n_b"))
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def _ndl_oracle(
    rows: int = _NDL_ROWS,
    bands: int = _NDL_BANDS,
    threshold: float = _NDL_THRESHOLD,
) -> str:
    """Oracle template for emb_neardup_lsh — shared by both registered
    bindings so a constant accidentally folded into one binding's SQL
    cannot hash-match the other."""
    return f"""
WITH planes AS (
  {_sql_planes_cte(rows, bands)}
),
dots AS (
  SELECT e.vec_id, pl.j // {rows} AS band, pl.j % {rows} AS j_in,
         list_reduce(list_prepend(0.0::DOUBLE,
           list_transform(range(1, {_DIM + 1}),
             i -> CAST(e.embedding[i] AS DOUBLE) * pl.p[i])),
           (acc, x) -> acc + x) AS d
  FROM embeddings e CROSS JOIN planes pl
),
banded AS (
  SELECT vec_id, band,
         SUM(CASE WHEN d >= 0 THEN (1::BIGINT << j_in) ELSE 0 END) AS bucket
  FROM dots GROUP BY vec_id, band
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
              AND a.vec_id < b.vec_id
)
SELECT c.vec_a, c.vec_b,
       {_sql_dot("a.embedding", "b.embedding")}
         / ({_sql_norm("a.embedding")} * {_sql_norm("b.embedding")}) AS cosine
FROM cand c
JOIN embeddings a ON a.vec_id = c.vec_a
JOIN embeddings b ON b.vec_id = c.vec_b
WHERE {_sql_dot("a.embedding", "b.embedding")}
    / ({_sql_norm("a.embedding")} * {_sql_norm("b.embedding")}) >= CAST('{threshold!r}' AS DOUBLE)
"""


@query(
    "q_emb_neardup_lsh",
    oracle=_ndl_oracle(),
    tags=("llm", "similarity", "dedup", "lsh"),
)
def q_emb_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs with BANDED hyperplane-LSH candidates:
    a pair is scored only if all 10 sign bits of SOME band agree; exact
    cosine ≥ 0.35 verifies survivors.

    This is the production scale path that q_emb_neardup's label cells
    can't give (its cells are the fixture's 10 fixed labels, so pairs
    grow quadratically — the 124.8× sf1 decomposition pinned in
    docs/BENCH_NOTES.md). Here candidate population per band bucket is
    controlled by the band WIDTH: hold rows_per_band ≈ log2(n) + c and
    Σ n_bucket² stays O(n) as the corpus decade-steps — the same
    signature-then-verify shape as the MinHash dedup family, applied to
    the embedding column. Candidates are (id, id) pairs only; vectors
    are re-fetched by two hash joins for the verify stage, so the
    quadratic-width arrays never ride through the candidate shuffle.

    Both engines derive identical planes (md5 parity, embedded as
    plan-time literal arrays on BOTH sides) and fold dots sequentially
    in double, so the sign bits, the bucket integers, and the verify
    cosines are all bit-stable cross-engine.
    """
    return emb_neardup_lsh(spark, sf_dir)


_NDL_B2_ROWS = 6
_NDL_B2_BANDS = 2
_NDL_B2_THRESHOLD = 0.40


@query(
    "q_emb_neardup_lsh_b2",
    oracle=_ndl_oracle(_NDL_B2_ROWS, _NDL_B2_BANDS, _NDL_B2_THRESHOLD),
    tags=("llm", "similarity", "dedup", "lsh"),
)
def q_emb_neardup_lsh_b2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SECOND hash-certified binding of emb_neardup_lsh: 2 bands × 6
    sign bits at a 0.40 verify cut, through the SAME builder and oracle
    template as `q_emb_neardup_lsh` (4×10 @ 0.35) — the house pattern
    for parameterized entries: a width, band count, or threshold
    accidentally folded into one binding's plan cannot hash-match both.
    The narrow bands also exercise the high-recall/low-precision end of
    the lever (denser buckets, more candidates per vector), the setting
    a curator would run on a small high-value corpus.
    """
    return emb_neardup_lsh(
        spark,
        sf_dir,
        rows_per_band=_NDL_B2_ROWS,
        bands=_NDL_B2_BANDS,
        threshold=_NDL_B2_THRESHOLD,
    )


# --------------------------------------------------------------------------
# q_emb_neardup_lsh_auto — the SCALE-ADAPTIVE production binding: band
# width derived from corpus size, so bucket population (and therefore
# candidate count) stays bounded as the corpus decade-steps. This is the
# productization of scripts/neardup_policy_probe.py's measured result
# (docs/BENCH_NOTES.md policy table): the FIXED 10-bit binding rode
# 85.7x wall on 10x data (BENCH_SWEEP_sf10.json) because Σ n_bucket²
# grows quadratically under static width; log2-scaled width held wall
# at ~3.2x per decade at the 51% genuine-pair-density floor.
# --------------------------------------------------------------------------

_NDL_AUTO_MIN = 6  # floor: below 2^6 buckets the verify stage dominates anyway
_NDL_AUTO_MAX = 24  # cap: 2^24 buckets ≈ 16M; beyond this add BANDS, not bits
_NDL_AUTO_OFFSET = -1  # width = ceil(log2 n) - 1 → E[bucket size] ≈ 2


def _auto_rows(n: int) -> int:
    """Width policy, INTEGER-exact on both engines: rows_per_band =
    clamp(ceil(log2 n) + offset, 6, 24), with ceil(log2 n) computed as
    (n-1).bit_length() — pure integer compares, so no engine's log2()
    rounding near an exact power of two can flip the width. At the
    fixtures: n=500 → 8, n=2000 (sf0.1) → 10 (the fixed binding's tuning
    point), n=20000 (sf1) → 14 (the probe's recommended width),
    n=200000 (sf10) → 17."""
    base = max(int(n) - 1, 1).bit_length()
    return min(_NDL_AUTO_MAX, max(_NDL_AUTO_MIN, base + _NDL_AUTO_OFFSET))


def _sql_auto_rows_case() -> str:
    """The same clamped policy as a DuckDB CASE ladder over integer
    thresholds (rows = w exactly when 2^w < n <= 2^(w+1)) — the oracle
    derives the width from COUNT(*) with the identical integer
    arithmetic, never a floating log2."""
    terms = " ".join(
        f"WHEN n <= {1 << (w - _NDL_AUTO_OFFSET)} THEN {w}"
        for w in range(_NDL_AUTO_MIN, _NDL_AUTO_MAX)
    )
    return f"CASE {terms} ELSE {_NDL_AUTO_MAX} END"


def _corpus_count(spark: SparkSession, sf_dir: str) -> int:
    """One scalar per (application, corpus snapshot): the corpus row
    count the width policy needs. Bounded by construction (a COUNT(*)
    aggregate returns one row; parquet footers make it metadata-cheap);
    cached so sweeps and repeated builds pay it once. The cache keys on
    the fixture files' mtimes (artifacts.snapshot), so an in-process
    fixture rebuild or append re-derives the width instead of serving a
    stale count — Spark's width and the oracle's live COUNT(*) ladder
    cannot diverge. On a cache miss the STATS CATALOG is consulted
    first (r13, VERDICT r11 item 6 / r12 item 8): a deployment that
    registers the corpus table and runs
    stats_catalog.analyze_with_snapshot after each load / stream commit
    serves the count from catalog metadata with NO inline COUNT(*) job
    — and because the catalog answer is only trusted when its stats are
    stamped for the file's CURRENT mtime (the same snapshot stamp as
    this cache), the staleness guarantee is unchanged: both paths are
    snapshot-exact, so a stale ANALYZE falls back to the inline count
    instead of diverging from the oracle's ladder."""

    def _count() -> int:
        from streaming_data_ingestion_spark.stats_catalog import (
            row_count_for_path,
        )

        n = row_count_for_path(spark, f"{sf_dir}/embeddings.parquet")
        if n is None:
            n = load(spark, sf_dir, "embeddings").count()
        return n

    return artifacts.cached("ndl_corpus_count", sf_dir, _count)


def emb_neardup_lsh_auto(
    spark: SparkSession,
    sf_dir: str,
    bands: int = _NDL_BANDS,
    threshold: float = _NDL_THRESHOLD,
) -> DataFrame:
    """Auto-width entry point: derive rows_per_band from the corpus size
    and delegate to the parameterized builder. Callers never hand-pass a
    width, so a 100 TB run cannot accidentally ship the 2k-vector
    setting."""
    n = _corpus_count(spark, sf_dir)
    return emb_neardup_lsh(
        spark,
        sf_dir,
        rows_per_band=_auto_rows(n),
        bands=bands,
        threshold=threshold,
    )


def _ndl_auto_oracle(
    bands: int = _NDL_BANDS, threshold: float = _NDL_THRESHOLD
) -> str:
    """Dynamic-width oracle: planes are embedded for the MAX width the
    clamp allows and filtered to j < rows*bands at run time, with rows
    derived from COUNT(*) by the same integer CASE ladder the Spark side
    computes in Python — so both engines see identical planes, buckets,
    and verify cosines at EVERY corpus size."""
    return f"""
WITH w AS (
  SELECT {_sql_auto_rows_case()} AS rpb
  FROM (SELECT COUNT(*) AS n FROM embeddings)
),
planes AS (
  {_sql_planes_cte(_NDL_AUTO_MAX, bands)}
),
dots AS (
  SELECT e.vec_id, pl.j // w.rpb AS band, pl.j % w.rpb AS j_in,
         list_reduce(list_prepend(0.0::DOUBLE,
           list_transform(range(1, {_DIM + 1}),
             i -> CAST(e.embedding[i] AS DOUBLE) * pl.p[i])),
           (acc, x) -> acc + x) AS d
  FROM embeddings e CROSS JOIN planes pl CROSS JOIN w
  WHERE pl.j < w.rpb * {bands}
),
banded AS (
  SELECT vec_id, band,
         SUM(CASE WHEN d >= 0 THEN (1::BIGINT << j_in) ELSE 0 END) AS bucket
  FROM dots GROUP BY vec_id, band
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
              AND a.vec_id < b.vec_id
)
SELECT c.vec_a, c.vec_b,
       {_sql_dot("a.embedding", "b.embedding")}
         / ({_sql_norm("a.embedding")} * {_sql_norm("b.embedding")}) AS cosine
FROM cand c
JOIN embeddings a ON a.vec_id = c.vec_a
JOIN embeddings b ON b.vec_id = c.vec_b
WHERE {_sql_dot("a.embedding", "b.embedding")}
    / ({_sql_norm("a.embedding")} * {_sql_norm("b.embedding")}) >= CAST('{threshold!r}' AS DOUBLE)
"""


@query(
    "q_emb_neardup_lsh_auto",
    oracle=_ndl_auto_oracle(),
    tags=("llm", "similarity", "dedup", "lsh"),
)
def q_emb_neardup_lsh_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup with the SCALE-ADAPTIVE band width: same
    banded hyperplane-LSH candidates + exact cosine ≥ 0.35 verify as
    `q_emb_neardup_lsh`, but rows_per_band is DERIVED from the corpus
    size (clamp(ceil(log2 n) - 1, 6, 24)) instead of fixed at 10.

    Why this binding exists: fixed sketch parameters are functions of
    nothing, but their cost is a function of n. The registered 10-bit
    binding measured 85.7x wall on the sf1→sf10 decade because bucket
    population — and hence Σ n_bucket² candidates — grows with the
    corpus under a static width (docs/BENCH_SWEEP_sf10.json,
    docs/BENCH_NOTES.md). Holding E[bucket size] ~constant by adding
    one sign bit per doubling keeps candidates ~linear in n; the probe
    measured 3.2x wall per decade at the policy width. This key
    hash-certifies the POLICY itself: at the driver's sf0.01 fixture
    (n=500) the derived width is 8 — a plan no fixed-width binding
    builds — and at sf1 (n=20000) it is 14, the probe's recommended
    production setting.

    Cross-engine width agreement is integer-exact: Spark computes
    (n-1).bit_length() in Python from a cached 1-scalar COUNT (the
    bounded-collect contract; production reads the stats catalog), the
    oracle the identical CASE ladder over COUNT(*) — no floating log2
    on either side. Planes are embedded for the 24-bit clamp maximum
    and sliced to the derived width at run time, so both engines fold
    exactly rows_per_band x bands dots per vector.
    """
    return emb_neardup_lsh_auto(spark, sf_dir)


# --------------------------------------------------------------------------
# q_sim_range — radius (threshold) search: everything within a cosine bound
# of each query vector, the set-retrieval twin of top-k.
# --------------------------------------------------------------------------

_RADIUS = 0.25


@query(
    "q_sim_range",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
  WHERE vec_id IN ({_SQL_QUERY_IDS})
)
SELECT q.q_id, e.vec_id,
       {_sql_dot("q.q_emb", "e.embedding")}
         / ({_sql_norm("q.q_emb")} * {_sql_norm("e.embedding")}) AS cosine
FROM embeddings e CROSS JOIN q
WHERE e.vec_id <> q.q_id
  AND {_sql_dot("q.q_emb", "e.embedding")}
        / ({_sql_norm("q.q_emb")} * {_sql_norm("e.embedding")}) >= {_RADIUS}
""",
    tags=("llm", "similarity"),
)
def q_sim_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All corpus vectors within cosine ≥ 0.25 of each query vector.

    Same broadcast-the-queries plan as q_sim_topk but with a predicate
    instead of a window: no rank state, so the corpus scan emits matches
    immediately and the result size is data-dependent — the retrieval
    mode used for "collect everything similar enough" dataset curation.
    The cosine is the same sequential double fold both engines evaluate
    identically, so the threshold cut is bit-stable.
    """
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("n")
    )
    q = e.filter(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("n").alias("qn"),
    )
    cosine = _dot(F.col("q_emb"), F.col("embedding")) / (
        F.col("qn") * F.col("n")
    )
    return (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", cosine.alias("cosine"))
        .filter(F.col("cosine") >= _RADIUS)
    )


# --------------------------------------------------------------------------
# q_emb_centroid — per-label centroid of the embedding column.
# --------------------------------------------------------------------------


@query(
    "q_emb_centroid",
    oracle=f"""
SELECT
  label,
  CAST(i AS INTEGER) AS dim,
  CAST(CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e10) AS BIGINT))
       AS BIGINT) AS DOUBLE) / 1e10 / COUNT(*) AS centroid,
  CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM embeddings CROSS JOIN range(1, {_DIM + 1}) r(i)
GROUP BY label, i
""",
    tags=("llm", "similarity"),
)
def q_emb_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, long format: one row per
    (label, dimension) with the mean component at fixed 1e-10 precision.

    This is the aggregate half of a k-means/IVF trainer (q_sim_ivf
    consumes exactly such centroids) and the standard per-cluster
    diagnostic for embedding drift. posexplode multiplies rows by the
    (fixed, small) dimensionality *after* column pruning to just
    (label, embedding); the groupBy partial-aggregates map-side to
    |labels| x 64 rows, so the shuffle is centroid-sized regardless of
    corpus size.

    Determinism: components are quantized with ``floor(val * 1e10)``
    into exact BIGINT sums. floor has no rounding-tie rule, unlike a
    double->decimal cast, where a float32 component that is an odd
    multiple of 2^-11 lands exactly on a scale-10 tie and Spark
    (HALF_UP) and DuckDB disagree — observed on this very corpus. The
    final value is integer-sum -> two IEEE divisions, bit-identical
    cross-engine.
    """
    e = load(spark, sf_dir, "embeddings")
    q = F.floor(F.col("val").cast("double") * F.lit(1e10))
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", (F.col("pos") + 1).cast("int").alias("dim"))
        .agg(
            (F.sum(q).cast("double") / F.lit(1e10) / F.count(F.lit(1))).alias(
                "centroid"
            ),
            F.count(F.lit(1)).alias("n_vecs"),
        )
    )


# --------------------------------------------------------------------------
# q_sim_recall — ANN quality: recall@5 of the LSH index vs brute force.
# --------------------------------------------------------------------------

from streaming_data_ingestion_spark.registry import REGISTRY as _REG  # noqa: E402

# Compose the two already-registered oracles verbatim: the truth set is
# the brute-force top-5, the candidate set is the LSH top-5.
_RECALL_ORACLE = f"""
WITH truth AS (
  SELECT q_id, vec_id FROM ({_REG["q_sim_topk"].oracle}) WHERE rnk <= 5
),
ann AS (
  SELECT q_id, vec_id FROM ({_REG["q_sim_ann_lsh"].oracle})
),
an AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_ann FROM ann GROUP BY 1),
ht AS (
  SELECT t.q_id, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM truth t JOIN ann a ON t.q_id = a.q_id AND t.vec_id = a.vec_id
  GROUP BY 1
)
SELECT
  q.q_id,
  COALESCE(n_ann, 0) AS n_ann,
  COALESCE(n_hits, 0) AS n_hits,
  COALESCE(n_hits, 0) / 5.0 AS recall_at_5
FROM (SELECT DISTINCT q_id FROM truth) q
LEFT JOIN an USING (q_id)
LEFT JOIN ht USING (q_id)
"""


@query("q_sim_recall", oracle=_RECALL_ORACLE, tags=("llm", "similarity", "lsh"))
def q_sim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the LSH ANN index against the brute-force truth, per
    query vector — the self-evaluation loop an ANN deployment runs on a
    sampled query set to decide bucket bits / probe counts (the
    similarity twin of q_minhash_jaccard's estimate-vs-truth).

    Both sides are the engine's own registered queries, so this measures
    the real operators, not a reimplementation. Candidate membership is
    deterministic cross-engine because the underlying cosines are
    bit-exact sequential folds; recall is one integer count over the
    tiny (3×5-row) result sets.
    """
    truth = (
        q_sim_topk(spark, sf_dir).filter(F.col("rnk") <= 5).select("q_id", "vec_id")
    )
    ann = q_sim_ann_lsh(spark, sf_dir).select("q_id", "vec_id")
    an = ann.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_ann"))
    ht = (
        truth.join(ann, ["q_id", "vec_id"])
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    zero = F.lit(0).cast("long")
    return (
        truth.select("q_id")
        .distinct()
        .join(an, "q_id", "left")
        .join(ht, "q_id", "left")
        .select(
            "q_id",
            F.coalesce(F.col("n_ann"), zero).alias("n_ann"),
            F.coalesce(F.col("n_hits"), zero).alias("n_hits"),
            (F.coalesce(F.col("n_hits"), zero) / 5.0).alias("recall_at_5"),
        )
    )


# --------------------------------------------------------------------------
# q_emb_outlier — distance of each document from its source's centroid.
# --------------------------------------------------------------------------


@query(
    "q_emb_outlier",
    oracle=f"""
WITH j AS (
  SELECT d.doc_id, d.source, e.embedding
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
),
cd AS (
  SELECT source, i,
    CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e10) AS BIGINT))
         AS BIGINT) AS qsum,
    CAST(COUNT(*) AS BIGINT) AS n
  FROM j CROSS JOIN range(1, {_DIM + 1}) r(i)
  GROUP BY source, i
),
cent AS (
  SELECT source,
         list(CAST(qsum AS DOUBLE) / 1e10 / n ORDER BY i) AS centroid
  FROM cd GROUP BY source
)
SELECT
  j.doc_id,
  j.source,
  {_sql_dot("j.embedding", "cent.centroid")}
    / ({_sql_norm("j.embedding")} * sqrt(list_reduce(list_prepend(0.0::DOUBLE,
        list_transform(range(1, {_DIM + 1}),
                       i -> cent.centroid[i] * cent.centroid[i])),
        (acc, x) -> acc + x))) AS cos_to_centroid
FROM j JOIN cent ON j.source = cent.source
""",
    tags=("llm", "similarity"),
)
def q_emb_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier score: each document's cosine to its own
    source's centroid — the curation signal that prunes mislabeled or
    off-distribution documents before training (low cosine = outlier).

    Cross-modality join (documents ⋈ embeddings on id), then the
    emb_centroid machinery keyed by source with the per-dim means
    re-assembled into centroid arrays (sort_array over (dim, value)
    structs — deterministic order), broadcast back, and one sequential
    cosine fold per document. Component means are floor-quantized exact
    BIGINT sums and every later op is IEEE-correctly-rounded, so the
    scores hash bit-exact unrounded. Scale: the centroid table is
    |sources| rows; the corpus streams through one join + one fold.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    e = load(spark, sf_dir, "embeddings")
    j = d.join(e, d.doc_id == e.vec_id).select("doc_id", "source", "embedding")
    q = F.floor(F.col("val").cast("double") * F.lit(1e10))
    cd = (
        j.select("source", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("source", "pos")
        .agg(
            (F.sum(q).cast("double") / F.lit(1e10) / F.count(F.lit(1))).alias(
                "mean"
            )
        )
    )
    cent = cd.groupBy("source").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("mean")))
            ),
            lambda s: s["mean"],
        ).alias("centroid")
    )
    cent_norm = F.sqrt(
        _fold_sum(
            F.zip_with(
                F.col("centroid"), F.col("centroid"), lambda x, y: x * y
            )
        )
    )
    return (
        j.join(F.broadcast(cent), "source")
        .select(
            "doc_id",
            "source",
            (
                _dot(F.col("embedding"), F.col("centroid"))
                / (_norm(F.col("embedding")) * cent_norm)
            ).alias("cos_to_centroid"),
        )
    )


# --------------------------------------------------------------------------
# q_emb_quantize — int8 scalar quantization of the embedding column: the
# 4× storage/bandwidth compression step an ANN index applies before
# persisting vectors at scale.
# --------------------------------------------------------------------------


@query(
    "q_emb_quantize",
    oracle=f"""
WITH s AS (
  SELECT vec_id, embedding,
         greatest(
           list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
           1e-12
         ) AS scale
  FROM embeddings
)
SELECT
  vec_id,
  scale,
  array_to_string(list_transform(
    embedding,
    x -> CAST(floor(CAST(x AS DOUBLE) / scale * 127.0) AS INTEGER)
  ), ',') AS q8,
  CAST(floor(CAST(embedding[1] AS DOUBLE) / scale * 127.0) AS INTEGER)
    * scale / 127.0 AS dequant_first
FROM s
""",
    tags=("llm", "similarity"),
)
def q_emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar quantization: scale = max(|x_i|), each
    component mapped to floor(x/scale·127) ∈ [-127, 127], plus the
    dequantized first component as a round-trip witness. The q8 array is
    serialized with array_join (≡ DuckDB array_to_string) like
    q_agg_collect so the driver's pandas canonicalizer — which cannot
    sort/hash list-typed cells — covers it cell-by-cell.

    Zero shuffles — one narrow map over the corpus (the per-vector max
    is a row-side array fold, never an aggregate). floor() is used for
    the integer mapping because both engines floor identically, whereas
    round-half cases can differ; the scale guard (1e-12) keeps
    zero-vectors finite. At 100 TB this runs at scan speed and cuts
    vector storage 4× before the bucketed/partitioned ANN layout is
    written.
    """
    e = load(spark, sf_dir, "embeddings")
    scale = F.greatest(
        F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double")))),
        F.lit(1e-12),
    )
    with_scale = e.select("vec_id", "embedding", scale.alias("scale"))
    q8 = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") / F.col("scale") * 127.0).cast("int"),
    )
    return with_scale.select(
        "vec_id",
        "scale",
        F.array_join(q8.cast("array<string>"), ",").alias("q8"),
        (
            F.floor(
                F.col("embedding")[0].cast("double") / F.col("scale") * 127.0
            ).cast("int")
            * F.col("scale")
            / 127.0
        ).alias("dequant_first"),
    )


# --------------------------------------------------------------------------
# q_pq_encode — product quantization: 64-d float vector → 8 code bytes.
# --------------------------------------------------------------------------

_PQ_SUB = 8      # subspaces
_PQ_SUBDIM = _DIM // _PQ_SUB
_PQ_K = 16       # centroids per subspace


def _pq_sql_dists(s: int) -> str:
    """DuckDB: the 16 squared distances of subspace ``s`` (same fold
    structure and order as the Spark side)."""
    cent = (
        f"(CAST((c * 31 + d * 17 + {s} * 7) % 13 AS DOUBLE) - 6.0) / 6.0"
    )
    diff = (
        f"(CAST(embedding[{s * _PQ_SUBDIM} + d + 1] AS DOUBLE) - {cent})"
    )
    return (
        f"list_transform(range(0, {_PQ_K}), c -> "
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(range(0, {_PQ_SUBDIM}), d -> {diff} * {diff})), "
        f"(acc, x) -> acc + x))"
    )


_PQ_ORACLE = f"""
WITH dists AS (
  SELECT
    vec_id,
    {", ".join(f"{_pq_sql_dists(s)} AS d{s}" for s in range(_PQ_SUB))}
  FROM embeddings
)
SELECT
  vec_id,
  [{", ".join(f"CAST(list_position(d{s}, list_min(d{s})) - 1 AS INTEGER)"
              for s in range(_PQ_SUB))}] AS codes,
  {" + ".join(f"list_min(d{s})" for s in range(_PQ_SUB))} AS sq_err
FROM dists
ORDER BY vec_id
"""


# The registered oracle serializes the codes list (array_to_string ≡ Spark
# array_join) so the driver's pandas canonicalizer — which cannot sort/hash
# list-typed cells — value-checks it cell-by-cell; _PQ_ORACLE itself stays
# list-typed because q_sim_pq_adc's oracle indexes codes[s+1] from it.
_PQ_ORACLE_FLAT = f"""
SELECT vec_id, array_to_string(codes, ',') AS codes, sq_err
FROM ({_PQ_ORACLE})
ORDER BY vec_id
"""


@query("q_pq_encode", oracle=_PQ_ORACLE_FLAT, tags=("llm", "similarity", "ann"))
def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode: split each 64-d vector into 8
    subspaces of 8 dims, assign each subspace to the nearest of 16
    codebook centroids → 8 small codes per vector (a 32× compression of
    the float vector), plus the total squared quantization error.

    The codebook is plan-constant and formula-derived (centroid value =
    ``((c·31 + d·17 + s·7) mod 13 − 6) / 6``), standing in for a trained
    codebook exactly like q_sim_ann_lsh's plan-constant hyperplanes — at
    100 TB the trained codebook is likewise a broadcast constant (the
    k-means trainer in ml/kmeans.py produces one); encode cost and plan
    shape are identical. Distances are sequential double folds (Spark
    ``aggregate`` ≡ DuckDB ``list_reduce``), squaring via explicit
    multiply (never ``pow``, whose libm rounding may differ per engine),
    argmin via first-position-of-min in both engines — so codes AND the
    error are value-checked bit-exact.

    Zero shuffles: one narrow map over the corpus at scan speed. PQ
    codes are what a 100 TB ANN index stores per vector; IVF cell
    (q_sim_ivf) + PQ code is the standard IVFPQ layout.
    """
    encoded = pq_encode_df(
        load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    return encoded.select(
        "vec_id",
        F.array_join(F.col("codes").cast("array<string>"), ",").alias("codes"),
        "sq_err",
    ).orderBy("vec_id")


def pq_encode_df(e: DataFrame) -> DataFrame:
    """PQ-encode any (…, embedding) DataFrame → (original cols minus
    embedding/d*, codes array<int>, sq_err double). The reusable core of
    q_pq_encode, shared with the IVFPQ index builder (ml/ivfpq.py)."""

    def dists(s: int) -> Column:
        def sqdist(c: Column) -> Column:
            def step(acc: Column, d: Column) -> Column:
                cent = (
                    ((c * 31 + d * 17 + F.lit(s * 7)) % 13).cast("double")
                    - 6.0
                ) / 6.0
                x = F.element_at(
                    "embedding", (F.lit(s * _PQ_SUBDIM) + d + 1).cast("int")
                ).cast("double")
                diff = x - cent
                return acc + diff * diff

            return F.aggregate(
                F.sequence(F.lit(0), F.lit(_PQ_SUBDIM - 1)), F.lit(0.0), step
            )

        return F.transform(
            F.sequence(F.lit(0), F.lit(_PQ_K - 1)), sqdist
        ).alias(f"d{s}")

    keep = [c for c in e.columns if c != "embedding"]
    with_d = e.select(*keep, "embedding", *[dists(s) for s in range(_PQ_SUB)])
    code = lambda s: (  # noqa: E731
        F.array_position(F.col(f"d{s}"), F.array_min(f"d{s}")) - 1
    ).cast("integer")
    err = None
    for s in range(_PQ_SUB):
        m = F.array_min(f"d{s}")
        err = m if err is None else err + m
    return with_d.select(
        *keep,
        F.array(*[code(s) for s in range(_PQ_SUB)]).alias("codes"),
        err.alias("sq_err"),
    )


def pq_encode_np_df(e: DataFrame) -> DataFrame:
    """Numpy/Arrow twin of :func:`pq_encode_df` — the documented
    fallback for the HOF path's constant-factor creep (q_pq_encode rode
    8.18× then 9.15× across the sf1/sf10 decades from 128 per-row fold
    expressions; docs/BENCH_NOTES.md disposition).

    Parity is BIT-exact, not approximate, because the batch math
    replays the HOF path's IEEE operation order: vectorized across ROWS
    but SEQUENTIAL over the fold dimension (one fused
    acc += diff·diff per d, d ascending) and over subspaces for the
    error sum, with the same float32→float64 element casts; argmin is
    first-occurrence on both sides (np.argmin ≡ array_position of the
    min). Asserted value-for-value in tests/test_round11_props.py and
    hash-certified against the SAME DuckDB oracle by q_pq_encode_np.

    Scale shape: zero shuffles — one Arrow-batched narrow map at scan
    speed; the (8×16×8)-float codebook rides in the task closure.
    """
    import numpy as np
    from pyspark.sql import types as T

    keep = [f for f in e.schema.fields if f.name != "embedding"]
    out_schema = T.StructType(
        list(keep)
        + [
            T.StructField("codes", T.ArrayType(T.IntegerType())),
            T.StructField("sq_err", T.DoubleType()),
        ]
    )
    keep_names = [f.name for f in keep]
    # centroid table: cents[s, c, d] = ((c·31 + d·17 + s·7) mod 13 − 6)/6,
    # exact small-integer arithmetic then one double divide — identical
    # to the plan-constant expression in the HOF path
    cents = np.array(
        [
            [
                [((c * 31 + d * 17 + s * 7) % 13 - 6) / 6.0
                 for d in range(_PQ_SUBDIM)]
                for c in range(_PQ_K)
            ]
            for s in range(_PQ_SUB)
        ],
        dtype=np.float64,
    )

    def encode(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            V = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            codes = np.empty((n, _PQ_SUB), dtype=np.int32)
            err = np.zeros(n, dtype=np.float64)
            for s in range(_PQ_SUB):
                X = V[:, s * _PQ_SUBDIM : (s + 1) * _PQ_SUBDIM]
                acc = np.zeros((n, _PQ_K), dtype=np.float64)
                for d in range(_PQ_SUBDIM):  # sequential: HOF fold order
                    diff = X[:, d : d + 1] - cents[s, :, d][None, :]
                    acc += diff * diff
                codes[:, s] = np.argmin(acc, axis=1)
                err += np.min(acc, axis=1)  # s ascending: HOF sum order
            out = pdf[keep_names].copy()
            out["codes"] = [row.tolist() for row in codes]
            out["sq_err"] = err
            yield out

    return e.mapInPandas(encode, schema=out_schema)


@query(
    "q_pq_encode_np",
    # the SAME oracle constant as q_pq_encode — one source of truth, so
    # the two bindings cannot drift if the flattening idiom is edited
    oracle=_PQ_ORACLE_FLAT,
    tags=("llm", "similarity", "ann", "udf"),
)
def q_pq_encode_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The numpy/Arrow PQ encode path, hash-certified against the SAME
    oracle as `q_pq_encode` — two independent executions (JVM
    whole-stage-codegen folds vs Arrow-batched numpy) of one
    specification, both bit-equal to DuckDB's third.

    Why it exists: q_pq_encode's 128 fold expressions are a constant
    factor that measured 8.18× → 9.15× across two decade steps — inside
    the 12× limit but creeping (docs/BENCH_NOTES.md). This binding
    productizes the documented fallback so the swap at the next decade
    is a one-line change already under certification, not a rewrite
    under pressure. The Python surface is the operator's CONTRACT here
    (same class as the media codecs): zero-shuffle Arrow scan, codebook
    in the task closure, only (id, 8 codes, err) rows leave the pass.
    """
    encoded = pq_encode_np_df(
        load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    return encoded.select(
        "vec_id",
        F.array_join(F.col("codes").cast("array<string>"), ",").alias("codes"),
        "sq_err",
    ).orderBy("vec_id")


# --------------------------------------------------------------------------
# q_sim_pq_adc — PQ asymmetric-distance top-k (the IVFPQ query path).
# --------------------------------------------------------------------------


def _adc_sql_term(s: int) -> str:
    """DuckDB: squared distance of query subspace ``s`` to the corpus
    vector's ASSIGNED centroid (code looked up from the PQ codes list) —
    same fold structure/order as the Spark side."""
    c = f"codes[{s + 1}]"
    cent = f"(CAST(({c} * 31 + d * 17 + {s} * 7) % 13 AS DOUBLE) - 6.0) / 6.0"
    diff = f"(CAST(q_emb[{s * _PQ_SUBDIM} + d + 1] AS DOUBLE) - {cent})"
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(range(0, {_PQ_SUBDIM}), d -> {diff} * {diff})), "
        f"(acc, x) -> acc + x)"
    )


@query(
    "q_sim_pq_adc",
    oracle=f"""
WITH codes AS ({_PQ_ORACLE}),
q AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
  WHERE vec_id IN ({_SQL_QUERY_IDS})
),
scored AS (
  SELECT
    q.q_id,
    c.vec_id,
    {" + ".join(_adc_sql_term(s) for s in range(_PQ_SUB))} AS adc_dist
  FROM q, codes c
  WHERE c.vec_id <> q.q_id
)
SELECT q_id, vec_id, adc_dist
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY q_id ORDER BY adc_dist ASC, vec_id ASC) AS rk
  FROM scored
)
WHERE rk <= 5
ORDER BY q_id, adc_dist ASC, vec_id ASC
""",
    tags=("llm", "similarity", "ann"),
)
def q_sim_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k: score each query against the
    corpus's PQ CODES (8 small ints/vector), never its float vectors —
    the query half of IVFPQ.

    The corpus codes come from the certified numpy/Arrow encode kernel
    (:func:`pq_encode_np_df`, per-vector BIT parity with the HOF fold
    asserted in tests/test_round11_props.py and hash-certified by
    q_pq_encode_np against the same oracle), and the query side is the
    classic per-query 8×16 ADC lookup table (ml/ivfpq._adc_table): the
    query vectors are fetched with ONE pushed-filter collect (bounded:
    len(_QUERY_IDS) = 3 rows by construction), each table precomputes
    every subspace's 16 candidate distances driver-side with the SAME
    sequential IEEE fold the previous inline aggregate ran per candidate
    row (acc += diff², d ascending; Python doubles ≡ JVM doubles, every
    op correctly rounded — the hash-certified q_sim_ivfpq_recall idiom),
    and the per-row expression collapses from an interpreted 64-step
    aggregate to 8 O(1) element_at lookups summed in the same subspace
    order — bit-identical adc_dist, same fold the oracle's
    _adc_sql_term still runs in SQL.

    Plan: the 3-row LUT side broadcasts across the code table (one
    narrow scan — 8 ints + id per corpus row instead of 64 floats: this
    is the 100 TB win, the scored relation reads ~3% of the vector
    bytes); window top-5 per query with id tie-break. At scale the scan
    is additionally cell-pruned by IVF (q_sim_ivf) before ADC scoring,
    and only the ~5 survivors are re-ranked on exact float vectors.
    """
    from streaming_data_ingestion_spark.ml.ivfpq import _adc_table

    codes = pq_encode_np_df(
        load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ).select("vec_id", "codes")
    q_rows = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id").isin(*_QUERY_IDS))
        .select("vec_id", _as_double(F.col("embedding")).alias("q_emb"))
        .collect()
    )
    luts = spark.createDataFrame(
        [(r["vec_id"], _adc_table(list(r["q_emb"]))) for r in q_rows],
        "q_id long, lut array<array<double>>",
    )

    adc = None
    for s in range(_PQ_SUB):
        term = F.element_at(
            F.element_at("lut", s + 1), F.element_at("codes", s + 1) + 1
        )
        adc = term if adc is None else adc + term

    scored = (
        F.broadcast(luts)
        .crossJoin(codes)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", adc.alias("adc_dist"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("adc_dist").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("q_id", "vec_id", "adc_dist")
        .orderBy("q_id", F.col("adc_dist").asc(), F.col("vec_id").asc())
    )


# --------------------------------------------------------------------------
# q_sim_knn_graph — within-cell k-NN graph over the embedding corpus.
# --------------------------------------------------------------------------

_KNN_K = 5


@query(
    "q_sim_knn_graph",
    oracle=f"""
WITH u AS ({_sql_unit()}),
scored AS (
  SELECT
    a.vec_id,
    b.vec_id AS neighbor_id,
    {_sql_uv_dot()} AS cosine
  FROM u a
  JOIN u b ON a.label = b.label AND a.vec_id != b.vec_id
),
ranked AS (
  SELECT
    vec_id, neighbor_id, cosine,
    CAST(ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id ASC
    ) AS INTEGER) AS rank
  FROM scored
)
SELECT vec_id, neighbor_id, rank, cosine
FROM ranked WHERE rank <= {_KNN_K}
""",
    tags=("llm", "similarity", "graph"),
)
def q_sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN graph over the embedding corpus: each vector's top-5 exact
    cosine neighbors within its coarse cell — the input structure for
    SemDeDup-style semantic dedup, cluster pruning, and diversity
    sampling.

    Same scale shape as q_emb_neardup: the label equi-join bounds
    candidates to Σ_cell n_cell² (a coarse quantizer supplies cells in
    production; the fixture's label column plays that role), then one
    window per vec_id keeps k rows — WindowGroupLimit prunes to 5
    map-side before the window's Exchange, so the shuffled volume is
    k·n edges, not the candidate set. Ties break on neighbor_id for a
    deterministic graph.

    Vectors are unit-normalized BEFORE the join (one fold per vector),
    so the O(Σn_cell²) inner loop is a single dot product instead of
    dot + two norms — 3× fewer higher-order folds on the hot path
    (10.9s → ~4s at sf0.1). The oracle normalizes identically, keeping
    the comparison bit-exact.
    """
    from streaming_data_ingestion_spark.tables import spread_for_cpu

    u = _unit_vectors(spread_for_cpu(load(spark, sf_dir, "embeddings")))
    a, b = u.alias("a"), u.alias("b")
    cos = _fold_sum(
        F.zip_with(F.col("a.uv"), F.col("b.uv"), lambda x, y: x * y)
    )
    scored = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_id"),
        F.col("b.vec_id").alias("neighbor_id"),
        cos.alias("cosine"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _KNN_K)
        .select("vec_id", "neighbor_id", "rank", "cosine")
    )


# --------------------------------------------------------------------------
# q_semdedup — semantic dedup decisions over the embedding corpus.
# --------------------------------------------------------------------------

_SEM_TAU = 0.35


@query(
    "q_semdedup",
    oracle=f"""
WITH u AS ({_sql_unit()}),
s AS (
  SELECT
    a.vec_id,
    MAX({_sql_uv_dot()}) AS max_cos_lower
  FROM u a
  JOIN u b ON a.label = b.label AND b.vec_id < a.vec_id
  GROUP BY a.vec_id
)
SELECT
  e.vec_id,
  e.label,
  s.max_cos_lower,
  (s.max_cos_lower IS NULL OR s.max_cos_lower < {_SEM_TAU}) AS keep
FROM embeddings e
LEFT JOIN s ON s.vec_id = e.vec_id
""",
    tags=("llm", "similarity", "dedup"),
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup decision per vector: drop any vector
    whose cosine to a *smaller-id* vector in the same coarse cell reaches
    τ=0.35; the smallest id of each similar neighborhood survives as its
    representative.

    This is the one-join form of the greedy ascending-id sweep (it may
    drop a chain member the exact sweep would keep after its own
    predecessor was dropped — the standard at-scale trade; the exact
    transitive policy is q_dedup_clusters' connected-components keeper).
    MAX of IEEE-identical doubles is order-independent, so no decimal
    machinery is needed. Candidates stay cell-bounded (Σ_cell n_cell²),
    the rollup partial-aggregates one max per vector map-side, and the
    corpus rejoin is a broadcast-sized id→max table. Vectors unit-
    normalize before the join (q_sim_knn_graph's optimization: one fold
    per vector, single dot product on the quadratic path).
    """
    from streaming_data_ingestion_spark.tables import spread_for_cpu

    e = spread_for_cpu(load(spark, sf_dir, "embeddings"))
    u = _unit_vectors(e)
    a, b = u.alias("a"), u.alias("b")
    cos = _fold_sum(
        F.zip_with(F.col("a.uv"), F.col("b.uv"), lambda x, y: x * y)
    )
    s = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("b.vec_id") < F.col("a.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_id"), cos.alias("cos"))
        .groupBy("vec_id")
        .agg(F.max("cos").alias("max_cos_lower"))
    )
    return e.select("vec_id", "label").join(s, "vec_id", "left").select(
        "vec_id",
        "label",
        "max_cos_lower",
        (
            F.col("max_cos_lower").isNull()
            | (F.col("max_cos_lower") < _SEM_TAU)
        ).alias("keep"),
    )


# --------------------------------------------------------------------------
# q_sim_ivfpq_index — the STORED-index ANN path (ml/ivfpq.py), driver-
# visible as a rows-only key.
# --------------------------------------------------------------------------

def _ivfpq_index_for(spark: SparkSession, sf_dir: str) -> tuple[str, list]:
    """(path, centroids) of the index built once per snapshot (the build
    is an action, a partitioned write)."""

    def _build(path: str) -> tuple[str, list]:
        from streaming_data_ingestion_spark.ml.ivfpq import build_ivfpq_index

        emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        return path, build_ivfpq_index(emb, path, k_cells=4, n_iters=2)

    return artifacts.stored("ivfpq_index", sf_dir, _build)


@query("q_sim_ivfpq_index", tags=("llm", "similarity", "ann", "index"))
def q_sim_ivfpq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 neighbors for three query vectors through the STORED IVFPQ
    index (ml/ivfpq.py): cell-partitioned parquet on disk, probe =
    partition PRUNING (non-probed cells are never listed), ADC scoring
    from the 8×16 literal lookup table, exact re-rank of the survivors.

    Rows-only by contract: the value under test is the physical layout —
    a hive-partitioned index directory probed via PartitionFilters —
    which no single SQL statement over the raw parquet can express.
    Exactness of the composed path is pinned elsewhere: full-probe +
    full-rerank equals brute force (tests/test_ivfpq.py), and the ADC /
    IVF component math is oracle-checked by q_sim_pq_adc and q_sim_ivf.
    The index builds once per snapshot and is re-read from disk
    per query — the deployment shape, where build cost amortizes over
    every query served.
    """
    from streaming_data_ingestion_spark.ml.ivfpq import (
        _adc_table,
        _exact_dist_to,
        _probe_cells,
        adc_candidates,
        fetch_vectors,
    )

    path, cents = _ivfpq_index_for(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings")
    # ONE pushed-filter scan fetches all three query vectors (a bounded
    # |_IVF_QUERY_IDS|-row collect) instead of three single-row jobs.
    q_rows = {
        r["vec_id"]: list(r["embedding"])
        for r in emb.filter(F.col("vec_id").isin(*_IVF_QUERY_IDS))
        .select("vec_id", "embedding")
        .collect()
    }
    # Batched serve: the three per-query codes-only ADC stages (each the
    # serve_topk bounded path: cell-pruned scan → LUT scoring → top-20
    # cut) union into ONE bounded collect job instead of three driver
    # round-trips; the exact re-rank is then ONE batched point-fetch +
    # per-query window cut (below) emitting the same rows serve_topk's
    # per-query point-fetch plans would.
    nprobe, k, rerank = 2, 5, 20
    probes_by_q = {
        qid: _probe_cells(q_rows[qid], cents, nprobe)
        for qid in _IVF_QUERY_IDS
    }
    stages = None
    cell_t = "bigint"
    for qid in _IVF_QUERY_IDS:
        idx = spark.read.parquet(path).filter(
            F.col("cell").isin(*probes_by_q[qid])
        )
        cell_t = idx.schema["cell"].dataType.simpleString()
        st = adc_candidates(idx, _adc_table(q_rows[qid]), rerank).select(
            F.lit(qid).alias("query_id"), "vec_id", "cell", "adc_dist"
        )
        stages = st if stages is None else stages.unionByName(st)
    pairs = [
        (r["query_id"], r["vec_id"], int(r["cell"]), r["adc_dist"])
        for r in stages.collect()  # bounded ≤ |queries|·rerank rows
    ]
    if not pairs:
        return spark.createDataFrame(
            [],
            f"query_id long, vec_id long, cell {cell_t}, "
            "adc_dist double, exact_dist double",
        )
    # Batched exact re-rank (r13, guide §2.4/§2.6): the three per-query
    # point-fetch branches each ran their own pruned scan + join job —
    # ONE fetch under the UNION of the probed cells and survivor ids
    # returns exactly the union of the per-branch row sets (vec_id is
    # unique and every survivor's cell is probed by its own query), the
    # broadcast (query_id, vec_id) survivor join restores per-query
    # scoping, exact_dist picks its query's literal fold via query_id,
    # and the per-branch orderBy+limit(k) becomes ONE window cut with
    # the same (exact_dist, vec_id) tie-break — row-for-row identical
    # output (asserted vs the branch form at sf0.01 and sf0.1 before
    # the swap), one scan job instead of |queries|.
    surv_df = F.broadcast(
        spark.createDataFrame(
            pairs,
            f"query_id long, vec_id long, cell {cell_t}, adc_dist double",
        )
    )
    all_cells = sorted({c for qid in _IVF_QUERY_IDS for c in probes_by_q[qid]})
    fetched = fetch_vectors(
        spark, path, all_cells, sorted({p[1] for p in pairs})
    )
    exact = None
    for qid in _IVF_QUERY_IDS:
        cond = F.col("query_id") == qid
        e = _exact_dist_to(q_rows[qid])
        exact = F.when(cond, e) if exact is None else exact.when(cond, e)
    w = Window.partitionBy("query_id").orderBy(
        F.col("exact_dist").asc(), F.col("vec_id").asc()
    )
    return (
        fetched.join(surv_df, "vec_id")
        .select(
            "query_id", "vec_id", "cell", "adc_dist",
            exact.alias("exact_dist"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "vec_id", "cell", "adc_dist", "exact_dist")
    )


# --------------------------------------------------------------------------
# q_sim_ivfpq_recall — hash-verified quality contract for the STORED
# partial-probe IVFPQ path: hits@5 vs the brute-force L2 truth.
# --------------------------------------------------------------------------

_RERANK = 20


def _sql_l2(a: str, b: str) -> str:
    """Squared L2 distance as the same sequential double fold as the
    Spark side (zip_with diff² → aggregate)."""
    d = f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(range(1, {_DIM + 1}), i -> {d} * {d})), "
        f"(acc, x) -> acc + x)"
    )


def _l2(a: Column, b: Column) -> Column:
    return _fold_sum(
        F.zip_with(
            _as_double(a), _as_double(b), lambda x, y: (x - y) * (x - y)
        )
    )


# one deterministic-cell index per snapshot — stored like the
# kmeans-cell index above, but the coarse quantizer is the
# SQL-expressible q_sim_ivf rule (centroids = first-K corpus vectors,
# cosine assignment), which is what makes the WHOLE partial-probe path
# oracle-checkable.


def _det_ivf_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, centroid_id, sim): every vector scored
    against the K deterministic centroids — the q_sim_ivf coarse
    quantizer, shared by the index build and the probe selection."""
    e = load(spark, sf_dir, "embeddings")
    c = e.filter(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("c_emb"),
    )
    return e.crossJoin(F.broadcast(c)).select(
        "vec_id",
        "embedding",
        "centroid_id",
        _cos(F.col("embedding"), F.col("c_emb")).alias("sim"),
    )


def _det_ivfpq_index_for(spark: SparkSession, sf_dir: str) -> str:
    def _build(path: str) -> str:
        from streaming_data_ingestion_spark.layout import write_partitioned

        scored = _det_ivf_scored(spark, sf_dir)
        best = F.max_by(
            F.struct(F.col("centroid_id"), F.col("embedding")),
            F.struct(F.col("sim"), (-F.col("centroid_id")).alias("tie")),
        ).alias("best")
        assign = (
            scored.groupBy("vec_id")
            .agg(best)
            .select(
                "vec_id",
                F.col("best.embedding").alias("embedding"),
                F.col("best.centroid_id").alias("cell"),
            )
        )
        # numpy/Arrow encode: per-vector bit-parity to pq_encode_df is
        # asserted in tests/test_round11_props.py and hash-certified by
        # q_pq_encode_np (same oracle), so the stored codes — and the
        # recall oracle's SQL re-derivation of them — are unchanged.
        coded = pq_encode_np_df(
            assign.select(
                "vec_id",
                "cell",
                F.col("embedding").alias("emb_keep"),
                "embedding",
            )
        )
        indexed = coded.select(
            "vec_id", "cell", "codes",
            F.col("emb_keep").alias("embedding"),
        )
        write_partitioned(indexed, path, ["cell"])
        return path

    return artifacts.stored("ivfpq_det", sf_dir, _build)


_IVFPQ_RECALL_ORACLE = f"""
WITH cents AS (
  SELECT vec_id AS centroid_id, embedding AS c_emb
  FROM embeddings WHERE vec_id < {_IVF_K}
),
scored AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         {_sql_cos("e.embedding", "c.c_emb")} AS sim
  FROM embeddings e CROSS JOIN cents c
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
            ORDER BY sim DESC, centroid_id ASC) AS crn
  FROM scored
),
assign AS (
  SELECT vec_id, embedding, centroid_id AS cell FROM ranked WHERE crn = 1
),
probes AS (
  SELECT vec_id AS q_id, embedding AS q_emb, centroid_id AS cell
  FROM ranked
  WHERE vec_id IN ({_SQL_IVF_QUERY_IDS}) AND crn <= {_IVF_NPROBE}
),
codes AS ({_PQ_ORACLE}),
cand AS (
  SELECT p.q_id, p.q_emb AS q_emb, a.vec_id, a.embedding,
         c.codes AS codes,
         {" + ".join(_adc_sql_term(s) for s in range(_PQ_SUB))} AS adc_dist
  FROM probes p
  JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.q_id
  JOIN codes c ON c.vec_id = a.vec_id
),
kept AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
              ORDER BY adc_dist ASC, vec_id ASC) AS arn
    FROM cand
  ) WHERE arn <= {_RERANK}
),
ann AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY q_id
             ORDER BY {_sql_l2("q_emb", "embedding")} ASC, vec_id ASC) AS rnk
    FROM kept
  ) WHERE rnk <= 5
),
truth AS (
  SELECT q_id, vec_id FROM (
    SELECT q.vec_id AS q_id, e.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY {_sql_l2("q.embedding", "e.embedding")} ASC,
                      e.vec_id ASC) AS rnk
    FROM embeddings e
    CROSS JOIN (SELECT vec_id, embedding FROM embeddings
                WHERE vec_id IN ({_SQL_IVF_QUERY_IDS})) q
    WHERE e.vec_id <> q.vec_id
  ) WHERE rnk <= 5
),
an AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_ann FROM ann GROUP BY 1),
ht AS (
  SELECT t.q_id, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM truth t JOIN ann a ON t.q_id = a.q_id AND t.vec_id = a.vec_id
  GROUP BY 1
)
SELECT
  q.q_id,
  COALESCE(n_ann, 0) AS n_ann,
  COALESCE(n_hits, 0) AS n_hits,
  COALESCE(n_hits, 0) / 5.0 AS recall_at_5
FROM (SELECT DISTINCT q_id FROM truth) q
LEFT JOIN an USING (q_id)
LEFT JOIN ht USING (q_id)
"""


def _det_recall_kept(spark: SparkSession, sf_dir: str):
    """The lazy codes-only ADC stage of the stored-index recall path:
    probe routing (cached) → partition-pruned index scan → broadcast
    probe join → ADC fold on the PQ codes → per-query rerank cut.

    Returns (kept, path, probe_cells). ``kept`` projects (q_id, q_emb,
    vec_id, adc_dist, arn) and NEVER ``embedding`` — the probed-cell
    parquet scan under it is code-sized; tests/test_ivfpq.py asserts
    its ReadSchema excludes the float column."""
    path = _det_ivfpq_index_for(spark, sf_dir)
    # Probe routing is cached like the index: the (q_id, q_emb, cell)
    # rows are the serving path's routing-table lookup — computed once
    # per snapshot from the centroid scores, then reattached as
    # a literal 3×nprobe-row frame on every query instead of re-running
    # the corpus×K scoring job per call. float→double collection is
    # exact, so ADC/L2 folds downstream are unchanged bit-for-bit.
    def _route() -> list:
        scored = _det_ivf_scored(spark, sf_dir)
        cw = Window.partitionBy("vec_id").orderBy(
            F.col("sim").desc(), F.col("centroid_id").asc()
        )
        rows = (
            scored.filter(F.col("vec_id").isin(*_IVF_QUERY_IDS))
            .withColumn("crn", F.row_number().over(cw))
            .filter(F.col("crn") <= _IVF_NPROBE)
            .select(
                F.col("vec_id").alias("q_id"),
                _as_double(F.col("embedding")).alias("q_emb"),
                F.col("centroid_id").alias("cell"),
            )
            .collect()
        )
        return [(r["q_id"], list(r["q_emb"]), r["cell"]) for r in rows]

    route = artifacts.cached("ivfpq_det_probe", sf_dir, _route)
    from streaming_data_ingestion_spark.ml.ivfpq import _adc_table

    # Per-query ADC lookup tables ride the probes frame: the query
    # embeddings are driver-side literals (the route above), so each
    # subspace's 16 candidate distances are precomputed ONCE per query
    # by ml/ivfpq._adc_table — the same sequential IEEE fold the
    # previous inline aggregate ran per candidate row (acc += diff²,
    # d ascending; Python doubles ≡ JVM doubles, correctly rounded
    # ops), and the same fold the oracle's _adc_sql_term still runs in
    # SQL. The per-row expression collapses from an interpreted
    # 64-step aggregate to 8 O(1) element_at lookups summed in the same
    # subspace order — bit-identical adc_dist.
    probes = spark.createDataFrame(
        [
            (q_id, q_emb, cell, _adc_table(q_emb))
            for q_id, q_emb, cell in route
        ],
        "q_id long, q_emb array<double>, cell long,"
        " lut array<array<double>>",
    )
    # literal probed-cell list → PartitionFilters on the index scan
    probe_cells = sorted({t[2] for t in route})
    idx = spark.read.parquet(path).filter(F.col("cell").isin(*probe_cells))

    cand = F.broadcast(probes).join(
        idx,
        (probes["cell"] == idx["cell"]) & (idx["vec_id"] != probes["q_id"]),
    )

    adc = None
    for s in range(_PQ_SUB):
        term = F.element_at(
            F.element_at("lut", s + 1), F.element_at("codes", s + 1) + 1
        )
        adc = term if adc is None else adc + term

    # codes-only ADC stage: the projection reads (q_id, q_emb, vec_id,
    # codes) — never `embedding` — so the probed-cell scan is code-sized
    # (~3% of the vector bytes; ReadSchema asserted in tests/test_ivfpq.py)
    scored_cand = cand.select(
        "q_id", "q_emb", idx["vec_id"].alias("vec_id"), adc.alias("adc_dist")
    )
    aw = Window.partitionBy("q_id").orderBy(
        F.col("adc_dist").asc(), F.col("vec_id").asc()
    )
    kept = (
        scored_cand.withColumn("arn", F.row_number().over(aw))
        .filter(F.col("arn") <= _RERANK)
    )
    return kept, path, probe_cells


@query(
    "q_sim_ivfpq_recall",
    oracle=_IVFPQ_RECALL_ORACLE,
    tags=("llm", "similarity", "ann", "index"),
)
def q_sim_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the STORED partial-probe IVFPQ path against the
    brute-force L2 truth — the hash-verified quality contract
    q_sim_ivfpq_index (rows-only) cannot give.

    The index on disk is the real deployment layout (cell-partitioned
    parquet, PQ codes + float vectors, probe = literal IN over the
    partition column → PartitionFilters), but its coarse quantizer is
    the DETERMINISTIC q_sim_ivf rule (centroids = first-K corpus
    vectors, cosine assignment, ties to the lower id) instead of trained
    k-means — which is exactly what makes every stage SQL-expressible:
    cell assignment (q_sim_ivf's oracle idiom), PQ codes (_PQ_ORACLE),
    ADC scoring (q_sim_pq_adc's fold), the rerank-20 cut
    (row_number over bit-exact ADC doubles), exact-L2 re-rank, and the
    final integer hits join. The driver therefore value-hashes the
    ENTIRE stored-index query path, nprobe=2 < K=8
    partial probing included — recall here is genuinely < 1.0 when a
    true neighbor lives in an unprobed cell, and both engines must
    agree on exactly which. (The fixture embeddings are isotropic, so
    measured recall sits near the nprobe/K = 0.25 chance floor — the
    contract under test is bit-exact agreement on the probe/ADC/rerank
    pipeline, not clustering quality of random vectors; real corpora
    with cluster structure are what lift IVF recall above chance.)

    Scale: identical to q_sim_ivfpq_index — the probe reads nprobe/K of
    the corpus via partition pruning, ADC reads codes only (~3% of the
    vector bytes — the codes-only stage is _det_recall_kept, whose scan
    ReadSchema provably excludes `embedding`), and only rerank
    survivors touch float vectors via a vec_id-pushed point fetch.
    """
    kept, path, probe_cells = _det_recall_kept(spark, sf_dir)
    # rerank survivors: a bounded collect (≤ |queries|×rerank = 60 rows)
    # whose vec_ids drive a SECOND, point-lookup scan of the index for
    # the float vectors (PartitionFilters on cell + PushedFilters on
    # vec_id) — the exact re-rank reads ≤ rerank vectors per query, not
    # every probed row. Doubles round-trip bit-exactly through
    # collect/createDataFrame, so adc_dist reattachment is hash-safe.
    surv_rows = kept.select("q_id", "q_emb", "vec_id", "adc_dist").collect()
    if not surv_rows:
        # same guard as query_ivfpq / ivfpq_probe: with zero ADC
        # survivors there is nothing to fetch — the ANN side is empty
        # and every truth q_id reports recall 0 below.
        ann = spark.createDataFrame([], "q_id long, vec_id long")
    else:
        surv_df = F.broadcast(
            spark.createDataFrame(
                [
                    (r["q_id"], list(r["q_emb"]), r["vec_id"], r["adc_dist"])
                    for r in surv_rows
                ],
                "q_id long, q_emb array<double>, vec_id long,"
                " adc_dist double",
            )
        )
        surv_ids = sorted({r["vec_id"] for r in surv_rows})
        fetched = (
            spark.read.parquet(path)
            .filter(
                F.col("cell").isin(*probe_cells)
                & F.col("vec_id").isin(surv_ids)
            )
            .select("vec_id", "embedding")
        )
        ew = Window.partitionBy("q_id").orderBy(
            F.col("exact_dist").asc(), F.col("vec_id").asc()
        )
        ann = (
            fetched.join(surv_df, "vec_id")
            .withColumn(
                "exact_dist", _l2(F.col("q_emb"), F.col("embedding"))
            )
            .withColumn("rnk", F.row_number().over(ew))
            .filter(F.col("rnk") <= 5)
            .select("q_id", "vec_id")
        )

    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id").isin(*_IVF_QUERY_IDS)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    tw = Window.partitionBy("q_id").orderBy(
        F.col("d").asc(), F.col("vec_id").asc()
    )
    truth = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id", "vec_id", _l2(F.col("q_emb"), F.col("embedding")).alias("d")
        )
        .withColumn("rnk", F.row_number().over(tw))
        .filter(F.col("rnk") <= 5)
        .select("q_id", "vec_id")
    )

    an = ann.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_ann"))
    ht = (
        truth.join(ann, ["q_id", "vec_id"])
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    zero = F.lit(0).cast("long")
    return (
        truth.select("q_id")
        .distinct()
        .join(an, "q_id", "left")
        .join(ht, "q_id", "left")
        .select(
            "q_id",
            F.coalesce(F.col("n_ann"), zero).alias("n_ann"),
            F.coalesce(F.col("n_hits"), zero).alias("n_hits"),
            (F.coalesce(F.col("n_hits"), zero) / 5.0).alias("recall_at_5"),
        )
    )


# --------------------------------------------------------------------------
# ivfpq_probe — the PARAMETERIZED stored-index serving entry point: an
# arbitrary query vector, supplied at CALL time, against the stored
# deterministic IVFPQ index. q_sim_ivfpq_recall hash-verifies the
# pipeline for compile-time query ids; this is the "index as a service"
# shape (mirroring how q_cms_serving parameterized the CMS watchlist) —
# route → partition-pruned probe → ADC on codes → exact re-rank, with
# the query vector a plain python list.
# --------------------------------------------------------------------------


def _probe_adc_stage(
    spark: SparkSession,
    sf_dir: str,
    q_emb: list[float],
    nprobe: int,
    rerank: int,
):
    """The lazy codes-only ADC stage of the parameterized probe: route
    the literal query to its top-nprobe cells (a K-row job), scan ONLY
    those cells (PartitionFilters), score codes against the query, and
    cut to the top ``rerank``. Projects (vec_id, cell, adc_dist) —
    never ``embedding`` — so the scan is code-sized; ReadSchema
    asserted in tests/test_ivfpq.py. Returns (df, path, probe_cells)."""
    from streaming_data_ingestion_spark.ml.ivfpq import _adc_table

    path = _det_ivfpq_index_for(spark, sf_dir)
    qcol = dlit_array(q_emb)
    cents = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _IVF_K)
        .select(
            F.col("vec_id").alias("centroid_id"),
            _cos(qcol, F.col("embedding")).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col("centroid_id").asc())
        .limit(nprobe)
        .collect()
    )
    probe_cells = sorted(r["centroid_id"] for r in cents)
    idx = spark.read.parquet(path).filter(F.col("cell").isin(*probe_cells))
    # ADC via the classic per-query 8×16 lookup table (ml/ivfpq._adc_table):
    # the query is a driver-side literal, so each subspace's 16 candidate
    # distances are precomputed ONCE per query with the same sequential
    # IEEE fold (acc += diff², d ascending; Python doubles ≡ JVM doubles,
    # every op correctly rounded), and the per-row expression collapses
    # from an interpreted 64-step aggregate to 8 O(1) element_at lookups
    # summed in the same subspace order — bit-identical adc_dist, the
    # exact expression shape of ml/ivfpq.adc_candidates.
    table = _adc_table([float(x) for x in q_emb])
    adc = None
    for s in range(_PQ_SUB):
        lut = dlit_array(table[s])
        term = F.element_at(lut, F.element_at("codes", s + 1) + 1)
        adc = term if adc is None else adc + term
    stage = (
        idx.select(
            "vec_id",
            F.col("cell").cast("long").alias("cell"),
            adc.alias("adc_dist"),
        )
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(rerank)
    )
    return stage, path, probe_cells


def ivfpq_probe(
    spark: SparkSession,
    sf_dir: str,
    q_emb: list[float],
    nprobe: int = _IVF_NPROBE,
    k: int = 5,
    rerank: int = _RERANK,
) -> DataFrame:
    """Serve one ARBITRARY query vector against the stored IVFPQ index.

    Stages, each the 100 TB serving shape:
    1. route — score the literal query against the K coarse centroids
       (a K-row job) and keep the top-``nprobe`` cells: the routing
       lookup, collected driver-side because it is nprobe rows;
    2. prune — a literal IN over the index's ``cell`` partition column,
       so the scan lists only nprobe/K of the corpus (PartitionFilters);
    3. ADC — asymmetric distance on the stored PQ CODES only (~3% of
       the vector bytes), top-``rerank`` via orderBy+limit (distributed
       TakeOrderedAndProject, no global window);
    4. exact re-rank — true L2 on the ``rerank`` survivors' float
       vectors, top-``k``.

    Returns (rnk, vec_id, cell, adc_dist, exact_dist).
    """
    # codes-only ADC stage (no `embedding` in the projection → the
    # probed-cell scan reads code bytes only; ReadSchema asserted in
    # tests/test_ivfpq.py), then a bounded ≤ rerank-row collect whose
    # ids drive a vec_id-pushed point fetch of the float vectors —
    # exact re-rank reads ≤ rerank vectors, never every probed row.
    adc_stage, path, probe_cells = _probe_adc_stage(
        spark, sf_dir, q_emb, nprobe, rerank
    )
    qcol = dlit_array(q_emb)
    # Past the lookup-sized bound (brute-force-convergence callers pass
    # rerank = corpus) the driver round-trip would be the bottleneck:
    # stay lazy and broadcast-join the ADC cut back onto the probed scan
    # for a distributed exact re-rank instead of a point fetch.
    from streaming_data_ingestion_spark.ml.ivfpq import _COLLECT_RERANK_MAX

    if rerank > _COLLECT_RERANK_MAX:
        idx = spark.read.parquet(path).filter(
            F.col("cell").isin(*probe_cells)
        )
        topk = (
            idx.select("vec_id", "embedding")
            .join(F.broadcast(adc_stage), "vec_id")
            .withColumn("exact_dist", _l2(qcol, F.col("embedding")))
            .select("vec_id", "cell", "adc_dist", "exact_dist")
            .orderBy(F.col("exact_dist").asc(), F.col("vec_id").asc())
            .limit(k)
        )
        w = Window.orderBy(F.col("exact_dist").asc(), F.col("vec_id").asc())
        return topk.select(
            F.row_number().over(w).cast("int").alias("rnk"),
            "vec_id",
            "cell",
            "adc_dist",
            "exact_dist",
        )

    surv_rows = adc_stage.collect()
    if not surv_rows:
        return spark.createDataFrame(
            [],
            "rnk int, vec_id long, cell long, adc_dist double,"
            " exact_dist double",
        )
    surv_df = F.broadcast(
        spark.createDataFrame(
            [(r["vec_id"], r["cell"], r["adc_dist"]) for r in surv_rows],
            "vec_id long, cell long, adc_dist double",
        )
    )
    fetched = (
        spark.read.parquet(path)
        .filter(
            F.col("cell").isin(*probe_cells)
            & F.col("vec_id").isin([r["vec_id"] for r in surv_rows])
        )
        .select("vec_id", "embedding")
    )
    topk = (
        fetched.join(surv_df, "vec_id")
        .withColumn("exact_dist", _l2(qcol, F.col("embedding")))
        .select("vec_id", "cell", "adc_dist", "exact_dist")
        .orderBy(F.col("exact_dist").asc(), F.col("vec_id").asc())
        .limit(k)
    )
    # rank stamp: a window over ≤ k rows (bounded by construction)
    w = Window.orderBy(F.col("exact_dist").asc(), F.col("vec_id").asc())
    return topk.select(
        F.row_number().over(w).cast("int").alias("rnk"),
        "vec_id",
        "cell",
        "adc_dist",
        "exact_dist",
    )


# Deterministic example query vector for the registered key: a closed
# form both engines can generate token-identically (small-integer
# arithmetic + one IEEE subtract/divide), NOT a corpus vector — the
# point is that the probe input is arbitrary.
_PARAM_Q = [((i * 37) % 19 - 9) / 9.0 for i in range(_DIM)]
_PARAM_Q_SQL = "(CAST((i * 37) % 19 AS DOUBLE) - 9.0) / 9.0"
# second binding: a different closed-form vector AND different
# (nprobe, rerank, k), so no constant folded for the first binding can
# hash-match both (round-7 gap #4 for the ANN serving entry)
_PARAM_Q2 = [((i * 53) % 23 - 11) / 11.0 for i in range(_DIM)]
_PARAM_Q2_SQL = "(CAST((i * 53) % 23 AS DOUBLE) - 11.0) / 11.0"
_B2_NPROBE, _B2_RERANK, _B2_K = 3, 12, 7


def _ivfpq_probe_oracle(q_sql: str, nprobe: int, rerank: int, k: int) -> str:
    """The stored-index probe oracle as a function of the binding
    (query-vector generator expression + nprobe/rerank/k) — shared by
    every registered instance of ivfpq_probe."""
    return f"""
WITH q AS (
  SELECT list_transform(range(0, {_DIM}),
         i -> {q_sql}) AS q_emb
),
cents AS (
  SELECT vec_id AS centroid_id, embedding AS c_emb
  FROM embeddings WHERE vec_id < {_IVF_K}
),
routed AS (
  SELECT centroid_id FROM (
    SELECT c.centroid_id,
           ROW_NUMBER() OVER (ORDER BY {_sql_cos("q.q_emb", "c.c_emb")} DESC,
                              c.centroid_id ASC) AS crn
    FROM cents c CROSS JOIN q
  ) WHERE crn <= {nprobe}
),
scored AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         {_sql_cos("e.embedding", "c.c_emb")} AS sim
  FROM embeddings e CROSS JOIN cents c
),
assign AS (
  SELECT vec_id, embedding, centroid_id AS cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
              ORDER BY sim DESC, centroid_id ASC) AS crn
    FROM scored
  ) WHERE crn = 1
),
codes AS ({_PQ_ORACLE}),
cand AS (
  SELECT a.vec_id, a.cell, a.embedding, c.codes, q.q_emb,
         {" + ".join(_adc_sql_term(s) for s in range(_PQ_SUB))} AS adc_dist
  FROM assign a
  JOIN routed r ON a.cell = r.centroid_id
  JOIN codes c ON c.vec_id = a.vec_id
  CROSS JOIN q
),
kept AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (ORDER BY adc_dist ASC, vec_id ASC) AS arn
    FROM cand
  ) WHERE arn <= {rerank}
)
SELECT CAST(rnk AS INTEGER) AS rnk, vec_id, cell, adc_dist, exact_dist
FROM (
  SELECT vec_id, cell, adc_dist,
         {_sql_l2("q_emb", "embedding")} AS exact_dist,
         ROW_NUMBER() OVER (ORDER BY {_sql_l2("q_emb", "embedding")} ASC,
                            vec_id ASC) AS rnk
  FROM kept
) WHERE rnk <= {k}
ORDER BY rnk
"""


@query(
    "q_sim_ivfpq_probe_param",
    oracle=_ivfpq_probe_oracle(_PARAM_Q_SQL, _IVF_NPROBE, _RERANK, 5),
    tags=("llm", "similarity", "ann", "index", "serving"),
)
def q_sim_ivfpq_probe_param(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The parameterized stored-index probe, driver-verified: run
    ivfpq_probe with a query vector that is NOT a corpus row (a closed
    form both engines generate token-identically), so the hash certifies
    the serve-an-arbitrary-vector path — route, PartitionFilters prune,
    code-only ADC, exact re-rank — not just the compile-time-id path
    q_sim_ivfpq_recall already pins.

    Scale: the routing job touches K rows, the probe reads nprobe/K of
    the corpus via partition pruning, top-rerank/top-k are
    orderBy+limit (distributed TakeOrderedAndProject, no global
    window); the only windows run over ≤ k rows.
    """
    return ivfpq_probe(spark, sf_dir, _PARAM_Q)


@query(
    "q_sim_ivfpq_probe_b2",
    oracle=_ivfpq_probe_oracle(_PARAM_Q2_SQL, _B2_NPROBE, _B2_RERANK, _B2_K),
    tags=("llm", "similarity", "ann", "index", "serving"),
)
def q_sim_ivfpq_probe_b2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second hash-certified binding of ivfpq_probe: a different
    closed-form query vector AND different (nprobe=3, rerank=12, k=7).
    Two bindings through the SAME builder and oracle template close the
    round-7 "serving entry certified at one example binding" gap for the
    ANN leg — a wider probe (3 of 8 cells) also certifies the routing
    cut at a boundary the first binding never exercises.

    Scale shape: identical to q_sim_ivfpq_probe_param — PartitionFilters
    prune to nprobe/K of the corpus, the ADC stage reads codes only,
    float bytes are fetched for ≤ rerank survivor ids.
    """
    return ivfpq_probe(
        spark,
        sf_dir,
        _PARAM_Q2,
        nprobe=_B2_NPROBE,
        k=_B2_K,
        rerank=_B2_RERANK,
    )


# --------------------------------------------------------------------------
# q_ann_gen_probe — the generation-lifecycle serve path, driver-hashed.
# streaming/ann_stream.py's bootstrap_index → probe_generation is the
# production shape (kmeans-trained quantizer persisted beside the rows,
# _latest pointer resolution, committed-epoch reads); probing ALL cells
# with rerank = corpus makes the result exactly brute-force L2 top-k,
# which DuckDB can replicate — so the hash certifies the whole lifecycle
# plumbing end-to-end, not just the deterministic-quantizer twin.
# --------------------------------------------------------------------------

_GEN_CORPUS_MAX = 512  # sampled corpus => the full-rerank collect is bounded
_GEN_Q_ID = 7


def _gen_index_for(spark: SparkSession, sf_dir: str) -> str:
    """One published generation per snapshot: kmeans quantizer
    trained over the ≤512-row sampled corpus, written and published by
    bootstrap_index (gen=0, base epoch committed, _latest pointer).

    Maintenance-serialization boundary (ADVICE r9): CROSS-PROCESS
    collision is prevented by artifact_path's pid-suffixed root (a
    concurrent pytest and drive each bootstrap their own directory);
    within a process, artifacts' one lock serializes every build, so
    two threads cannot both run bootstrap_index (whose gen=latest+1
    rmtree+write is not concurrent-writer safe) against one root."""

    def _build(root: str) -> str:
        from streaming_data_ingestion_spark.streaming.ann_stream import (
            bootstrap_index,
        )

        vecs = (
            load(spark, sf_dir, "embeddings")
            .select("vec_id", "embedding")
            .filter(F.col("vec_id") < _GEN_CORPUS_MAX)
        )
        bootstrap_index(spark, vecs, root, k_cells=4, n_iters=2)
        return root

    return artifacts.stored("ann_gen", sf_dir, _build)


@query(
    "q_ann_gen_probe",
    oracle=f"""
WITH q AS (
  SELECT embedding AS q_emb FROM embeddings WHERE vec_id = {_GEN_Q_ID}
),
scored AS (
  SELECT e.vec_id, {_sql_l2("e.embedding", "q.q_emb")} AS exact_dist
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id < {_GEN_CORPUS_MAX}
)
SELECT vec_id, exact_dist, CAST(rnk AS INTEGER) AS rnk FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY exact_dist ASC, vec_id ASC) AS rnk
  FROM scored
) WHERE rnk <= 10
""",
    tags=("llm", "similarity", "ann", "index", "serving", "streaming"),
)
def q_ann_gen_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 by exact L2 served THROUGH a published index generation:
    `_latest` pointer resolution → the generation's persisted quantizer
    → committed-epoch partition bound → codes-only ADC → vec_id-pushed
    exact re-rank (streaming/ann_stream.probe_generation). Probing all
    4 cells with rerank = corpus disables both approximation sources, so
    the result must be exactly brute-force L2 top-k — which the oracle
    computes directly. The ADC stage's mid-plan collect is bounded by
    the ≤{512}-row sampled corpus by construction.

    Scale: the registered binding fully probes a SAMPLED corpus to stay
    oracle-exact; production parameters (nprobe << K, lookup-sized
    rerank) ride the identical code path, whose pruning/projection
    contracts are plan-asserted in tests/test_ivfpq.py and
    tests/test_streaming.py."""
    from streaming_data_ingestion_spark.streaming.ann_stream import (
        probe_generation,
    )

    root = _gen_index_for(spark, sf_dir)
    q_emb = [
        float(x)
        for x in load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == _GEN_Q_ID)
        .first()["embedding"]
    ]
    res = probe_generation(
        spark, root, q_emb, nprobe=4, k=10, rerank=_GEN_CORPUS_MAX
    )
    w = Window.orderBy(F.col("exact_dist").asc(), F.col("vec_id").asc())
    return res.select("vec_id", "exact_dist").withColumn(
        "rnk", F.row_number().over(w)
    )


@query(
    "q_ann_gen_probe_b2",
    oracle=f"""
WITH q AS (
  SELECT list_transform(range(0, {_DIM}), i -> {_PARAM_Q2_SQL}) AS q_emb
),
scored AS (
  SELECT e.vec_id, {_sql_l2("e.embedding", "q.q_emb")} AS exact_dist
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id < {_GEN_CORPUS_MAX}
)
SELECT vec_id, exact_dist, CAST(rnk AS INTEGER) AS rnk FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY exact_dist ASC, vec_id ASC) AS rnk
  FROM scored
) WHERE rnk <= 7
""",
    tags=("llm", "similarity", "ann", "index", "serving", "streaming"),
)
def q_ann_gen_probe_b2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second hash-certified binding of the generation serve path: the
    query is an ARBITRARY (non-corpus) closed-form vector — the same
    token-identical generator both engines share for the ivfpq_probe
    second binding — with a different k (7). The first binding's query
    is a corpus row, so distance-0 self-match could mask a broken query
    literal path; this binding cannot self-match, and no constant folded
    for the first binding can hash-match both. Full probe + full rerank
    over the sampled corpus keeps the answer exactly brute-force L2."""
    from streaming_data_ingestion_spark.streaming.ann_stream import (
        probe_generation,
    )

    root = _gen_index_for(spark, sf_dir)
    res = probe_generation(
        spark, root, _PARAM_Q2, nprobe=4, k=7, rerank=_GEN_CORPUS_MAX
    )
    w = Window.orderBy(F.col("exact_dist").asc(), F.col("vec_id").asc())
    return res.select("vec_id", "exact_dist").withColumn(
        "rnk", F.row_number().over(w)
    )


# --------------------------------------------------------------------------
# q_sim_pair_hist — cosine-similarity histogram over the IVF-cell candidate
# pairs: the calibration readout behind q_emb_neardup/q_semdedup's 0.35
# threshold (where does the pair distribution actually split?).
# --------------------------------------------------------------------------

_PH_BINS = 32  # over [-1, 1): width 1/16, exact power-of-two edges


@query(
    "q_sim_pair_hist",
    oracle=f"""
WITH u AS ({_sql_unit()})
SELECT
  CAST(LEAST(FLOOR(({_sql_uv_dot()} + 1.0) * 16.0),
             31.0) AS INTEGER) AS bin,
  CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM u a
JOIN u b ON a.label = b.label AND a.vec_id < b.vec_id
GROUP BY bin
ORDER BY bin
""",
    tags=("llm", "similarity", "eval"),
)
def q_sim_pair_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram (32 bins over [-1, 1)) of exact pairwise cosines within
    each label cell — the distribution a pipeline reads to CALIBRATE the
    near-dup threshold (q_emb_neardup's 0.35 is defensible exactly when
    this histogram shows a valley there). Same candidate scope as
    q_emb_neardup: the label equi-join keeps pair count Σ_cell n_cell²,
    never n².

    Vectors are unit-normalized ONCE per row before the pair join
    (the _unit_vectors idiom q_sim_knn_graph/q_semdedup share), so each
    pair pays a single dot-product fold instead of dot + two norms — 3×
    less per-pair work in the only quadratic stage, with the oracle
    normalizing element-for-element identically. Bin edges are exact
    power-of-two arithmetic ((c+1)·16), and the dot fold is the house
    ordered reduction — bit-identical across engines — so bin
    membership cannot straddle a ULP. The histogram output is
    constant-sized (32 rows) at any corpus scale.
    """
    from streaming_data_ingestion_spark.tables import spread_for_cpu

    e = _unit_vectors(spread_for_cpu(load(spark, sf_dir, "embeddings")))
    a, b = e.alias("a"), e.alias("b")
    cos = _fold_sum(
        F.zip_with(F.col("a.uv"), F.col("b.uv"), lambda x, y: x * y)
    )
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.least(F.floor((cos + F.lit(1.0)) * F.lit(16.0)), F.lit(31.0))
            .cast("int")
            .alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# q_sim_ndcg — graded ranking quality (nDCG@5) of the LSH index vs the
# brute-force ideal.
# --------------------------------------------------------------------------

# position discounts 1/log2(i+1) precomputed in python and inlined as
# IDENTICAL literals in both engines — no runtime transcendental to
# diverge; the only measured quantities are the bit-exact cosines.
import math  # noqa: E402

from streaming_data_ingestion_spark.compat import DEC  # noqa: E402

_NDCG_K = 5
_NDCG_W = tuple(round(1.0 / math.log2(i + 1), 12) for i in range(1, _NDCG_K + 1))

_NDCG_ORACLE = f"""
WITH w(rnk, w) AS (VALUES {", ".join(f"({i + 1}, {w})" for i, w in enumerate(_NDCG_W))}),
ann AS (
  SELECT q_id, rnk, cosine FROM ({{ann}}) WHERE rnk <= {_NDCG_K}
),
truth AS (
  SELECT q_id, rnk, cosine FROM ({{truth}}) WHERE rnk <= {_NDCG_K}
),
dcg AS (
  SELECT a.q_id,
         {{dsum_aw}} AS dcg
  FROM ann a JOIN w ON w.rnk = a.rnk GROUP BY a.q_id
),
idcg AS (
  SELECT t.q_id,
         {{dsum_tw}} AS idcg
  FROM truth t JOIN w ON w.rnk = t.rnk GROUP BY t.q_id
)
SELECT
  idcg.q_id,
  ROUND(dcg.dcg, 6) AS dcg,
  ROUND(idcg.idcg, 6) AS idcg,
  ROUND(dcg.dcg / idcg.idcg, 6) AS ndcg
FROM idcg JOIN dcg ON dcg.q_id = idcg.q_id
ORDER BY idcg.q_id
"""


def _ndcg_oracle() -> str:
    from streaming_data_ingestion_spark.compat import sql_dec_to_double

    term = "SUM(CAST({c}.cosine * w.w AS DECIMAL(38,10)))"
    return _NDCG_ORACLE.format(
        ann=_REG["q_sim_ann_lsh"].oracle,
        truth=_REG["q_sim_topk"].oracle,
        dsum_aw=sql_dec_to_double(term.format(c="a")),
        dsum_tw=sql_dec_to_double(term.format(c="t")),
    )


@query("q_sim_ndcg", oracle=_ndcg_oracle(), tags=("llm", "similarity", "eval"))
def q_sim_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@{_NDCG_K} of the LSH ANN ranking against the brute-force
    ideal, per probe query — the GRADED ranking-quality readout
    (q_sim_recall counts set overlap; nDCG additionally charges the
    index for returning lower-similarity items and for ordering them
    late, which is what a retrieval consumer actually experiences).
    Gains are the candidates' true cosines; position discounts
    1/log₂(i+1) are python-precomputed literals shared by both engines,
    so the statistic is a DECIMAL-summed dot product of bit-exact
    cosines with constants — round(6) at the end.

    Both sides are the engine's OWN registered queries (the q_sim_recall
    composition discipline), so this measures the real operators.
    Everything is (3 queries × {_NDCG_K} rows)-bounded after the two
    underlying top-k passes.
    """
    ann = (
        q_sim_ann_lsh(spark, sf_dir)
        .filter(F.col("rnk") <= _NDCG_K)
        .select("q_id", "rnk", "cosine")
    )
    truth = (
        q_sim_topk(spark, sf_dir)
        .filter(F.col("rnk") <= _NDCG_K)
        .select("q_id", "rnk", "cosine")
    )
    warr = dlit_array(_NDCG_W)
    wcol = F.element_at(warr, F.col("rnk"))

    def _dcg(df: DataFrame, out: str) -> DataFrame:
        return df.groupBy("q_id").agg(
            F.sum((F.col("cosine") * wcol).cast(DEC)).cast("double").alias(out)
        )

    dcg = _dcg(ann, "dcg")
    idcg = _dcg(truth, "idcg")
    return (
        idcg.join(dcg, "q_id")
        .select(
            "q_id",
            F.round("dcg", 6).alias("dcg"),
            F.round("idcg", 6).alias("idcg"),
            F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg"),
        )
        .orderBy("q_id")
    )


# --------------------------------------------------------------------------
# q_ivfpq_cell_stats — occupancy/balance audit of the STORED det-IVFPQ
# index, read back from disk and hash-checked against the assignment
# rule recomputed from the raw embeddings (index-integrity serving read).
# --------------------------------------------------------------------------


@query(
    "q_ivfpq_cell_stats",
    oracle=f"""
WITH cents AS (
  SELECT vec_id AS centroid_id, embedding AS c_emb
  FROM embeddings WHERE vec_id < {_IVF_K}
),
scored AS (
  SELECT e.vec_id, c.centroid_id,
         {_sql_cos("e.embedding", "c.c_emb")} AS sim
  FROM embeddings e CROSS JOIN cents c
),
assign AS (
  SELECT vec_id, centroid_id AS cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
              ORDER BY sim DESC, centroid_id ASC) AS crn
    FROM scored
  ) WHERE crn = 1
),
counts AS (
  SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vectors,
         CAST(MIN(vec_id) AS BIGINT) AS min_vec_id,
         CAST(MAX(vec_id) AS BIGINT) AS max_vec_id
  FROM assign GROUP BY cell
),
tot AS (SELECT CAST(SUM(n_vectors) AS BIGINT) AS n FROM counts)
SELECT
  cell,
  n_vectors,
  min_vec_id,
  max_vec_id,
  CAST(n_vectors AS DOUBLE) / CAST(tot.n AS DOUBLE) AS share,
  CAST(n_vectors * {_IVF_K} AS DOUBLE) / CAST(tot.n AS DOUBLE) AS balance
FROM counts CROSS JOIN tot
ORDER BY cell
""",
    tags=("llm", "similarity", "ann", "index", "serving"),
)
def q_ivfpq_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-occupancy audit of the STORED IVFPQ index: per coarse cell,
    vector count, id range, corpus share, and the balance ratio
    (n·K/total — 1.0 = perfectly even; a cell at 3.0 means probe cost
    is 3× the nprobe/K estimate when routing lands there). The Spark
    side reads the INDEX TABLE back from disk, so the driver hash
    certifies that the stored layout contains exactly the vectors the
    assignment rule (recomputed from the raw embeddings by the oracle)
    says each cell should hold — index-build integrity as a serving
    read, the q_hist_serving discipline applied to the ANN artifact.

    Scale shape: the index scan aggregates per partition directory
    (map-side combinable, K groups), one 1-row total broadcast; the
    expensive assignment recompute happens only in the oracle.
    """
    path = _det_ivfpq_index_for(spark, sf_dir)
    # the hive partition column reads back as int32 — widen to the
    # BIGINT the assignment rule (and oracle) carries
    counts = (
        spark.read.parquet(path)
        .groupBy(F.col("cell").cast("long").alias("cell"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.min("vec_id").cast("long").alias("min_vec_id"),
            F.max("vec_id").cast("long").alias("max_vec_id"),
        )
    )
    tot = counts.agg(F.sum("n_vectors").cast("long").alias("n"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "cell",
            "n_vectors",
            "min_vec_id",
            "max_vec_id",
            (
                F.col("n_vectors").cast("double") / F.col("n").cast("double")
            ).alias("share"),
            (
                (F.col("n_vectors") * _IVF_K).cast("double")
                / F.col("n").cast("double")
            ).alias("balance"),
        )
        .orderBy("cell")
    )
