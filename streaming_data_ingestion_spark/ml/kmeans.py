"""Distributed Lloyd's k-means over an embedding column.

Trains the coarse quantizer the IVF similarity path assumes
(llm_similarity.q_sim_ivf uses the fixture's label as a stand-in cell
id; this module produces real learned cells). Scale shape per
iteration:

- **Assignment is a narrow map.** The k×d centroid matrix is tiny
  (k=√N cells × 64 dims ≈ MBs even at 30 B vectors), so it rides into
  the plan as literals — each vector computes its nearest cell with a
  row-side fold, zero shuffle, no corpus×k join.
- **Update is one centroid-sized shuffle.** posexplode → partial sums
  per (cell, dim) map-side → single exchange carrying k×d partials per
  task (the q_emb_centroid shape).
- **Driver state is k×d floats + one inertia scalar** per round — the
  same bounded-fixpoint pattern as the connected-components loop
  (llm_dedup.q_dedup_clusters), not a driver-side data scan.

Determinism: seeds are content-addressed (md5 of vec_id, first k in
hash order), ties in assignment break toward the lower cell id, and the
update averages through exact decimal sums — two runs on the same data
produce bit-identical centroids in any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streaming_data_ingestion_spark.compat import DEC, dlit_array


def _assign(df: DataFrame, cents: list[list[float]]) -> DataFrame:
    """Add (cell, dist2): nearest centroid per vector, row-side only."""
    dists = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    dlit_array(c),
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for c in cents
        ]
    )
    return df.withColumn("_d", dists).select(
        "*",
        (F.array_position(F.col("_d"), F.array_min("_d")) - 1)
        .cast("int")
        .alias("cell"),
        F.array_min("_d").alias("dist2"),
    ).drop("_d")


def kmeans_fit(
    df: DataFrame, k: int = 8, n_iters: int = 5
) -> tuple[list[list[float]], list[float]]:
    """Train k centroids over ``df.embedding``; returns (centroids,
    per-iteration inertia). ``df`` needs (vec_id, embedding) columns."""
    seeds = (
        df.select(
            "embedding", F.md5(F.col("vec_id").cast("string")).alias("h")
        )
        .orderBy("h")
        .limit(k)
        .collect()
    )
    if not seeds:
        raise ValueError("kmeans_fit: input DataFrame is empty")
    # the seed collect already materialized rows — deriving dim from it
    # avoids a separate corpus job whose only output is the vector length
    dim = len(seeds[0]["embedding"])
    cents = [[float(x) for x in r["embedding"]] for r in seeds]

    from decimal import Decimal, localcontext

    history: list[float] = []
    for _ in range(n_iters):
        assigned = _assign(df.select("vec_id", "embedding"), cents)
        # ONE distributed job per iteration (r13, guide §5 driver
        # round-trips): the centroid update and the inertia ride the
        # SAME (cell, dim)-keyed aggregate — dim 0 enumerates every
        # assigned vector exactly once, so the per-(cell, dim=0) decimal
        # dist2 partials sum in Python Decimal to the total the separate
        # whole-corpus decimal aggregate produced. Decimal addition is
        # associative only while no sum rounds, so the sum runs at 50
        # significant digits: 12 digits of headroom over the 38-digit
        # partials. The fold now feeds a single consumer, so the
        # per-iteration persist/unpersist (and its second corpus pass)
        # is gone: the fit was measured job-dispatch-bound, not
        # fold-bound (commit 6091888: the k-distance map is 0.19 s of a
        # 4.4 s cold fit at sf0.1), so the distance step deliberately
        # stays on the JVM fold.
        upd = (
            assigned.select(
                "cell", F.posexplode("embedding").alias("dim", "x"), "dist2"
            )
            .groupBy("cell", "dim")
            .agg(
                F.sum(F.col("x").cast(DEC)).alias("s"),
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.when(F.col("dim") == 0, F.col("dist2")).cast(DEC)
                ).alias("ip"),
            )
            .select(
                "cell",
                "dim",
                (F.col("s").cast("double") / F.col("n")).alias("m"),
                "ip",
            )
        )
        rows = upd.collect()
        new_cents = [list(c) for c in cents]  # empty cells keep position
        by_cell: dict[int, list[float]] = {}
        for r in rows:
            by_cell.setdefault(r["cell"], [0.0] * dim)[r["dim"]] = r["m"]
        for cell, vec in by_cell.items():
            new_cents[cell] = vec
        cents = new_cents
        with localcontext() as ctx:
            ctx.prec = 50
            inertia = sum(
                (r["ip"] for r in rows if r["ip"] is not None), Decimal(0)
            )
        history.append(float(inertia))
    return cents, history


def assign_cells(df: DataFrame, cents: list[list[float]]) -> DataFrame:
    """Public assignment: (vec_id, embedding, cell) for index build —
    write the result partitioned by cell (layout.write_partitioned) and
    the IVF probe becomes partition pruning."""
    return _assign(df, cents).drop("dist2")
