"""Physical-layout tests: partition pruning, shuffle-free bucketed joins,
and salted-join correctness. These assert on the *plan* (PartitionFilters,
absence of Exchange) as well as results — layout is only worth its write
cost if the read side provably uses it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from streaming_data_ingestion_spark.layout import (
    salted_join,
    write_bucketed,
    write_partitioned,
)
from streaming_data_ingestion_spark.tables import load

from .conftest import SF_DIR


def _plan(df) -> str:
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def test_partitioned_write_prunes(spark, tmp_path):
    """A filter on the partition column must become PartitionFilters —
    non-matching directories are never opened."""
    docs = load(spark, SF_DIR, "documents")
    path = str(tmp_path / "docs_by_source")
    write_partitioned(docs, path, ["source"])

    back = spark.read.parquet(path).filter(F.col("source") == "src0")
    plan = _plan(back)
    assert "PartitionFilters" in plan
    assert "src0" in plan.split("PartitionFilters")[1].split("\n")[0]
    want = docs.filter(F.col("source") == "src0").count()
    assert back.count() == want


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key must join with zero Exchange:
    the write-time layout satisfies the hash-distribution requirement."""
    orders = load(spark, SF_DIR, "orders")
    customer = load(spark, SF_DIR, "customer")
    write_bucketed(orders, "orders_b", ["o_custkey"], 4)
    write_bucketed(customer, "customer_b", ["c_custkey"], 4)
    try:
        o = spark.table("orders_b")
        c = spark.table("customer_b").withColumnRenamed("c_custkey", "o_custkey")
        # disable broadcast so the bucket layout (not size) decides the plan
        with_conf = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = o.join(c, "o_custkey")
            plan = _plan(joined)
            assert "Exchange hashpartitioning" not in plan
            assert joined.count() == orders.join(
                customer, orders["o_custkey"] == customer["c_custkey"]
            ).count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", with_conf)
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")


def test_registered_bucketed_join_no_shuffle(spark):
    """The REGISTERED q_bucketed_join read path (stored co-bucketed sf
    fixtures, not toy frames): with broadcast disabled so layout decides
    the plan, the orderkey join itself must plan with zero Exchange —
    the only exchange in the whole query is the 5-group aggregation
    above it."""
    from streaming_data_ingestion_spark.queries.layout_q import (
        bucketed_pair_tables,
    )

    lt, ot = bucketed_pair_tables(spark, SF_DIR)
    li, od = spark.table(lt), spark.table(ot)
    with_conf = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = li.join(od, li["l_orderkey"] == od["o_orderkey"])
        plan = _plan(joined)  # formatted mode: exchanges show up as
        #                       "Arguments: hashpartitioning(...)"
        assert "SortMergeJoin" in plan
        assert plan.count("Arguments: hashpartitioning") == 0, plan
        # the registered aggregate adds exactly ONE exchange (the
        # group-by), never one per join side
        agg_plan = _plan(
            joined.groupBy("o_orderpriority").count()
        )
        assert agg_plan.count("Arguments: hashpartitioning") == 1, agg_plan
        # co-bucketed + sorted read: correct row multiplicity end-to-end
        want = (
            load(spark, SF_DIR, "lineitem")
            .join(
                load(spark, SF_DIR, "orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .count()
        )
        assert joined.count() == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", with_conf)


def test_bucketed_layout_survives_incremental_append(spark, tmp_path):
    """The 100 TB growth story: NEW data appended with the same bucket
    spec lands in the existing hash space — no corpus re-bucketing — and
    the co-located join stays exchange-free over old + new rows with the
    right multiplicity."""
    from streaming_data_ingestion_spark.tables import artifact_path

    li = load(spark, SF_DIR, "lineitem")
    od = load(spark, SF_DIR, "orders")
    try:
        write_bucketed(
            li.filter(F.col("l_orderkey") % 2 == 0),
            "li_grow", ["l_orderkey"], 4, sort_cols=["l_orderkey"],
            path=artifact_path("li_grow"),
        )
        # epoch 2: the other half, appended with the SAME spec
        write_bucketed(
            li.filter(F.col("l_orderkey") % 2 == 1),
            "li_grow", ["l_orderkey"], 4, sort_cols=["l_orderkey"],
            mode="append", path=artifact_path("li_grow"),
        )
        write_bucketed(
            od, "od_grow", ["o_orderkey"], 4, path=artifact_path("od_grow")
        )
        t = spark.table("li_grow")
        assert t.count() == li.count()
        with_conf = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = t.join(
                spark.table("od_grow"),
                t["l_orderkey"] == F.col("o_orderkey"),
            )
            plan = _plan(j)
            assert "SortMergeJoin" in plan
            assert plan.count("Arguments: hashpartitioning") == 0
            want = li.join(
                od, li["l_orderkey"] == od["o_orderkey"]
            ).count()
            assert j.count() == want
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", with_conf)
    finally:
        spark.sql("DROP TABLE IF EXISTS li_grow")
        spark.sql("DROP TABLE IF EXISTS od_grow")


def test_bucketed_growth_writer_replay_idempotent(spark):
    """streaming/bucket_growth.py: incremental epochs PLUS a replay of
    the final epoch (crash-recovery's actual shape) must equal the
    one-shot bucketed build row-for-row, the crash-debris path (unmarked
    partial partition dir) must replace rather than double-append, and
    the grown table must still join exchange-free."""
    import os
    import shutil

    from streaming_data_ingestion_spark.streaming.bucket_growth import (
        bucketed_growth_writer,
    )
    from streaming_data_ingestion_spark.tables import artifact_path

    li = load(spark, SF_DIR, "lineitem")
    od = load(spark, SF_DIR, "orders")
    path = artifact_path("li_growth")
    try:
        wb = bucketed_growth_writer(
            "li_growth", path, ["l_orderkey"], 4,
            sort_cols=["l_orderkey"], run_ns="t",
        )
        for e in range(3):
            wb(li.filter(F.col("l_orderkey") % 3 == e), e)
        wb(li.filter(F.col("l_orderkey") % 3 == 2), 2)  # completed replay
        t = spark.table("li_growth")
        assert t.count() == li.count()
        assert t.select("l_orderkey").distinct().count() == (
            li.select("l_orderkey").distinct().count()
        )

        # crash shape: epoch 3's data landed but no marker — the next
        # attempt must replace the partial directory, not append to it
        (li.filter(F.col("l_orderkey") % 3 == 0).limit(7)
         .withColumn("__epoch", F.lit("t-3"))
         .write.mode("append").partitionBy("__epoch")
         .bucketBy(4, "l_orderkey").sortBy("l_orderkey")
         .option("path", path).saveAsTable("li_growth", format="parquet"))
        assert os.path.exists(os.path.join(path, "__epoch=t-3"))
        wb(li.filter(F.col("l_orderkey") % 3 == 0), 3)
        spark.sql("REFRESH TABLE li_growth")
        n0 = li.filter(F.col("l_orderkey") % 3 == 0).count()
        t = spark.table("li_growth")
        assert t.filter(F.col("__epoch") == "t-3").count() == n0

        # the grown, multi-epoch table keeps the exchange-free join
        write_bucketed(
            od, "od_growth", ["o_orderkey"], 4, path=artifact_path("od_growth")
        )
        with_conf = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = t.join(
                spark.table("od_growth"),
                t["l_orderkey"] == F.col("o_orderkey"),
            )
            plan = _plan(j)
            assert "SortMergeJoin" in plan
            assert plan.count("Arguments: hashpartitioning") == 0
            want = (
                li.join(od, li["l_orderkey"] == od["o_orderkey"]).count()
                + li.filter(F.col("l_orderkey") % 3 == 0)
                .join(od, li["l_orderkey"] == od["o_orderkey"])
                .count()
            )
            assert j.count() == want
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", with_conf)
    finally:
        spark.sql("DROP TABLE IF EXISTS li_growth")
        spark.sql("DROP TABLE IF EXISTS od_growth")
        shutil.rmtree(path, ignore_errors=True)


def test_salted_join_matches_plain_join(spark):
    """Salting must be invisible in the result: same rows as the plain
    equi-join, just distributed over n_salts× more reducers."""
    events = load(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    dim = (
        load(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got = salted_join(events, dim, "user_id", n_salts=4)
    want = events.join(dim, "user_id")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_bucketed_minhash_band_join_no_shuffle(spark):
    """The 100 TB dedup path: persist the LSH band table bucketed on
    band_hash, and the candidate-pair self-join plans with ZERO
    hash-partition exchanges — the write-time layout already satisfies
    the join's distribution (band_hash is a subset of the equi keys), so
    the all-corpus pair generation never shuffles the signature stream.
    Results must equal the unbucketed q_dedup_minhash_pairs exactly."""
    from streaming_data_ingestion_spark.queries.llm_dedup import (
        _lsh_candidate_pairs,
        _minhash_bands,
    )

    bands = _minhash_bands(spark, SF_DIR)
    write_bucketed(bands, "bands_b", ["band_hash"], 8)
    try:
        b1 = spark.table("bands_b").alias("a")
        b2 = spark.table("bands_b").alias("b")
        with_conf = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = b1.join(
                b2,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            ).select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            plan = _plan(joined)
            assert "Exchange hashpartitioning" not in plan
            got = joined.distinct().count()
            want = _lsh_candidate_pairs(spark, SF_DIR).count()
            assert got == want
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", with_conf)
    finally:
        spark.sql("DROP TABLE IF EXISTS bands_b")


def test_compaction_reduces_file_count(spark, tmp_path):
    """A fragmented write (many tiny files) must compact to the computed
    file count with identical rows."""
    import glob

    from streaming_data_ingestion_spark.layout import write_compacted

    ev = load(spark, SF_DIR, "events")
    n = ev.count()
    frag = str(tmp_path / "fragmented")
    ev.repartition(64).write.parquet(frag)
    assert len(glob.glob(f"{frag}/*.parquet")) == 64

    compacted = str(tmp_path / "compacted")
    target = (n + 3) // 4  # aim for ~4 files
    write_compacted(spark.read.parquet(frag), compacted, target)
    files = glob.glob(f"{compacted}/*.parquet")
    # ~4 output tasks; round-robin imbalance may push a partition over
    # the per-file ceiling, which then splits — still far from 64
    assert 4 <= len(files) <= 6
    # the maxRecordsPerFile ceiling is a hard invariant per file
    import pyarrow.parquet as pq

    for f in files:
        assert pq.ParquetFile(f).metadata.num_rows <= target
    back = spark.read.parquet(compacted)
    assert back.count() == n
    assert back.exceptAll(ev).count() == 0


def test_spread_for_cpu_widens_narrow_scans_only(spark):
    """The CPU fan-out helper must repartition a narrow input up to the
    cluster parallelism and leave an already-wide input untouched (at a
    real 100 TB scan it must be a no-op, not an extra shuffle)."""
    from streaming_data_ingestion_spark.tables import load, spread_for_cpu

    from tests.conftest import SF_DIR

    target = spark.sparkContext.defaultParallelism
    narrow = load(spark, SF_DIR, "documents")  # single-row-group fixture
    assert narrow.rdd.getNumPartitions() < target
    widened = spread_for_cpu(narrow)
    assert widened.rdd.getNumPartitions() == target
    assert widened.count() == narrow.count()

    wide = narrow.repartition(target + 4)
    assert spread_for_cpu(wide).rdd.getNumPartitions() == target + 4  # no-op


def test_aqe_splits_skewed_join_partition(spark):
    """The session enables AQE skew-join handling; this pins that it
    actually FIRES: a sort-merge join with one pathologically hot key
    must show skew=true in the final adaptive plan (the hot partition
    was split across tasks at runtime) and still return exact results.
    Thresholds are lowered to make fixture-scale data 'skewed' — at real
    scale the defaults (256 MB) play the same role.

    Two preconditions the construction must satisfy (each silently
    disables the rule if violated): the skewed shuffle needs MULTIPLE
    map outputs (splits happen at mapper granularity — a single-file
    scan gives one mapper and nothing to split, hence the repartition),
    and BOTH join children must be plain shuffle stages (an aggregate
    between the exchange and the join, e.g. a distinct-derived dim,
    blocks partition recomposition)."""
    ev = load(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    # fatten the fixture 20x, with 90% of rows hammering one key
    big = (
        ev.withColumn("dup", F.explode(F.sequence(F.lit(1), F.lit(20))))
        .withColumn(
            "k",
            F.when(F.col("event_id") % 10 < 9, F.lit(0)).otherwise(
                F.col("user_id")
            ),
        )
        .repartition(16)
    )
    dim = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("tag")
    )

    saved = {
        c: spark.conf.get(c)
        for c in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.enabled",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")

        joined = big.join(dim, "k")
        # collect() drives THIS DataFrame's own QueryExecution (count()
        # would wrap it in a new one and leave this plan unfinalized)
        rows = joined.collect()
        assert len(rows) == big.count()  # every row matches one dim row
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final
        assert "skew=true" in final, final[:2000]
    finally:
        for c, v in saved.items():
            spark.conf.set(c, v)


def test_zorder_clusters_both_dimensions(spark, tmp_path):
    """Z-ordered files must each cover a small rectangle of the
    (user_id, value) key space — the footer min/max stats that let a
    scan skip files for a range predicate on EITHER column. A
    round-robin layout's files each span ~the whole domain; the z-order
    layout's average normalized span must be far smaller on both axes."""
    import glob

    import pyarrow.parquet as pq

    from streaming_data_ingestion_spark.layout import write_zordered

    ev = load(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    n_files = 8

    zpath = str(tmp_path / "zordered")
    write_zordered(ev, zpath, ["user_id", "value"], n_files)
    rpath = str(tmp_path / "roundrobin")
    ev.repartition(n_files).write.parquet(rpath)

    def spans(path):
        u_spans, v_spans = [], []
        lo_u, hi_u, lo_v, hi_v = None, None, None, None
        per_file = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            schema_names = [md.schema.column(i).name for i in range(md.num_columns)]
            iu, iv = schema_names.index("user_id"), schema_names.index("value")
            fu_lo = min(md.row_group(r).column(iu).statistics.min for r in range(md.num_row_groups))
            fu_hi = max(md.row_group(r).column(iu).statistics.max for r in range(md.num_row_groups))
            fv_lo = min(md.row_group(r).column(iv).statistics.min for r in range(md.num_row_groups))
            fv_hi = max(md.row_group(r).column(iv).statistics.max for r in range(md.num_row_groups))
            per_file.append((fu_lo, fu_hi, fv_lo, fv_hi))
        lo_u = min(p[0] for p in per_file); hi_u = max(p[1] for p in per_file)
        lo_v = min(p[2] for p in per_file); hi_v = max(p[3] for p in per_file)
        for fu_lo, fu_hi, fv_lo, fv_hi in per_file:
            u_spans.append((fu_hi - fu_lo) / max(hi_u - lo_u, 1e-12))
            v_spans.append((fv_hi - fv_lo) / max(hi_v - lo_v, 1e-12))
        return sum(u_spans) / len(u_spans), sum(v_spans) / len(v_spans)

    zu, zv = spans(zpath)
    ru, rv = spans(rpath)
    # round-robin files each span most of the domain (small per-file
    # samples at fixture scale leave the extremes slightly unvisited)
    assert ru > 0.6 and rv > 0.6
    # z-ordered files cluster BOTH dimensions simultaneously
    assert zu < 0.5 * ru, (zu, ru)
    assert zv < 0.5 * rv, (zv, rv)
    # and the data survives the round trip
    back = spark.read.parquet(zpath)
    assert back.count() == ev.count()
    assert back.exceptAll(ev).count() == 0


def test_zorder_clamps_bits_to_sign_safe_range(spark):
    """With 4+ cluster columns the naive bits=16 interleave would push
    the top bit onto bit 63 (the sign bit) — rows high in the last
    dimension would sort BEFORE everything else and the min/max
    file-skipping contract would silently break. zorder_value must clamp
    bits so bits·dims ≤ 63 and keep every key non-negative."""
    import pytest as _pytest

    from streaming_data_ingestion_spark.layout import zorder_value

    ev = load(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    bounds = ev.agg(
        *[F.min(c).alias(f"lo_{c}") for c in ev.columns],
        *[F.max(c).alias(f"hi_{c}") for c in ev.columns],
    ).collect()[0]
    cols = list(ev.columns)
    mins = [bounds[f"lo_{c}"] for c in cols]
    maxs = [bounds[f"hi_{c}"] for c in cols]

    z4 = zorder_value(cols, mins, maxs, bits=16)  # would be 64 bits naive
    stats = ev.select(z4.alias("z")).agg(
        F.min("z").alias("lo"), F.max("z").alias("hi")
    ).collect()[0]
    assert stats["lo"] >= 0, "sign bit leaked into the z-order key"
    # clamped to 15 bits/dim ⇒ top interleaved bit is 4·15−1 = 59
    assert stats["hi"] < (1 << 60)

    # monotone sanity: a row maximal in every dimension must not sort
    # below a row minimal in every dimension (the sign-flip symptom)
    probe = spark.createDataFrame(
        [tuple(mins), tuple(maxs)], schema=ev.schema
    ).select(z4.alias("z"))
    z_lo, z_hi = [r["z"] for r in probe.collect()]
    assert z_lo < z_hi

    with _pytest.raises(ValueError):
        zorder_value([f"c{i}" for i in range(64)], [0] * 64, [1] * 64)


def test_zorder_layout_skips_files(spark, tmp_path):
    """The registered q_zorder_scan read path must actually skip: (a)
    both range predicates reach the parquet reader as PushedFilters, and
    (b) by footer min/max statistics, the set of files that can match
    the 2-D rectangle is a strict subset of the layout — while the same
    data written round-robin matches in (nearly) every file. This is the
    read-path twin of test_zorder_clusters_both_dimensions, tied to the
    oracle-checked query instead of a synthetic layout."""
    import glob

    import pyarrow.parquet as pq

    from streaming_data_ingestion_spark.queries.layout_q import (
        _PART_HI,
        _PART_LO,
        _SHIP_HI,
        _SHIP_LO,
        zordered_lineitem_path,
    )
    from streaming_data_ingestion_spark.registry import all_queries

    # (a) plan: both predicates pushed to the scan
    plan = _plan(all_queries()["q_zorder_scan"].fn(spark, SF_DIR))
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    joined = " ".join(pushed)
    assert "l_shipdate" in joined and "l_partkey" in joined, joined

    # (b) footer stats: matching-file subset strictly smaller than total
    import datetime as _dt

    zpath = zordered_lineitem_path(spark, SF_DIR)
    lo_d = _dt.date.fromisoformat(_SHIP_LO)
    hi_d = _dt.date.fromisoformat(_SHIP_HI)

    def matching(path):
        files = glob.glob(f"{path}/*.parquet")
        hit = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            i_d, i_p = names.index("l_shipdate"), names.index("l_partkey")
            f_d_lo = min(
                md.row_group(r).column(i_d).statistics.min
                for r in range(md.num_row_groups)
            )
            f_d_hi = max(
                md.row_group(r).column(i_d).statistics.max
                for r in range(md.num_row_groups)
            )
            f_p_lo = min(
                md.row_group(r).column(i_p).statistics.min
                for r in range(md.num_row_groups)
            )
            f_p_hi = max(
                md.row_group(r).column(i_p).statistics.max
                for r in range(md.num_row_groups)
            )
            if f_d_lo <= hi_d and f_d_hi >= lo_d and (
                f_p_lo <= _PART_HI and f_p_hi >= _PART_LO
            ):
                hit += 1
        return hit, len(files)

    z_hit, z_total = matching(zpath)
    assert z_total >= 8
    assert z_hit < z_total / 2, (z_hit, z_total)

    # same data + schema (the stored copy's DATE columns carry stats —
    # raw fixture timestamps are INT96, which has none), just unclustered
    rpath = str(tmp_path / "lineitem_rr")
    spark.read.parquet(zpath).repartition(z_total).write.parquet(rpath)
    r_hit, r_total = matching(rpath)
    assert r_hit > z_hit, (r_hit, z_hit)


def test_optimize_zordered_compacts_and_clusters(spark, tmp_path):
    """The OPTIMIZE-shaped maintenance job must do both halves in one
    rewrite: small-file debris collapses to the row-count-derived file
    budget, every row survives bit-exactly, and the rewritten files are
    Z-clustered — a 2-D rectangle predicate admits (by footer min/max
    stats) strictly fewer files than the layout holds, which the
    pre-optimize round-robin debris does not."""
    import glob

    import pyarrow.parquet as pq

    from streaming_data_ingestion_spark.layout import optimize_zordered

    path = str(tmp_path / "debris")
    ev = load(spark, SF_DIR, "events").select(
        "event_id", "user_id", "value", "ts"
    )
    # simulate streaming sink debris: 64 tiny files
    ev.repartition(64).write.parquet(path)
    assert len(glob.glob(f"{path}/*.parquet")) >= 32
    before = ev.collect()

    # size the file budget from the data so the layout has enough
    # files to demonstrate 2-D skipping at any fixture scale
    n_rows = len(before)
    stats = optimize_zordered(
        spark, path, ["user_id", "event_id"],
        target_rows_per_file=max(1, n_rows // 16),
    )
    assert stats["n_rows"] == len(before)
    assert stats["files_after"] <= stats["files_before"] // 2
    after = spark.read.parquet(path)
    assert after.count() == len(before)
    assert after.exceptAll(spark.createDataFrame(before)).count() == 0

    def admits(lo_u, hi_u, lo_v, hi_v):
        hit = total = 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            names = [
                md.schema.column(i).name for i in range(md.num_columns)
            ]
            u_i, v_i = names.index("user_id"), names.index("event_id")
            u_min = min(
                md.row_group(g).column(u_i).statistics.min
                for g in range(md.num_row_groups)
            )
            u_max = max(
                md.row_group(g).column(u_i).statistics.max
                for g in range(md.num_row_groups)
            )
            v_min = min(
                md.row_group(g).column(v_i).statistics.min
                for g in range(md.num_row_groups)
            )
            v_max = max(
                md.row_group(g).column(v_i).statistics.max
                for g in range(md.num_row_groups)
            )
            total += 1
            if u_max >= lo_u and u_min <= hi_u and v_max >= lo_v and v_min <= hi_v:
                hit += 1
        return hit, total

    max_eid = max(r["event_id"] for r in before)
    max_uid = max(r["user_id"] for r in before)
    hit, total = admits(0, max_uid // 8, 0, max_eid // 8)
    assert total == stats["files_after"]
    assert hit < total, "Z-ordered files must be skippable on a 2-D range"


def test_optimize_zordered_crash_leaves_original_intact(spark, tmp_path):
    """Crash-safety contract: if the rewrite fails BEFORE the swap, the
    original table is untouched and still readable. Simulated by
    requesting an unwritable cluster column (the bounds aggregate
    fails) — the temp dir may or may not exist, but the live path's
    files and rows are bit-identical."""
    import glob
    import os

    import pytest as _pytest

    from streaming_data_ingestion_spark.layout import optimize_zordered

    path = str(tmp_path / "safe")
    ev = load(spark, SF_DIR, "events").select("event_id", "user_id")
    ev.repartition(8).write.parquet(path)
    before_files = {
        f: os.stat(f).st_mtime_ns for f in glob.glob(f"{path}/*.parquet")
    }
    before_rows = sorted(r["event_id"] for r in ev.collect())

    with _pytest.raises(Exception):
        optimize_zordered(
            spark, path, ["no_such_column"], target_rows_per_file=100
        )

    after_files = {
        f: os.stat(f).st_mtime_ns for f in glob.glob(f"{path}/*.parquet")
    }
    assert after_files == before_files
    got = sorted(
        r["event_id"] for r in spark.read.parquet(path).collect()
    )
    assert got == before_rows


def test_zorder_optimize_scan_read_path_skips(spark):
    """The registered q_zorder_optimize_scan read path (the OPTIMIZE
    story's driver-visible half): (a) both rectangle predicates reach
    the parquet reader as PushedFilters, (b) the rewrite actually
    compacted — far fewer files than the 48-file debris it started
    from — and (c) footer min/max stats admit a strict subset of the
    rewritten files for the 2-D rectangle (the debris admitted ~all)."""
    import glob

    import pyarrow.parquet as pq

    from streaming_data_ingestion_spark.queries.serving import (
        _OPT_DEBRIS_FILES,
        _OPT_PART_HI,
        _OPT_PART_LO,
        _OPT_SUPP_HI,
        _OPT_SUPP_LO,
        optimized_lineitem_path,
    )
    from streaming_data_ingestion_spark.registry import all_queries

    plan = _plan(all_queries()["q_zorder_optimize_scan"].fn(spark, SF_DIR))
    assert "PushedFilters" in plan
    pushed = " ".join(
        ln for ln in plan.splitlines() if "PushedFilters" in ln
    )
    assert "l_partkey" in pushed and "l_suppkey" in pushed, pushed

    path = optimized_lineitem_path(spark, SF_DIR)
    files = glob.glob(f"{path}/*.parquet")
    assert 1 < len(files) < _OPT_DEBRIS_FILES / 2, len(files)

    hit = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        i_p, i_s = names.index("l_partkey"), names.index("l_suppkey")
        p_lo = min(md.row_group(r).column(i_p).statistics.min
                   for r in range(md.num_row_groups))
        p_hi = max(md.row_group(r).column(i_p).statistics.max
                   for r in range(md.num_row_groups))
        s_lo = min(md.row_group(r).column(i_s).statistics.min
                   for r in range(md.num_row_groups))
        s_hi = max(md.row_group(r).column(i_s).statistics.max
                   for r in range(md.num_row_groups))
        if (p_lo <= _OPT_PART_HI and p_hi >= _OPT_PART_LO
                and s_lo <= _OPT_SUPP_HI and s_hi >= _OPT_SUPP_LO):
            hit += 1
    assert hit < len(files), (hit, len(files))


def test_bucketed_growth_committed_read_excludes_torn_epoch(spark):
    """A reader racing an in-flight (or crashed) epoch append must not
    see the torn epoch: read_committed_facts pins epoch to the marked set
    as a PartitionFilter, a join through the committed view stays
    exchange-free, and the writer's next attempt heals the debris."""
    import os
    import shutil

    from streaming_data_ingestion_spark.streaming.bucket_growth import (
        bucketed_growth_writer,
        read_committed_facts,
    )
    from streaming_data_ingestion_spark.streaming.sink import (
        last_committed_epoch,
    )
    from streaming_data_ingestion_spark.tables import artifact_path

    li = load(spark, SF_DIR, "lineitem")
    od = load(spark, SF_DIR, "orders")
    path = artifact_path("li_torn")
    try:
        wb = bucketed_growth_writer(
            "li_torn", path, ["l_orderkey"], 4,
            sort_cols=["l_orderkey"], run_ns="t",
        )
        wb(li.filter(F.col("l_orderkey") % 3 == 0), 0)
        wb(li.filter(F.col("l_orderkey") % 3 == 1), 1)
        assert last_committed_epoch(path, "t") == 1
        n01 = li.filter(F.col("l_orderkey") % 3 != 2).count()

        # torn epoch 2: rows landed (job committed) but NO marker —
        # the writer crashed between saveAsTable and the marker write
        (li.filter(F.col("l_orderkey") % 3 == 2).limit(11)
         .withColumn("__epoch", F.lit("t-2"))
         .write.mode("append").partitionBy("__epoch")
         .bucketBy(4, "l_orderkey").sortBy("l_orderkey")
         .option("path", path).saveAsTable("li_torn", format="parquet"))
        assert os.path.exists(os.path.join(path, "__epoch=t-2"))
        assert last_committed_epoch(path, "t") == 1

        raw = spark.table("li_torn")
        assert raw.count() == n01 + 11  # the race is real

        snap = read_committed_facts(spark, "li_torn", path)
        assert snap.count() == n01
        plan = _plan(snap)
        pf = plan.split("PartitionFilters:")[1].split("\n")[0]
        assert "__epoch#" in pf, pf

        # the committed view joins exchange-free, same as the raw table
        write_bucketed(
            od, "od_torn", ["o_orderkey"], 4, path=artifact_path("od_torn")
        )
        with_conf = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = snap.join(
                spark.table("od_torn"),
                snap["l_orderkey"] == F.col("o_orderkey"),
            )
            jplan = _plan(j)
            assert "SortMergeJoin" in jplan
            assert jplan.count("Arguments: hashpartitioning") == 0
            want = (
                li.filter(F.col("l_orderkey") % 3 != 2)
                .join(od, li["l_orderkey"] == od["o_orderkey"]).count()
            )
            assert j.count() == want
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", with_conf)

        # the next real attempt replaces the debris and commits
        wb(li.filter(F.col("l_orderkey") % 3 == 2), 2)
        assert last_committed_epoch(path, "t") == 2
        healed = read_committed_facts(spark, "li_torn", path)
        assert healed.count() == li.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS li_torn")
        spark.sql("DROP TABLE IF EXISTS od_torn")
        shutil.rmtree(path, ignore_errors=True)
        shutil.rmtree(artifact_path("od_torn"), ignore_errors=True)

