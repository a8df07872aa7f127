"""Round-11 properties: the scale-adaptive width policy behind
q_emb_neardup_lsh_auto.

The fixed-width LSH binding measured 85.7x wall on the sf1->sf10 decade
(docs/BENCH_SWEEP_sf10.json) because static band width lets bucket
population grow with n. The auto binding derives
rows_per_band = clamp(ceil(log2 n) - 1, 6, 24) from a corpus count on
BOTH engines; these tests pin (a) the Python/DuckDB width arithmetic
against each other integer-exactly across the whole clamp range, (b)
the widths at the known fixture sizes, and (c) that the auto entry
point builds exactly the plan the explicit-width builder does.
"""

from __future__ import annotations

import duckdb

from streaming_data_ingestion_spark.queries.llm_similarity import (
    _NDL_AUTO_MAX,
    _NDL_AUTO_MIN,
    _auto_rows,
    _corpus_count,
    _sql_auto_rows_case,
    emb_neardup_lsh,
    emb_neardup_lsh_auto,
)

SF_TINY = "/root/testdata/sf0.001"


def test_auto_rows_matches_duckdb_case_ladder():
    """The Python bit_length policy and the oracle's CASE ladder must
    agree for EVERY n — probe each power of two in the clamp range plus
    its neighbors (the only places an off-by-one could hide), plus the
    small-n floor."""
    case = _sql_auto_rows_case()
    ns = [1, 2, 3, 5, 10, 63, 64, 65]
    for w in range(_NDL_AUTO_MIN, _NDL_AUTO_MAX + 3):
        p = 1 << w
        ns += [p - 1, p, p + 1]
    con = duckdb.connect()
    for n in ns:
        got = con.execute(
            f"SELECT {case} FROM (SELECT {n}::BIGINT AS n)"
        ).fetchone()[0]
        assert got == _auto_rows(n), f"n={n}: duckdb {got} != py {_auto_rows(n)}"
    con.close()


def test_auto_rows_fixture_widths():
    """The widths the policy picks at the scales the repo certifies:
    8 at the 500-vector driver fixtures (a plan no fixed binding
    builds), 10 at sf0.1 (the fixed binding's tuning point), 14 at sf1
    (scripts/neardup_policy_probe.py's recommended width), 17 at sf10."""
    assert _auto_rows(500) == 8
    assert _auto_rows(2000) == 10
    assert _auto_rows(20000) == 14
    assert _auto_rows(200000) == 17
    # clamp edges
    assert _auto_rows(1) == _NDL_AUTO_MIN
    assert _auto_rows(2**40) == _NDL_AUTO_MAX


def test_auto_entry_equals_explicit_width(spark):
    """emb_neardup_lsh_auto must return exactly what the parameterized
    builder returns at the derived width — the auto entry adds POLICY,
    never plan shape."""
    n = _corpus_count(spark, SF_TINY)
    got = sorted(
        tuple(r) for r in emb_neardup_lsh_auto(spark, SF_TINY).collect()
    )
    want = sorted(
        tuple(r)
        for r in emb_neardup_lsh(
            spark, SF_TINY, rows_per_band=_auto_rows(n)
        ).collect()
    )
    assert got == want and len(got) > 0


def test_cms_width_law():
    """cms_width_for solves the Count-Min error law for width and the
    guard refuses vacuous grids (docs/SCALE.md static-parameter audit).
    The law is a function of phi only — never of N — which is WHY the
    registered 4x1024 grid needs no re-sizing as the corpus grows."""
    import math

    import pytest

    from streaming_data_ingestion_spark.queries.sketches import (
        _CMS_DEPTH,
        _CMS_WIDTH,
        _PHI_DENOM,
        check_cms_params,
        cms_width_for,
    )

    # slack-2 candidates at phi=1/200 need e*200/0.5 = 1088 -> 2048
    assert cms_width_for(200) == 2048
    assert cms_width_for(100) == 1024
    # the registered grid passes the vacuousness guard with margin
    check_cms_params(_CMS_WIDTH, _CMS_DEPTH, _PHI_DENOM)
    # epsilon >= phi must refuse: e/512 = 0.0053 >= 1/200
    with pytest.raises(ValueError, match="vacuous"):
        check_cms_params(512, 4, 200)
    with pytest.raises(ValueError):
        cms_width_for(200, candidate_slack=1.0)
    # returned width always satisfies its own guard
    for phi_denom in (10, 50, 200, 1000):
        check_cms_params(cms_width_for(phi_denom), 4, phi_denom)
        assert cms_width_for(phi_denom) >= math.e * phi_denom


def test_cms_parameterized_grid_merges(spark):
    """A non-default grid shape must keep the mergeable-partial
    contract: partials of two document slices SUMMED equal the one-shot
    grid over the union — at width 64 / depth 2, not just the
    registered 4x1024."""
    from pyspark.sql import functions as F

    from streaming_data_ingestion_spark.queries.sketches import (
        cms_grid_partial,
    )
    from streaming_data_ingestion_spark.tables import load

    docs = load(spark, SF_TINY, "documents").select("doc_id", "text")
    whole = cms_grid_partial(docs, width=64, depth=2)
    a = cms_grid_partial(docs.filter(F.col("doc_id") % 2 == 0), 64, 2)
    b = cms_grid_partial(docs.filter(F.col("doc_id") % 2 == 1), 64, 2)
    summed = (
        a.unionByName(b)
        .groupBy("r", "bucket")
        .agg(F.sum("n").cast("bigint").alias("n"))
    )
    got = sorted(tuple(r) for r in summed.collect())
    want = sorted(tuple(r) for r in whole.collect())
    assert got == want and len(got) > 0
    assert max(r[1] for r in got) < 64 and max(r[0] for r in got) < 2


def test_cms_probe_shape_guard(spark, tmp_path):
    """estimate_tokens must refuse to probe a stored grid whose bucket
    range contradicts the declared width — a silent mismatch would
    return wrong (non-superset) estimates."""
    import pytest

    from streaming_data_ingestion_spark.queries.sketches import (
        cms_grid_partial,
    )
    from streaming_data_ingestion_spark.streaming.cms_stream import (
        estimate_tokens,
    )
    from streaming_data_ingestion_spark.tables import load

    docs = load(spark, SF_TINY, "documents").select("text")
    path = str(tmp_path / "grid")
    cms_grid_partial(docs).write.parquet(path)  # default 4x1024
    probes = spark.createDataFrame([("the",), ("and",)], ["token"])
    with pytest.raises(ValueError, match="inconsistent"):
        estimate_tokens(spark, path, probes, width=64).collect()
    # matching declared shape works and keeps the over-estimate bound
    out = {
        r["token"]: r["est"]
        for r in estimate_tokens(spark, path, probes).collect()
    }
    assert set(out) == {"the", "and"} and all(v >= 0 for v in out.values())


def test_ivf_auto_k_cells_law():
    """auto_k_cells follows K* = sqrt(nprobe*n) rounded to a power of
    two, clamped — the k-proportional-to-sqrt(n) rule that keeps ADC
    candidates per probe ~sqrt(n) instead of linear."""
    import math

    import pytest

    from streaming_data_ingestion_spark.ml.ivfpq import auto_k_cells

    assert auto_k_cells(16) == 4  # isqrt=4 -> pow2 4 (also the floor)
    assert auto_k_cells(2000) == 64  # isqrt=44 -> 64
    assert auto_k_cells(200000) == 512  # isqrt=447 -> 512
    assert auto_k_cells(2000, nprobe=4) == 128  # sqrt(8000)=89 -> 128
    assert auto_k_cells(10**12) == 1 << 18  # clamped at the cap
    assert auto_k_cells(1) == 4  # floor
    with pytest.raises(ValueError):
        auto_k_cells(0)
    # K within [K*, 2K*) wherever the clamp is inactive
    for n in (10_000, 123_456, 7_654_321):
        k = auto_k_cells(n)
        assert k >= math.isqrt(n) and k < 2 * math.isqrt(n) + 2


def test_scale_contract_keys_exist():
    """The consolidated scale-certification skip contract must name only
    REGISTERED keys (a rename that orphans a skip would silently
    certify the renamed key at a scale its oracle cannot run) and the
    two reason classes must not overlap."""
    from streaming_data_ingestion_spark.registry import all_queries
    from streaming_data_ingestion_spark.scale_contract import (
        LABEL_CELL_DIAGNOSTIC_KEYS,
        ORACLE_CAPACITY_KEYS,
        decade_sweep_skips,
        scale_hash_gate_skips,
    )

    from streaming_data_ingestion_spark.scale_contract import (
        SKEW_QUADRATIC_ORACLE_KEYS,
    )

    reg = set(all_queries())
    assert set(scale_hash_gate_skips(skewed=True)) <= reg
    assert not (set(LABEL_CELL_DIAGNOSTIC_KEYS) & set(ORACLE_CAPACITY_KEYS))
    assert set(decade_sweep_skips()) == set(LABEL_CELL_DIAGNOSTIC_KEYS)
    # the skew-only class is additive: plain gates still run those keys
    assert set(scale_hash_gate_skips()) | set(SKEW_QUADRATIC_ORACLE_KEYS) == set(
        scale_hash_gate_skips(skewed=True)
    )
    assert not (set(scale_hash_gate_skips()) & set(SKEW_QUADRATIC_ORACLE_KEYS))
    # the production replacements for the excused diagnostics are
    # themselves registered and oracle-checked
    assert {"q_emb_neardup_lsh", "q_emb_neardup_lsh_auto"} <= reg


def test_pq_encode_np_bit_parity(spark):
    """The numpy/Arrow PQ encode must replay the HOF path's IEEE
    operation order EXACTLY: codes equal and sq_err bit-equal (not
    tolerance-equal) per vector on the real fixture — the property that
    makes the fallback a drop-in swap at the next decade step."""
    import math
    import struct

    from streaming_data_ingestion_spark.queries.llm_similarity import (
        pq_encode_df,
        pq_encode_np_df,
    )
    from streaming_data_ingestion_spark.tables import load

    e = load(spark, SF_TINY, "embeddings").select("vec_id", "embedding")
    hof = {
        r["vec_id"]: (tuple(r["codes"]), r["sq_err"])
        for r in pq_encode_df(e).collect()
    }
    npy = {
        r["vec_id"]: (tuple(r["codes"]), r["sq_err"])
        for r in pq_encode_np_df(e).collect()
    }
    assert set(hof) == set(npy) and len(hof) == 500
    for vid, (codes_h, err_h) in hof.items():
        codes_n, err_n = npy[vid]
        assert codes_h == codes_n, f"codes diverge at vec {vid}"
        # bit-equality, stricter than ==
        assert struct.pack("<d", err_h) == struct.pack("<d", err_n), (
            f"sq_err ulp divergence at vec {vid}: {err_h!r} vs {err_n!r}"
        )
        assert math.isfinite(err_h) and err_h >= 0.0


def test_ivfpq_auto_k_build_and_probe(spark, tmp_path):
    """auto_k_cells composes with the real index builder: at n=500 the
    law picks K=32 (isqrt(500)=22 → next pow2), the build partitions
    into at most that many cells, and a full-probe query over the
    auto-K index returns the corpus vector nearest to itself first —
    the helper is certified against the index it sizes, not just its
    arithmetic."""
    from pyspark.sql import functions as F

    from streaming_data_ingestion_spark.ml.ivfpq import (
        auto_k_cells,
        build_ivfpq_index,
        query_ivfpq,
    )
    from streaming_data_ingestion_spark.tables import load

    e = load(spark, SF_TINY, "embeddings").select("vec_id", "embedding")
    n = e.count()
    k = auto_k_cells(n)
    assert k == 32
    path = str(tmp_path / "ivfpq_auto")
    cents = build_ivfpq_index(e, path, k_cells=k)
    assert len(cents) == k
    idx = spark.read.parquet(path)
    n_cells = idx.select("cell").distinct().count()
    assert 1 < n_cells <= k and idx.count() == n
    # probe with a corpus vector at full nprobe: its own id must rank
    # first (distance 0 survives any ADC ordering into the re-rank)
    probe = e.orderBy("vec_id").first()
    got = query_ivfpq(
        spark, path, cents, list(probe["embedding"]), nprobe=k, k=3
    ).collect()
    assert got and got[0]["vec_id"] == probe["vec_id"]


def test_streaming_cms_nondefault_shape(spark, tmp_path):
    """The parameterized streaming maintainer: a 2x64 grid maintained
    from a batch-at-a-time writer must equal the one-shot 2x64 batch
    grid, and the shape-aware probe must read it with the SAME shape
    declared (the default-shape probe refuses it)."""
    import pytest
    from pyspark.sql import functions as F

    from streaming_data_ingestion_spark.queries.sketches import (
        cms_grid_partial,
    )
    from streaming_data_ingestion_spark.streaming.cms_stream import (
        estimate_tokens,
        merge_cms_grid,
    )
    from streaming_data_ingestion_spark.tables import load

    docs = load(spark, SF_TINY, "documents").select("doc_id", "text")
    table = str(tmp_path / "grid64")
    wb = merge_cms_grid(table, run_ns="r11-test", width=64, depth=2)
    # two foreachBatch epochs over disjoint halves (+ one replay of
    # epoch 1, which the marker protocol must no-op)
    wb(docs.filter(F.col("doc_id") % 2 == 0), 0)
    wb(docs.filter(F.col("doc_id") % 2 == 1), 1)
    wb(docs.filter(F.col("doc_id") % 2 == 1), 1)
    stored = spark.read.parquet(table)
    got = sorted(
        tuple(r) for r in stored.select("r", "bucket", "n").collect()
    )
    want = sorted(
        tuple(r) for r in cms_grid_partial(docs, width=64, depth=2).collect()
    )
    assert got == want and len(got) > 0
    probes = spark.createDataFrame([("the",)], ["token"])
    # the maintainer publishes the shape sidecar (r12), so ANY mismatched
    # declaration refuses — including the default-shape probe over this
    # NARROWER grid, which the old observed-range heuristic waved through
    with pytest.raises(ValueError, match="maintained with shape 2x64"):
        estimate_tokens(spark, table, probes).collect()
    with pytest.raises(ValueError, match="maintained with shape 2x64"):
        estimate_tokens(spark, table, probes, width=32, depth=1).collect()


def test_corpus_count_memoized(spark):
    """The width policy's 1-scalar count is paid once per (application,
    corpus snapshot) — repeated builds must hit the cache, and the cache
    must be keyed by file snapshot (path + mtime), not bare directory."""
    from streaming_data_ingestion_spark import artifacts

    n1 = _corpus_count(spark, SF_TINY)
    key, n = artifacts._LIVE["ndl_corpus_count"]
    assert n == n1 and key[3] == artifacts.snapshot(SF_TINY)
    # poison the cache: a second call must NOT recount
    artifacts._LIVE["ndl_corpus_count"] = (key, n1 + 7)
    try:
        assert _corpus_count(spark, SF_TINY) == n1 + 7
    finally:
        artifacts._LIVE["ndl_corpus_count"] = (key, n1)


def test_corpus_count_tracks_fixture_rebuild(spark, tmp_path):
    """A rebuilt/appended corpus must re-derive the count (and therefore
    the LSH width): the memo keys on the file's mtime, so serving a
    stale count across a rebuild — where Spark's derived width would
    diverge from the oracle's live COUNT(*) ladder — is impossible.
    Crossing a doubling boundary flips the derived width itself."""
    from streaming_data_ingestion_spark.queries.llm_similarity import (
        _auto_rows,
    )

    sf = str(tmp_path)
    spark.range(100).selectExpr("id AS vec_id").write.parquet(
        f"{sf}/embeddings.parquet"
    )
    n1 = _corpus_count(spark, sf)
    assert n1 == 100
    # rebuild PAST a doubling boundary (100 -> 300 rows)
    spark.range(300).selectExpr("id AS vec_id").write.mode(
        "overwrite"
    ).parquet(f"{sf}/embeddings.parquet")
    n2 = _corpus_count(spark, sf)
    assert n2 == 300
    assert _auto_rows(n2) > _auto_rows(n1)  # 8 > 6: the width moved


def test_corpus_count_serves_from_snapshot_stamped_catalog(
    spark, tmp_path, monkeypatch
):
    """r13 (VERDICT r11 item 6 / r12 item 8): on a memo miss the width
    policy reads the corpus count from the stats catalog WHEN the
    registered table's statistics are stamped for the file's current
    snapshot — no inline COUNT(*) job — and a fold-in that grows the
    corpus past a doubling boundary without re-ANALYZE falls back to
    the live count instead of serving the stale catalog number (the
    divergence class the mtime keying exists to prevent)."""
    import os

    from streaming_data_ingestion_spark.queries import llm_similarity as m
    from streaming_data_ingestion_spark.queries.llm_similarity import (
        _auto_rows,
    )
    from streaming_data_ingestion_spark.stats_catalog import (
        analyze_with_snapshot,
        row_count_for_path,
    )

    sf = str(tmp_path)
    path = f"{sf}/embeddings.parquet"
    spark.range(100).selectExpr("id AS vec_id").write.parquet(path)
    spark.sql("DROP TABLE IF EXISTS sdi_corpus_stats_t")
    spark.sql(
        "CREATE TABLE sdi_corpus_stats_t (vec_id BIGINT) USING parquet "
        f"LOCATION '{path}'"
    )
    try:
        analyze_with_snapshot(spark, "sdi_corpus_stats_t", path)
        assert row_count_for_path(spark, path) == 100
        # the catalog answer must be used: an inline count would call
        # load(), which we make explode
        def _boom(*a, **k):
            raise AssertionError(
                "inline COUNT ran despite snapshot-fresh catalog stats"
            )

        monkeypatch.setattr(m, "load", _boom)
        n1 = _corpus_count(spark, sf)
        assert n1 == 100
        monkeypatch.undo()

        # fold-in past the doubling boundary WITHOUT re-ANALYZE: the
        # stamp no longer matches the file snapshot -> catalog refuses,
        # live count restores oracle-ladder agreement, width moves
        spark.range(300).selectExpr("id AS vec_id").write.mode(
            "overwrite"
        ).parquet(path)
        assert row_count_for_path(spark, path) is None  # stale stamp
        n2 = _corpus_count(spark, sf)
        assert n2 == 300
        assert _auto_rows(n2) > _auto_rows(n1)

        # the maintainer's re-ANALYZE re-enables the catalog path for
        # the new snapshot (fresh memo key -> catalog consulted again)
        spark.sql("REFRESH TABLE sdi_corpus_stats_t")
        analyze_with_snapshot(spark, "sdi_corpus_stats_t", path)
        assert row_count_for_path(spark, path) == 300
        os.utime(path)  # new snapshot key: force a memo miss
        monkeypatch.setattr(m, "load", _boom)
        # stamp is now stale vs the touched mtime -> must NOT serve 300
        # from the catalog blindly; re-stamp for the touched snapshot
        monkeypatch.undo()
        analyze_with_snapshot(spark, "sdi_corpus_stats_t", path)
        monkeypatch.setattr(m, "load", _boom)
        assert _corpus_count(spark, sf) == 300
    finally:
        monkeypatch.undo()
        spark.sql("DROP TABLE IF EXISTS sdi_corpus_stats_t")


def test_analyze_stamp_is_stale_when_a_write_lands_during_analyze(
    spark, tmp_path, monkeypatch
):
    """analyze_with_snapshot stamps the mtime read BEFORE the ANALYZE.
    A write that lands while ANALYZE runs must leave the stamp stale, so
    row_count_for_path refuses the catalog count and the caller counts
    inline — the stats may predate the write."""
    from streaming_data_ingestion_spark.stats_catalog import (
        analyze_with_snapshot,
        row_count_for_path,
    )

    path = str(tmp_path / "embeddings.parquet")
    spark.range(100).selectExpr("id AS vec_id").write.parquet(path)
    spark.sql("DROP TABLE IF EXISTS sdi_stats_race_t")
    spark.sql(
        "CREATE TABLE sdi_stats_race_t (vec_id BIGINT) USING parquet "
        f"LOCATION '{path}'"
    )
    sql = spark.sql

    def sql_with_concurrent_write(query, *args, **kwargs):
        out = sql(query, *args, **kwargs)
        if query.startswith("ANALYZE"):
            spark.range(7).selectExpr("id AS vec_id").write.mode(
                "append"
            ).parquet(path)
        return out

    try:
        monkeypatch.setattr(spark, "sql", sql_with_concurrent_write)
        analyze_with_snapshot(spark, "sdi_stats_race_t", path)
        monkeypatch.undo()
        assert row_count_for_path(spark, path) is None
        # an ANALYZE with no concurrent write stamps the live snapshot
        spark.sql("REFRESH TABLE sdi_stats_race_t")
        analyze_with_snapshot(spark, "sdi_stats_race_t", path)
        assert row_count_for_path(spark, path) == 107
    finally:
        monkeypatch.undo()
        spark.sql("DROP TABLE IF EXISTS sdi_stats_race_t")
