"""The snapshot-keyed artifact cache (streaming_data_ingestion_spark/
artifacts.py): an entry is served only for the data, and the Spark
application, it was built from."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

from streaming_data_ingestion_spark import artifacts
from streaming_data_ingestion_spark.queries import layout_q, llm_similarity, serving
from streaming_data_ingestion_spark.tables import TABLES

from .conftest import SF_DIR

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _copy_fixture(dst: str) -> str:
    os.makedirs(dst)
    for t in TABLES:
        shutil.copyfile(f"{SF_DIR}/{t}.parquet", f"{dst}/{t}.parquet")
    return dst


def _rewrite_in_place(path: str) -> None:
    """Write the file's own bytes back: same data, new snapshot stamp."""
    before = os.stat(path).st_mtime_ns
    with open(path, "rb") as fh:
        data = fh.read()
    with open(path, "wb") as fh:
        fh.write(data)
    assert os.stat(path).st_mtime_ns != before


# every stored kind: (builder returning what its entry holds, table it reads)
STORED = {
    "events_hist": (serving.stored_hist_path, "events"),
    "lineitem_optimized": (serving.optimized_lineitem_path, "lineitem"),
    "documents_cms": (serving.stored_cms_path, "documents"),
    "documents_bm25": (serving.stored_bm25_stats_path, "documents"),
    "lineitem_zorder": (layout_q.zordered_lineitem_path, "lineitem"),
    "bucketed_pair": (layout_q.bucketed_pair_tables, "orders"),
    "ivfpq_index": (llm_similarity._ivfpq_index_for, "embeddings"),
    "ivfpq_det": (llm_similarity._det_ivfpq_index_for, "embeddings"),
    "ann_gen": (llm_similarity._gen_index_for, "embeddings"),
}


@pytest.mark.parametrize("kind", sorted(STORED))
def test_stored_kind_rebuilds_after_fixture_rewrite(spark, tmp_path, kind):
    """Rewriting a fixture file in place makes the next call rebuild:
    the entry is keyed on the files' mtimes, not the directory name."""
    build, table = STORED[kind]
    sf = _copy_fixture(str(tmp_path / "sf0.001"))
    first = build(spark, sf)
    assert build(spark, sf) is first  # same snapshot: served, not rebuilt
    _rewrite_in_place(f"{sf}/{table}.parquet")
    again = build(spark, sf)
    assert again != first


def _hist_rows(spark, sf: str) -> list[tuple]:
    return [tuple(r) for r in serving.q_hist_serving(spark, sf).collect()]


def _hist_direct(spark, sf: str) -> list[tuple]:
    """The one-shot histogram over the raw events, with the oracle's
    binning, independent of any stored artifact."""
    from pyspark.sql import functions as F

    from streaming_data_ingestion_spark.tables import load

    v = F.col("value").cast("double")
    b = (
        F.when(v < serving._H_LO, -1)
        .when(v >= serving._H_HI, serving._H_BINS)
        .otherwise(F.floor((v - serving._H_LO) / 2.0).cast("int"))
    )
    counts = (
        load(spark, sf, "events")
        .where(F.col("value").isNotNull())
        .groupBy(b.cast("int").alias("bin"))
        .count()
        .orderBy("bin")
        .collect()
    )
    out, cum = [], 0
    for r in counts:
        cum += r["count"]
        out.append((r["bin"], r["count"], cum))
    return out


def test_same_basename_dirs_serve_their_own_hist(spark, tmp_path):
    """Two directories both named sf0.001 with different events each
    serve their own q_hist_serving result, also when called again after
    the other one was built."""
    import pyarrow.parquet as pq

    a = _copy_fixture(str(tmp_path / "a" / "sf0.001"))
    b = _copy_fixture(str(tmp_path / "b" / "sf0.001"))
    ev = pq.read_table(f"{a}/events.parquet")
    pq.write_table(ev.slice(0, ev.num_rows // 2), f"{b}/events.parquet")

    want_a, want_b = _hist_direct(spark, a), _hist_direct(spark, b)
    assert want_a != want_b
    assert _hist_rows(spark, a) == want_a
    assert _hist_rows(spark, b) == want_b
    assert _hist_rows(spark, a) == want_a


_RESTART = """
from streaming_data_ingestion_spark import artifacts
from streaming_data_ingestion_spark.session import get_spark
from streaming_data_ingestion_spark.tables import load

sf = {sf!r}
s1 = get_spark(app_name="artifacts-restart", master="local[1]", shuffle_partitions=1)
d1 = artifacts.cached("restart_probe", sf, lambda: load(s1, sf, "region"))
assert d1.count() == 5
app1 = s1.sparkContext.applicationId
s1.stop()
s2 = get_spark(app_name="artifacts-restart", master="local[1]", shuffle_partitions=1)
assert s2.sparkContext.applicationId != app1
d2 = artifacts.cached("restart_probe", sf, lambda: load(s2, sf, "region"))
assert d2 is not d1, "served a persisted entry of the stopped application"
assert d2.count() == 5 and d2.storageLevel.useMemory
s2.stop()
print("RESTART OK")
"""


def test_restarted_session_never_gets_a_dead_app_entry():
    """After the session is stopped and a new one started, no persisted
    entry built under the dead application is returned. Runs in its own
    process: stopping the suite's shared session would end every later
    test's."""
    env = dict(os.environ, PYTHONPATH=HERE)
    out = subprocess.run(
        [sys.executable, "-c", _RESTART.format(sf=SF_DIR)],
        cwd=HERE,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0 and "RESTART OK" in out.stdout, out.stderr[-3000:]


def test_concurrent_callers_share_one_build(spark):
    """One lock guards the map and every build: callers racing on one
    key from more threads than cores get the same value from a single
    build (the ann_gen bootstrap is not concurrent-writer safe)."""
    import sys
    import threading
    import time

    builds, got = [], []

    def build():
        builds.append(1)
        time.sleep(0.05)
        return object()

    def call():
        got.append(artifacts.cached("race_probe", SF_DIR, build))

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=call) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1 and len(got) == 16
    assert all(v is got[0] for v in got)


def test_clear_forgets_every_kind(spark):
    """clear() drops every entry and unpersists live DataFrames, so the
    next call of each kind builds again (bench.py's cold pass)."""

    def build():
        return spark.range(5).selectExpr("id AS clear_probe")

    df = artifacts.cached("clear_probe", SF_DIR, build)
    assert df.storageLevel.useMemory
    artifacts.clear()
    assert not artifacts._LIVE
    assert not df.storageLevel.useMemory
    again = artifacts.cached("clear_probe", SF_DIR, build)
    assert again is not df and again.storageLevel.useMemory
    artifacts.clear()


def test_small_persisted_aggregate_is_read_by_one_task(spark):
    """session.get_spark lets AQE size persisted plans from their runtime
    bytes: seven cached aggregate rows sit in one partition, so a job
    over them runs one task, not one per shuffle partition."""
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    agg = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    agg.persist()
    try:
        agg.count()  # materialize the cache
        sc.setJobGroup("cached_width_probe", "cached width probe")
        try:
            assert len(agg.collect()) == 7
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup("cached_width_probe")
        tasks = sum(  # tasks that ran; a skipped map stage runs none
            tracker.getStageInfo(s).numCompletedTasks
            for j in jobs
            for s in tracker.getJobInfo(j).stageIds
        )
        assert len(jobs) == 1 and tasks == 1
    finally:
        agg.unpersist()


def _group_jobs(sc, group: str, run) -> int:
    """Jobs that ``run()`` launched under job group ``group``, read from
    the status store once the listener bus has delivered every event."""
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_dedup_clusters_keeps_the_shared_pair_set(spark):
    """q_dedup_clusters reads the ``lsh.pairs`` artifact and leaves it
    cached: a later pair reader (q_graph_reach) runs the same jobs as it
    did before q_dedup_clusters ran, instead of recomputing MinHash."""
    from streaming_data_ingestion_spark.queries import llm_dedup

    sc = spark.sparkContext

    def reach():
        llm_dedup.q_graph_reach(spark, SF_DIR).collect()

    reach()  # builds the pair set
    before = _group_jobs(sc, "pairs_reach_before", reach)
    llm_dedup.q_dedup_clusters(spark, SF_DIR).collect()
    assert artifacts._LIVE["lsh.pairs"][1].storageLevel.useMemory
    assert _group_jobs(sc, "pairs_reach_after", reach) == before


def test_queries_cache_only_through_artifacts():
    """Derived frames are cached only through artifacts.py: no module
    under queries/ calls ``.persist``, ``.cache`` or ``.unpersist`` (a
    query that unpersists a plan equal to a cached artifact drops the
    shared entry for every later reader). ``localCheckpoint`` is allowed."""
    import ast

    root = os.path.join(HERE, "streaming_data_ingestion_spark", "queries")
    calls = []
    for name in sorted(os.listdir(root)):
        if not name.endswith(".py"):
            continue
        with open(os.path.join(root, name)) as fh:
            tree = ast.parse(fh.read(), name)
        calls += [
            f"{name}:{node.lineno} .{node.func.attr}("
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in {"persist", "cache", "unpersist"}
        ]
    assert calls == []
