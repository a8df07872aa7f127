"""Streaming smoke/e2e tests.

Strategy (SURVEY.md §5.2): drive finite fixtures through real streaming
queries (memory sink or foreachBatch + availableNow), then assert
batch-equivalence — Structured Streaming's prefix-consistency means a
stream run to completion must equal the same query in batch mode.
"""

from __future__ import annotations

import json
import uuid

import pytest

from pyspark.sql import functions as F

from streaming_data_ingestion_spark.queries.streaming_analogs import (
    q_stream_session,
    q_stream_tumbling,
)
from streaming_data_ingestion_spark.sources.http_source import fake_users_json_lines
from streaming_data_ingestion_spark.sources.json_stream import read_events_stream
from streaming_data_ingestion_spark.streaming.ingest import ingest_users_from_json_dir
from streaming_data_ingestion_spark.streaming.stateful import running_user_totals
from streaming_data_ingestion_spark.streaming.windows import (
    correlate_clicks_purchases,
    dedup_events,
    enrich_with_users,
    session_counts,
    sliding_counts,
    tumbling_counts,
)
from streaming_data_ingestion_spark.tables import load

from tests.conftest import SF_DIR


def _run_to_memory(df, name: str):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete" if df.isStreaming else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def _collect_sorted(df):
    return sorted(map(tuple, df.collect()))


def test_streaming_tumbling_equals_batch(spark):
    name = f"tum_{uuid.uuid4().hex[:8]}"
    stream = tumbling_counts(read_events_stream(spark, SF_DIR))
    _run_to_memory(stream, name)
    got = _collect_sorted(spark.sql(f"SELECT * FROM {name}"))
    want = _collect_sorted(q_stream_tumbling(spark, SF_DIR))
    assert got == want


def test_streaming_session_equals_batch(spark):
    name = f"ses_{uuid.uuid4().hex[:8]}"
    stream = session_counts(read_events_stream(spark, SF_DIR))
    _run_to_memory(stream, name)
    got = _collect_sorted(spark.sql(f"SELECT * FROM {name}"))
    want = _collect_sorted(q_stream_session(spark, SF_DIR))
    assert got == want


def test_streaming_sliding_runs(spark):
    name = f"sli_{uuid.uuid4().hex[:8]}"
    stream = sliding_counts(read_events_stream(spark, SF_DIR))
    _run_to_memory(stream, name)
    n = spark.sql(f"SELECT count(*) FROM {name}").collect()[0][0]
    # every event lands in exactly 2 sliding windows; window count is
    # bounded by 2x the tumbling-window count and must be positive
    assert n > 0


def test_streaming_dedup_drops_duplicates(spark, tmp_path):
    # duplicate every event once; streaming dedup must restore uniqueness
    ev = load(spark, SF_DIR, "events").limit(200)
    dup_dir = str(tmp_path / "dup_events")
    ev.union(ev).write.parquet(dup_dir)

    schema = spark.read.parquet(dup_dir).schema
    stream = spark.readStream.schema(schema).parquet(dup_dir)
    name = f"ded_{uuid.uuid4().hex[:8]}"
    q = (
        dedup_events(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql(f"SELECT event_id, count(*) c FROM {name} GROUP BY 1 HAVING c > 1")
    assert out.count() == 0
    assert spark.sql(f"SELECT count(*) FROM {name}").collect()[0][0] == 200


def test_stream_static_join(spark):
    events = read_events_stream(spark, SF_DIR)
    # static dimension: per-user tier derived from the events table itself
    dim = (
        load(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("user_total_events"))
    )
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    q = (
        enrich_with_users(events, dim)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    row = spark.sql(
        f"SELECT count(*) n, count(user_total_events) enriched FROM {name}"
    ).collect()[0]
    assert row.n == row.enriched  # every event matched the dimension
    assert row.n == load(spark, SF_DIR, "events").count()


def test_stream_stream_interval_join_equals_batch(spark):
    clicks = read_events_stream(spark, SF_DIR).filter(F.col("event_type") == "click")
    purchases = read_events_stream(spark, SF_DIR).filter(
        F.col("event_type") == "purchase"
    )
    name = f"ssj2_{uuid.uuid4().hex[:8]}"
    q = (
        correlate_clicks_purchases(clicks, purchases)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = _collect_sorted(spark.sql(f"SELECT * FROM {name}"))

    ev = load(spark, SF_DIR, "events")
    want = _collect_sorted(
        correlate_clicks_purchases(
            ev.filter(F.col("event_type") == "click"),
            ev.filter(F.col("event_type") == "purchase"),
        )
    )
    assert len(got) > 0
    assert got == want


def test_stateful_running_totals(spark):
    events = read_events_stream(spark, SF_DIR).select("user_id", "value")
    name = f"sta_{uuid.uuid4().hex[:8]}"
    q = (
        running_user_totals(events)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # last update per user must equal the batch per-user counts
    got = spark.sql(
        f"""SELECT user_id, max_by(n_events, n_events) n
            FROM {name} GROUP BY user_id"""
    )
    want = load(spark, SF_DIR, "events").groupBy("user_id").count()
    joined = got.join(want, "user_id")
    assert joined.filter(F.col("n") != F.col("count")).count() == 0
    assert joined.count() == want.count()


def test_ingest_end_to_end(spark, tmp_path):
    """The reference pipeline e2e: JSON wire records → decode → keyed →
    checkpointed parquet. Includes an alphanumeric postcode (the case the
    reference's LongType schema nulls) and a duplicate row."""
    in_dir = tmp_path / "wire"
    in_dir.mkdir()
    lines = fake_users_json_lines(25)
    lines.append(lines[1])  # exact duplicate record
    (in_dir / "batch0.jsonl").write_text("\n".join(lines))

    out_dir = str(tmp_path / "users_out")
    ckpt = str(tmp_path / "ckpt")
    q = ingest_users_from_json_dir(spark, str(in_dir), out_dir, ckpt)
    q.awaitTermination(120)

    out = spark.read.parquet(out_dir)
    assert out.count() == 26
    assert out.filter(F.col("user_id").isNull()).count() == 0  # PK fixed
    # alphanumeric postcodes survive as strings (i % 7 == 0 rows)
    alnum = out.filter(F.col("postcode").rlike("^E[0-9]+ [0-9]AB$"))
    assert alnum.count() >= 3
    assert dict(out.dtypes)["postcode"] == "string"

    # restart with same checkpoint: no new input → no duplicate ingestion
    q2 = ingest_users_from_json_dir(spark, str(in_dir), out_dir, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == 26


def test_exactly_once_sink_survives_epoch_retry(spark, tmp_path):
    """The ingest sink commits each epoch once: replaying a committed
    micro-batch under its checkpoint's query id (Spark's behavior after a
    mid-batch failure) leaves the table as it was instead of appending
    duplicates, and a genuinely new epoch still lands."""
    from streaming_data_ingestion_spark.streaming.sink import commit_epoch

    in_dir = tmp_path / "wire"
    in_dir.mkdir()
    (in_dir / "batch0.jsonl").write_text("\n".join(fake_users_json_lines(20)))

    out_dir = str(tmp_path / "users_out")
    q = ingest_users_from_json_dir(
        spark, str(in_dir), out_dir, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == 20

    # Replay epoch 0 in the stream's own namespace. (Materialize first —
    # a lazy read from out_dir would have its source files replaced
    # underneath it by a write.)
    batch = spark.createDataFrame(
        spark.read.parquet(out_dir).drop("__epoch").collect()
    )
    commit_epoch(batch, out_dir, 0, run_ns=q.id)
    assert spark.read.parquet(out_dir).count() == 20

    # A genuinely new epoch still lands additively.
    commit_epoch(batch.limit(5), out_dir, 1, run_ns=q.id)
    assert spark.read.parquet(out_dir).count() == 25


def test_watermark_drops_late_data(spark, tmp_path):
    """Late-data semantics: an event older than the watermark when it
    arrives must not revise an already-finalized window.

    Two availableNow runs share one checkpoint, so the watermark from run
    1 (advanced to 11:50 by the 12:00 event) persists; run 2's 10:02
    straggler is below it and is dropped, while its 13:00 event
    processes normally. Deterministic — no timing races.
    """
    in_dir = tmp_path / "late_in"
    in_dir.mkdir()
    ckpt = str(tmp_path / "late_ckpt")

    def write_batch(fname, rows):
        (in_dir / fname).write_text(
            "\n".join(json.dumps(r) for r in rows) + "\n"
        )

    out_dir = str(tmp_path / "late_out")

    def run_once(name):
        stream = (
            spark.readStream.schema("ts TIMESTAMP, event_type STRING, value DOUBLE")
            .json(str(in_dir))
        )
        q = (
            tumbling_counts(stream, window="1 hour", watermark="10 minutes")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_batch(
        "b0.jsonl",
        [
            {"ts": "2024-01-01 10:01:00", "event_type": "click", "value": 1.0},
            {"ts": "2024-01-01 10:04:00", "event_type": "click", "value": 1.0},
            {"ts": "2024-01-01 12:00:00", "event_type": "click", "value": 1.0},
        ],
    )
    run_once("late_r1")

    write_batch(
        "b1.jsonl",
        [
            # straggler: far below the checkpointed watermark (11:50) → dropped
            {"ts": "2024-01-01 10:02:00", "event_type": "click", "value": 1.0},
            # on-time event; advances the watermark past 12:00's window
            {"ts": "2024-01-01 13:00:00", "event_type": "click", "value": 1.0},
        ],
    )
    run_once("late_r2")

    # the watermark advanced by run 2 (to 12:50) only takes effect in the
    # *next* micro-batch, so a third run flushes the finalized 12:00 window
    write_batch(
        "b2.jsonl",
        [{"ts": "2024-01-01 15:00:00", "event_type": "click", "value": 1.0}],
    )
    run_once("late_r3")

    rows = {
        r["window_start"].strftime("%H:%M"): r["n_events"]
        for r in spark.read.parquet(out_dir).collect()
    }
    # the 10:00 window finalized with only run 1's two events — the late
    # straggler did not reopen it; the 12:00 window closed in run 2
    assert rows.get("10:00") == 2
    assert rows.get("12:00") == 1
    assert rows.get("13:00") == 1
    # the newest window is still above the watermark: open state, no output
    assert "15:00" not in rows


def test_stateful_running_totals_tws(spark):
    """transformWithStateInPandas twin of test_stateful_running_totals."""
    from streaming_data_ingestion_spark.streaming.stateful import (
        HAS_TWS,
        running_user_totals_tws,
    )

    if not HAS_TWS:
        pytest.skip(
            "transformWithState needs Spark 4 + protobuf (the TWS worker "
            "protocol); not available in this image"
        )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        events = read_events_stream(spark, SF_DIR).select("user_id", "value")
        name = f"tws_{uuid.uuid4().hex[:8]}"
        q = (
            running_user_totals_tws(events)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql(
            f"""SELECT user_id, max_by(n_events, n_events) n
                FROM {name} GROUP BY user_id"""
        )
        want = load(spark, SF_DIR, "events").groupBy("user_id").count()
        joined = got.join(want, "user_id")
        assert joined.filter(F.col("n") != F.col("count")).count() == 0
        assert joined.count() == want.count()
    finally:
        if prev:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_catalog_ddl_and_stream_to_table(spark, tmp_path):
    """Reference DDL parity end-to-end: CREATE DATABASE + CREATE TABLE
    (IF NOT EXISTS idempotence included), then stream wire records into
    the catalog table per micro-batch — the Spark-native twin of the
    reference's keyspace/table bootstrap + Cassandra connector append."""
    from streaming_data_ingestion_spark.catalog import (
        create_database,
        create_users_table,
        table_sink_writer,
    )
    from streaming_data_ingestion_spark.sources.json_stream import read_json_stream
    from streaming_data_ingestion_spark.streaming.ingest import (
        decode_users_from_files,
    )

    db = f"profiles_{uuid.uuid4().hex[:8]}"
    try:
        create_database(spark, db)
        create_users_table(spark, db)
        # idempotence: re-running the DDL is a no-op, not an error
        create_database(spark, db)
        create_users_table(spark, db)

        in_dir = tmp_path / "wire"
        in_dir.mkdir()
        (in_dir / "b0.jsonl").write_text("\n".join(fake_users_json_lines(15)))
        stream = decode_users_from_files(read_json_stream(spark, str(in_dir)))
        q = (
            stream.writeStream.foreachBatch(table_sink_writer(db))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        out = spark.table(f"{db}.users")
        assert out.count() == 15
        assert out.filter(F.col("user_id").isNull()).count() == 0
        assert dict(out.dtypes)["postcode"] == "string"
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_batch_stream_schema_parity(spark):
    """Regression guard for the round-2 NTZ split: a testdata-generation
    change must never again give batch and streaming readers different
    event-time types. Asserts field-for-field (name, type) equality and
    that ts is the watermark-eligible session-zoned TIMESTAMP."""
    batch = load(spark, SF_DIR, "events").schema
    stream = read_events_stream(spark, SF_DIR).schema
    assert [(f.name, f.dataType) for f in stream.fields] == [
        (f.name, f.dataType) for f in batch.fields
    ]
    ts_type = next(f.dataType for f in batch.fields if f.name == "ts")
    assert ts_type.typeName() == "timestamp", ts_type


def test_ingest_dead_letter_queue(spark, tmp_path):
    """Corrupt wire lines must land verbatim in the DLQ with their epoch,
    valid records in the main sink — none dropped, none fatal, and a
    checkpointed restart re-processes neither."""
    from streaming_data_ingestion_spark.streaming.ingest import (
        run_ingest_with_dlq,
    )

    in_dir = tmp_path / "wire"
    in_dir.mkdir()
    lines = fake_users_json_lines(20)
    corrupt = ['{"full_name": "Broken Reco', "not json at all %%"]
    (in_dir / "b0.jsonl").write_text("\n".join(lines + corrupt))

    out_dir = str(tmp_path / "users_out")
    dlq_dir = str(tmp_path / "dlq")
    ckpt = str(tmp_path / "ckpt")
    q = run_ingest_with_dlq(spark, str(in_dir), out_dir, dlq_dir, ckpt)
    q.awaitTermination(120)

    out = spark.read.parquet(out_dir)
    assert out.count() == 20
    assert out.filter(F.col("user_id").isNull()).count() == 0

    dlq = spark.read.parquet(dlq_dir)
    assert dlq.count() == 2
    assert sorted(r.raw for r in dlq.collect()) == sorted(corrupt)

    # restart on the same checkpoint: no new input -> no duplicates
    q2 = run_ingest_with_dlq(spark, str(in_dir), out_dir, dlq_dir, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == 20
    assert spark.read.parquet(dlq_dir).count() == 2


def test_streaming_metrics_collector(spark, tmp_path):
    """The progress listener must record every micro-batch's row count —
    totals across batches equal the rows ingested."""
    import time

    from streaming_data_ingestion_spark.streaming.ingest import (
        ingest_users_from_json_dir,
    )
    from streaming_data_ingestion_spark.streaming.metrics import (
        QueryProgressCollector,
    )

    collector = QueryProgressCollector.attach(spark)
    try:
        in_dir = tmp_path / "wire"
        in_dir.mkdir()
        (in_dir / "b0.jsonl").write_text("\n".join(fake_users_json_lines(30)))
        out_dir = str(tmp_path / "users_out")
        q = ingest_users_from_json_dir(
            spark, str(in_dir), out_dir, str(tmp_path / "ckpt")
        )
        q.awaitTermination(120)
        # listener delivery is asynchronous; poll briefly
        deadline = time.time() + 30
        while time.time() < deadline:
            total = sum(
                p["num_input_rows"] or 0 for p in collector.progress
            )
            if total >= 30:
                break
            time.sleep(0.5)
        total_rows = sum(p["num_input_rows"] or 0 for p in collector.progress)
        assert total_rows == 30
        assert all(p["batch_id"] is not None for p in collector.progress)
    finally:
        collector.detach(spark)


def test_incremental_materialized_daily_counts(spark, tmp_path):
    """The incrementally-maintained rollup must equal the from-scratch
    batch aggregate after every ingestion wave, and a checkpointed
    restart must not double-count."""
    from streaming_data_ingestion_spark.streaming.mv import (
        _daily_counts,
        maintain_daily_counts,
    )

    ev = load(spark, SF_DIR, "events")
    src_dir = str(tmp_path / "src")
    table = str(tmp_path / "daily_counts")
    ckpt = str(tmp_path / "ckpt")

    # wave 1: first 60% of events (by event_id) — multiple files so the
    # stream sees several micro-batches
    n = ev.count()
    cut = int(n * 0.6)
    wave1 = ev.filter(F.col("event_id") < cut)
    wave1.repartition(3).write.parquet(src_dir)

    schema = spark.read.parquet(src_dir).schema

    def run_stream():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        q = maintain_daily_counts(stream, table, ckpt)
        q.awaitTermination(120)

    def read_table():
        return spark.read.parquet(table).select(
            F.col("day").cast("date"), "event_type", F.col("n").cast("long")
        )

    run_stream()
    got = read_table()
    want = _daily_counts(wave1)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0

    # wave 2: the rest lands as new files; restart maintains incrementally
    ev.filter(F.col("event_id") >= cut).repartition(2).write.mode(
        "append"
    ).parquet(src_dir)
    run_stream()
    got2 = read_table()
    want2 = _daily_counts(ev)
    assert got2.count() == want2.count()
    assert got2.exceptAll(want2).count() == 0

    # restart with no new input: no double counting
    run_stream()
    got3 = read_table()
    assert got3.exceptAll(want2).count() == 0


def test_incremental_time_rollup_matches_batch_query(spark, tmp_path):
    """The incrementally-maintained two-grain rollup must equal the
    registered batch q_time_rollup bit-exactly after every wave — the
    decimal merge makes batch-split boundaries invisible — and a
    checkpointed restart must not double-count."""
    from streaming_data_ingestion_spark.registry import all_queries
    from streaming_data_ingestion_spark.streaming.mv import (
        maintain_time_rollup,
    )

    ev = load(spark, SF_DIR, "events")
    src_dir = str(tmp_path / "src")
    table = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")

    n = ev.count()
    cut = int(n * 0.5)
    ev.filter(F.col("event_id") < cut).repartition(3).write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema

    def run_stream():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        q = maintain_time_rollup(stream, table, ckpt)
        q.awaitTermination(120)

    def read_table():
        # project to the batch query's shape: decimal -> double, drop the
        # partition-key day column
        return spark.read.parquet(table).select(
            "grain",
            "bucket_start",
            "event_type",
            "n_events",
            F.col("sum_value").cast("double").alias("sum_value"),
        )

    run_stream()
    ev.filter(F.col("event_id") >= cut).repartition(2).write.mode(
        "append"
    ).parquet(src_dir)
    run_stream()

    got = read_table()
    want = all_queries()["q_time_rollup"].fn(spark, SF_DIR)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0  # bit-exact incl. double sums

    # idempotent restart
    run_stream()
    assert read_table().exceptAll(want).count() == 0


def test_streaming_neardup_flags_match_batch(spark, tmp_path):
    """Streaming near-dup detection: new docs arriving as a stream must
    be flagged against the historical band table exactly as the batch
    LSH pipeline would flag them — including that the row-side streaming
    signature equals the explode+groupBy batch signature bit-for-bit."""
    from streaming_data_ingestion_spark.queries.llm_dedup import (
        minhash_bands_df,
    )
    from streaming_data_ingestion_spark.streaming.dedup_stream import (
        band_stream,
        flag_neardups,
    )

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    hist = docs.filter(F.col("doc_id") < 300)
    new = docs.filter(F.col("doc_id") >= 300)

    # row-side banding ≡ batch banding on identical input
    a = band_stream(new)
    b = minhash_bands_df(new)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0

    hist_bands = minhash_bands_df(hist)
    hist_bands.persist()

    src = str(tmp_path / "src")
    out = str(tmp_path / "flags")
    ckpt = str(tmp_path / "ckpt")
    new.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = flag_neardups(stream, hist_bands, out, ckpt)
    q.awaitTermination(120)

    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    want = {
        r["doc_id"]
        for r in band_stream(new)
        .join(hist_bands, ["band_idx", "band_hash"], "left_semi")
        .select("doc_id")
        .distinct()
        .collect()
    }
    hist_bands.unpersist()
    assert got == want
    assert want, "fixture should contain at least one cross-wave near-dup"
    # restart with no new files: no duplicate flags
    q2 = flag_neardups(stream, hist_bands, out, ckpt)
    q2.awaitTermination(120)
    again = spark.read.parquet(out).groupBy("doc_id").count()
    assert again.filter(F.col("count") > 1).count() == 0


def test_streaming_anomaly_scores_against_prior_state(spark, tmp_path):
    """Two-phase run of the streaming z-score detector: wave 1 builds the
    per-type running stats; wave 2 (restarted on the same checkpoint) must
    be scored against exactly wave 1's statistics — verified by recomputing
    mean/std from wave 1 in batch and z-scoring wave 2 by hand."""
    import math

    from streaming_data_ingestion_spark.streaming.anomaly import (
        Z_THRESHOLD,
        detect_value_anomalies,
    )

    ev = load(spark, SF_DIR, "events").select("event_id", "event_type", "value")
    wave1 = ev.filter(F.col("event_id") % 2 == 0)
    wave2 = ev.filter(F.col("event_id") % 2 == 1)

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    wave1.coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema

    def run(out_dir):
        stream = spark.readStream.schema(schema).parquet(src)

        def sink(batch_df, _epoch):
            batch_df.write.mode("append").parquet(out_dir)

        q = (
            detect_value_anomalies(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run(str(tmp_path / "out1"))
    # wave 2 arrives as new files on the same checkpointed query
    wave2.coalesce(1).write.mode("append").parquet(src)
    out2 = str(tmp_path / "out2")
    run(out2)
    got = {r["event_id"]: r for r in spark.read.parquet(out2).collect()}
    assert set(got) == {r["event_id"] for r in wave2.collect()}

    # batch replication of wave-1 statistics per event_type
    stats = {
        r["event_type"]: r
        for r in wave1.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s"),
            F.sum(F.col("value") * F.col("value")).alias("s2"),
        )
        .collect()
    }
    n_anom = 0
    for r in wave2.collect():
        st = stats[r["event_type"]]
        mean = st["s"] / st["n"]
        var = (st["s2"] - st["s"] * st["s"] / st["n"]) / (st["n"] - 1)
        std = math.sqrt(var) if var > 0 else 0.0
        want_z = (r["value"] - mean) / std if std > 0 else 0.0
        want_flag = (
            abs(want_z) > Z_THRESHOLD if std > 0 else r["value"] != mean
        )
        g = got[r["event_id"]]
        assert abs(g["z"] - want_z) < 1e-6, (r["event_id"], g["z"], want_z)
        assert g["is_anomaly"] == want_flag
        n_anom += int(g["is_anomaly"])
    # the detector must be selective: some anomalies, far from all
    assert 0 < n_anom < wave2.count() * 0.2


def test_mv_merge_idempotent_under_epoch_replay(spark, tmp_path):
    """Re-running a foreachBatch epoch whose write already landed (Spark's
    crash-before-checkpoint-commit replay) must NOT double-count: the
    per-partition last_epoch marker makes the second application a no-op,
    while a NEW epoch with the same rows still merges additively."""
    from streaming_data_ingestion_spark.streaming.mv import merge_daily_counts

    table = str(tmp_path / "daily")
    ev = load(spark, SF_DIR, "events").select("ts", "event_type").limit(200)
    wb = merge_daily_counts(table)

    wb(ev, 0)
    once = {
        (r["day"], r["event_type"]): r["n"]
        for r in spark.read.parquet(table).collect()
    }
    wb(ev, 0)  # replay of the SAME epoch: must change nothing
    replayed = {
        (r["day"], r["event_type"]): r["n"]
        for r in spark.read.parquet(table).collect()
    }
    assert replayed == once

    wb(ev, 1)  # a genuinely new epoch with the same rows DOES add
    doubled = {
        (r["day"], r["event_type"]): r["n"]
        for r in spark.read.parquet(table).collect()
    }
    assert doubled == {k: 2 * v for k, v in once.items()}


def test_merge_additive_writes_one_file_per_touched_partition(spark, tmp_path):
    """A small aggregated delta is persisted inside merge_additive, and
    AQE coalesces the persisted plan (session.get_spark), so each epoch
    writes one parquet file into every touched partition instead of one
    per shuffle partition that the next epoch must read back."""
    from pathlib import Path

    from streaming_data_ingestion_spark.streaming.sink import merge_additive

    table = str(tmp_path / "daily")
    ev = load(spark, SF_DIR, "events").select("ts", "event_type")
    delta = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    for epoch in (0, 1):
        merge_additive(
            delta, table, ["day", "event_type"], ["n"], ["day"], epoch,
            run_ns="width",
        )
        parts = list(Path(table).glob("day=*"))
        assert parts
        assert {len(list(p.glob("part-*.parquet"))) for p in parts} == {1}


def test_mv_rollup_replay_heals_partially_landed_epoch(spark, tmp_path):
    """The replay-skip set is keyed on the FULL (grain, day) partition
    tuple: if a crash landed the grain=1h partitions of an epoch but not
    the grain=1d ones, replaying the epoch must re-merge exactly the
    missing day-grain partitions instead of seeing the day stamped (via
    the hour rows) and skipping — which would permanently lose the
    day-grain delta."""
    import shutil
    from pathlib import Path

    from streaming_data_ingestion_spark.streaming.mv import merge_rollup

    table = str(tmp_path / "rollup")
    ev = load(spark, SF_DIR, "events").select(
        "ts", "event_type", "value"
    ).limit(300)
    wb = merge_rollup(table)

    wb(ev, 0)
    full = sorted(
        tuple(r) for r in spark.read.parquet(table).drop("last_epoch").collect()
    )

    # simulate the partial commit: epoch 0's 1h partitions landed, the
    # 1d partitions did not
    removed = list(Path(table).glob("grain=1d"))
    assert removed, "fixture must have produced day-grain partitions"
    for p in removed:
        shutil.rmtree(p)
    assert (
        spark.read.parquet(table).filter(F.col("grain") == "1d").count() == 0
    )

    wb(ev, 0)  # replay of the SAME epoch must heal the missing grain
    healed = sorted(
        tuple(r) for r in spark.read.parquet(table).drop("last_epoch").collect()
    )
    assert healed == full


def test_mv_marker_namespaced_by_run(spark, tmp_path):
    """Epoch markers are namespaced per run: a NEW run (fresh checkpoint,
    epochs restarting at 0) against an existing table must merge its
    epoch-0 delta, not mistake an old run's epoch-0 stamp for its own."""
    from streaming_data_ingestion_spark.streaming.mv import merge_daily_counts

    table = str(tmp_path / "daily")
    ev = load(spark, SF_DIR, "events").select("ts", "event_type").limit(200)

    wb_a = merge_daily_counts(table, run_ns="run-a")
    wb_a(ev, 0)
    once = {
        (r["day"], r["event_type"]): r["n"]
        for r in spark.read.parquet(table).collect()
    }
    wb_a(ev, 0)  # same run, same epoch: replay, no change
    assert {
        (r["day"], r["event_type"]): r["n"]
        for r in spark.read.parquet(table).collect()
    } == once

    wb_b = merge_daily_counts(table, run_ns="run-b")
    wb_b(ev, 0)  # different run's epoch 0: a genuinely new delta — adds
    assert {
        (r["day"], r["event_type"]): r["n"]
        for r in spark.read.parquet(table).collect()
    } == {k: 2 * v for k, v in once.items()}


def test_maintainers_namespace_markers_by_their_own_running_query(
    spark, tmp_path, monkeypatch
):
    """Two maintained streams on separate checkpoints run at the same
    time into separate tables. Every ``last_epoch`` marker of each table
    carries ITS OWN checkpoint's query id (the one the checkpoint's
    ``metadata`` file records), and neither maintainer reads that file:
    the namespace comes from the running query, not from the
    checkpoint."""
    import builtins

    from pyspark.sql.readwriter import DataFrameReader

    from streaming_data_ingestion_spark.streaming.hist_stream import (
        maintain_value_hist,
    )
    from streaming_data_ingestion_spark.streaming.mv import (
        maintain_daily_counts,
    )

    ev = load(spark, SF_DIR, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    src = {}
    for name, mod in (("daily", 0), ("hist", 1)):
        src[name] = str(tmp_path / f"src_{name}")
        ev.filter(F.col("event_id") % 2 == mod).repartition(3).write.parquet(
            src[name]
        )
    ckpt = {n: str(tmp_path / f"ckpt_{n}") for n in src}
    table = {n: str(tmp_path / f"table_{n}") for n in src}

    reads: list[str] = []

    def spy_open(orig):
        def wrapped(file, *args, **kwargs):
            reads.append(str(file))
            return orig(file, *args, **kwargs)

        return wrapped

    def spy_reader(orig):
        def wrapped(self, *paths, **kwargs):
            for p in paths:
                reads.extend(map(str, p if isinstance(p, list) else [p]))
            return orig(self, *paths, **kwargs)

        return wrapped

    for meth in ("text", "json", "load", "parquet"):
        monkeypatch.setattr(
            DataFrameReader, meth, spy_reader(getattr(DataFrameReader, meth))
        )
    monkeypatch.setattr(builtins, "open", spy_open(builtins.open))

    def stream(name):
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src[name])
        )

    queries = [
        maintain_daily_counts(stream("daily"), table["daily"], ckpt["daily"]),
        maintain_value_hist(
            stream("hist"), table["hist"], ckpt["hist"], "value", 0.0, 512.0
        ),
    ]
    for q in queries:
        q.awaitTermination(120)
    monkeypatch.undo()

    assert not [p for p in reads if p.rstrip("/").endswith("metadata")], reads
    ids = {}
    for name in src:
        with open(f"{ckpt[name]}/metadata") as fh:
            ids[name] = json.loads(fh.readline())["id"]
        markers = {
            r["last_epoch"]
            for r in spark.read.parquet(table[name])
            .select("last_epoch")
            .distinct()
            .collect()
        }
        assert markers, name
        assert {m.rpartition(":")[0] for m in markers} == {ids[name]}, (
            name,
            markers,
        )
    assert ids["daily"] != ids["hist"]


def test_mv_rollup_multiwave_with_replay_matches_batch(spark, tmp_path):
    """Three epochs of incremental two-grain maintenance, with a replay
    injected after every epoch, must equal the from-scratch batch
    q_time_rollup over the cumulative prefix at EVERY wave — streaming
    prefix consistency under at-least-once delivery."""
    from streaming_data_ingestion_spark.registry import all_queries
    from streaming_data_ingestion_spark.streaming.mv import merge_rollup

    table = str(tmp_path / "rollup")
    ev = load(spark, SF_DIR, "events")
    n = ev.count()
    cuts = [0, n // 3, 2 * n // 3, n]
    wb = merge_rollup(table)

    batch_fn = all_queries()["q_time_rollup"].fn

    for epoch in range(3):
        lo, hi = cuts[epoch], cuts[epoch + 1]
        wave = ev.filter(
            (F.col("event_id") >= lo) & (F.col("event_id") < hi)
        )
        wb(wave, epoch)
        wb(wave, epoch)  # injected at-least-once replay of the same epoch

        got = spark.read.parquet(table).select(
            "grain",
            "bucket_start",
            "event_type",
            "n_events",
            F.col("sum_value").cast("double").alias("sum_value"),
        )
        prefix = ev.filter(F.col("event_id") < hi)
        # batch twin over the same prefix, via the same rollup shape
        from streaming_data_ingestion_spark.streaming.mv import _rollup

        want = (
            _rollup(prefix)
            .select(
                "grain",
                "bucket_start",
                "event_type",
                "n_events",
                F.col("sum_value").cast("double").alias("sum_value"),
            )
        )
        assert got.count() == want.count()
        assert got.exceptAll(want).count() == 0

    # after the final wave the table must ALSO equal the registered batch
    # query over the full input (shape-projected), closing the loop with
    # the oracle-checked q_time_rollup
    final = spark.read.parquet(table).select(
        "grain",
        "bucket_start",
        "event_type",
        "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
    )
    want_full = batch_fn(spark, SF_DIR)
    assert final.count() == want_full.count()
    assert final.exceptAll(want_full).count() == 0


def test_streaming_cms_grid_matches_batch_sketch(spark, tmp_path):
    """Mergeable-CMS contract: micro-batch grid partials summed into the
    stored table — with replays injected — must equal the one-shot batch
    grid over the cumulative prefix bit-for-bit, so min-cell estimates
    and the φ cut are identical to the batch sketch's."""
    from streaming_data_ingestion_spark.queries.sketches import (
        cms_grid_partial,
        tokenize_documents,
    )
    from streaming_data_ingestion_spark.streaming.cms_stream import (
        estimate_tokens,
        merge_cms_grid,
    )

    table = str(tmp_path / "cms_grid")
    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    n = 500
    cuts = [0, 150, 350, n]
    wb = merge_cms_grid(table, run_ns="run-a")

    for epoch in range(3):
        lo, hi = cuts[epoch], cuts[epoch + 1]
        wave = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        wb(wave, epoch)
        wb(wave, epoch)  # injected at-least-once replay

        prefix = docs.filter(F.col("doc_id") < hi)
        got = spark.read.parquet(table).select("r", "bucket", "n")
        want = cms_grid_partial(prefix)
        assert got.count() == want.count()
        assert got.exceptAll(want).count() == 0

    # point estimates from the merged grid == batch grid estimates, and
    # est >= exact for every probed token (the CMS guarantee)
    toks = tokenize_documents(docs)
    toks.persist()
    sample = toks.groupBy("token").count().orderBy(
        F.col("count").desc(), F.col("token")
    ).limit(20)
    sample.persist()
    est = {
        r["token"]: (r["est"], r["is_heavy"])
        for r in estimate_tokens(
            spark, table, sample.select("token")
        ).collect()
    }
    exact = {r["token"]: r["count"] for r in sample.collect()}
    total = toks.count()
    toks.unpersist()
    sample.unpersist()
    assert set(est) == set(exact)
    for t, (e, heavy) in est.items():
        assert e >= exact[t], (t, e, exact[t])
        assert heavy == (e * 200 >= total), t


def test_streaming_cms_grid_shape_is_persisted_and_enforced(spark, tmp_path):
    """The grid's (width, depth) is published with the table on first
    merge and enforced END-TO-END: a writer configured with a different
    shape refuses to merge (mis-shaped partials summed into the grid are
    unrecoverable), and a probe declaring a different shape refuses to
    estimate — in BOTH directions, including the narrower-than-declared
    grid that the old observed-range check waved through (coalesce(0) on
    the missing cells silently under-estimated, breaking est ≥ true)."""
    import pytest

    from streaming_data_ingestion_spark.streaming.cms_stream import (
        estimate_tokens,
        merge_cms_grid,
    )

    table = str(tmp_path / "cms_grid_2x64")
    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    wave = docs.filter(F.col("doc_id") < 100)

    # maintain a NARROW 2x64 grid; the sidecar is published on first merge
    merge_cms_grid(table, run_ns="run-a", width=64, depth=2)(wave, 0)
    sidecar = spark.read.parquet(table + "_shape").collect()[0]
    assert (sidecar["width"], sidecar["depth"]) == (64, 2)

    # a writer configured with the DEFAULT 4x1024 must refuse this table
    with pytest.raises(ValueError, match="maintained with shape 2x64"):
        merge_cms_grid(table, run_ns="run-b")(wave, 1)

    # probing with the default shape must refuse too — this is exactly
    # the narrower-than-declared case the range check could not catch
    probe = wave.limit(5).select(F.split("text", " ")[0].alias("token"))
    with pytest.raises(ValueError, match="maintained with shape 2x64"):
        estimate_tokens(spark, table, probe)

    # the matching shape still merges and estimates
    merge_cms_grid(table, run_ns="run-a", width=64, depth=2)(wave, 1)
    got = estimate_tokens(spark, table, probe, width=64, depth=2)
    assert got.count() == 5


def test_cms_serving_leaves_nothing_behind_at_exit(spark):
    """The q_cms_serving builder's grid AND its shape sidecar lie inside
    paths that ``tables.artifact_path`` removes at exit. So once the
    process exits, no ``spark-warehouse/*_shape`` entry (or any other
    entry stamped with this pid) is left behind."""
    import os

    from streaming_data_ingestion_spark import tables
    from streaming_data_ingestion_spark.queries.serving import stored_cms_path
    from streaming_data_ingestion_spark.streaming.cms_stream import _shape_path

    grid = stored_cms_path(spark, SF_DIR)
    assert os.path.isdir(_shape_path(grid))
    owned = [
        p
        for p in tables._ARTIFACT_CLEANUP
        if _shape_path(grid).startswith(p + os.sep)
    ]
    assert owned, "the shape sidecar is outside every removed-at-exit path"
    wh = os.path.dirname(owned[0])
    mine = [e for e in os.listdir(wh) if f"_p{os.getpid()}" in e]
    assert mine and all(
        os.path.join(wh, e) in tables._ARTIFACT_CLEANUP for e in mine
    ), mine


def test_streaming_cms_full_stream_e2e(spark, tmp_path):
    """maintain_cms_grid through a real file stream (one file per
    trigger) + checkpoint restart with no new data: grid equals the
    batch grid, and the restart changes nothing."""
    from streaming_data_ingestion_spark.queries.sketches import (
        cms_grid_partial,
    )
    from streaming_data_ingestion_spark.streaming.cms_stream import (
        maintain_cms_grid,
    )

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    table = str(tmp_path / "grid")
    ckpt = str(tmp_path / "ckpt")
    docs.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = maintain_cms_grid(stream, table, ckpt)
    q.awaitTermination(120)

    got = spark.read.parquet(table).select("r", "bucket", "n")
    want = cms_grid_partial(docs)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0

    q2 = maintain_cms_grid(stream, table, ckpt)  # restart, nothing new
    q2.awaitTermination(120)
    again = spark.read.parquet(table).select("r", "bucket", "n")
    assert again.count() == want.count()
    assert again.exceptAll(want).count() == 0


def test_streaming_hist_matches_batch_and_bounds_quantiles(spark, tmp_path):
    """Mergeable-histogram contract: per-batch bin partials summed into
    the stored table — with replays — equal the one-shot batch histogram
    bit-for-bit, and quantile readouts land within one bin width of the
    exact percentile."""
    from streaming_data_ingestion_spark.streaming.hist_stream import (
        hist_partial,
        merge_value_hist,
        quantiles_from_hist,
    )

    lo, hi, bins = 0.0, 1000.0, 256
    table = str(tmp_path / "hist")
    ev = load(spark, SF_DIR, "events").select("event_id", "value")
    n = ev.count()
    cuts = [0, n // 3, 2 * n // 3, n]
    wb = merge_value_hist(table, "value", lo, hi, bins, run_ns="run-a")

    for epoch in range(3):
        lo_c, hi_c = cuts[epoch], cuts[epoch + 1]
        wave = ev.filter(
            (F.col("event_id") >= lo_c) & (F.col("event_id") < hi_c)
        )
        wb(wave, epoch)
        wb(wave, epoch)  # injected replay

        prefix = ev.filter(F.col("event_id") < hi_c)
        got = spark.read.parquet(table).select("pk", "bin", "n")
        want = hist_partial(prefix, "value", lo, hi, bins)
        assert got.count() == want.count()
        assert got.exceptAll(want).count() == 0

    qs = [0.5, 0.95, 0.99]
    est = quantiles_from_hist(spark, table, qs, lo, hi, bins)
    exact = ev.agg(
        F.expr(f"percentile(value, array({','.join(map(str, qs))}))").alias(
            "p"
        )
    ).collect()[0]["p"]
    width = (hi - lo) / bins
    for q, want_v in zip(qs, exact):
        assert abs(est[q] - want_v) <= 2 * width, (q, est[q], want_v)


def test_watermark_drop_count_is_observable(spark, tmp_path):
    """The runtime late-drop accounting must be measurable, not inferred:
    the progress listener's stateOperators numRowsDroppedByWatermark sum
    records exactly the straggler count — the runtime counterpart of the
    q_late_events batch audit (same rule: older than the checkpointed
    high-water mark minus the delay ⇒ dropped)."""
    import time

    from streaming_data_ingestion_spark.streaming.metrics import (
        QueryProgressCollector,
    )

    in_dir = tmp_path / "late_obs_in"
    in_dir.mkdir()
    ckpt = str(tmp_path / "late_obs_ckpt")
    out_dir = str(tmp_path / "late_obs_out")

    def write_batch(fname, rows):
        (in_dir / fname).write_text(
            "\n".join(json.dumps(r) for r in rows) + "\n"
        )

    def run_once():
        stream = (
            spark.readStream.schema("ts TIMESTAMP, event_type STRING, value DOUBLE")
            .json(str(in_dir))
        )
        q = (
            tumbling_counts(stream, window="1 hour", watermark="10 minutes")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .queryName("late_obs")
            .start()
        )
        q.awaitTermination(120)

    collector = QueryProgressCollector.attach(spark)
    try:
        write_batch(
            "b0.jsonl",
            [
                {"ts": "2024-01-01 10:01:00", "event_type": "click", "value": 1.0},
                {"ts": "2024-01-01 12:00:00", "event_type": "click", "value": 1.0},
            ],
        )
        run_once()  # advances the checkpointed watermark to 11:50

        write_batch(
            "b1.jsonl",
            [
                # two stragglers below the 11:50 watermark, in DIFFERENT
                # hours: the metric counts rows reaching the state store,
                # i.e. AFTER map-side partial aggregation — same-window
                # stragglers would pre-combine and count once
                {"ts": "2024-01-01 10:02:00", "event_type": "click", "value": 1.0},
                {"ts": "2024-01-01 09:03:00", "event_type": "click", "value": 1.0},
                # on-time row → kept
                {"ts": "2024-01-01 13:00:00", "event_type": "click", "value": 1.0},
            ],
        )
        run_once()

        # listener delivery is asynchronous; poll briefly
        deadline = time.time() + 30
        dropped = 0
        while time.time() < deadline:
            dropped = collector.totals("late_obs")["total_dropped_by_watermark"]
            if dropped >= 2:
                break
            time.sleep(0.5)
        assert dropped == 2
    finally:
        collector.detach(spark)


def test_streaming_quality_gate_matches_batch(spark, tmp_path):
    """The hashed-bigram quality gate is stateless row arithmetic, so the
    IDENTICAL expression tree must produce bit-equal scores and keep/drop
    decisions under readStream as in batch — the property that lets one
    curation gate serve both the backfill and the live ingest path."""
    from streaming_data_ingestion_spark.queries.llm_quality import score_quality

    src = str(tmp_path / "docs_src")
    docs = load(spark, SF_DIR, "documents").limit(200)
    docs.write.mode("overwrite").parquet(src)

    out_dir = str(tmp_path / "gate_out")
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (
        score_quality(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "gate_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["doc_id"]: (r["n_bigrams"], r["score_int"], r["score"], r["label"])
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        r["doc_id"]: (r["n_bigrams"], r["score_int"], r["score"], r["label"])
        for r in score_quality(spark.read.parquet(src)).collect()
    }
    assert got == want and len(got) == 200


def test_incremental_exact_dedup_grows_its_index(spark, tmp_path):
    """Cross-batch exact dedup with a persistent digest index: batch 2's
    repeats of batch-1 texts are dropped (the index grew), novel texts
    survive, the keeper decision matches the batch q_dedup_exact rule
    (smallest doc_id per digest), and replaying an epoch converges to
    the same bytes instead of double-appending."""
    from streaming_data_ingestion_spark.streaming.dedup_index import (
        dedup_against_index,
    )

    src = tmp_path / "dd_src"
    src.mkdir()
    idx = str(tmp_path / "dd_index")
    out = str(tmp_path / "dd_out")
    ckpt = str(tmp_path / "dd_ckpt")

    def write_docs(fname, rows):
        (src / fname).write_text(
            "\n".join(json.dumps(r) for r in rows) + "\n"
        )

    write_docs(
        "b0.jsonl",
        [
            {"doc_id": 3, "text": "alpha beta"},
            {"doc_id": 1, "text": "alpha beta"},   # in-batch dup; keeper=1
            {"doc_id": 2, "text": "gamma delta"},
        ],
    )
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).json(str(src))
    q = dedup_against_index(stream, idx, out, ckpt)
    q.awaitTermination(120)

    write_docs(
        "b1.jsonl",
        [
            {"doc_id": 9, "text": "alpha beta"},    # cross-batch dup → drop
            {"doc_id": 7, "text": "epsilon zeta"},  # novel → keep
        ],
    )
    stream2 = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).json(str(src))
    q2 = dedup_against_index(stream2, idx, out, ckpt)
    q2.awaitTermination(120)

    survivors = {
        r["text"]: r["doc_id"]
        for r in spark.read.parquet(out).collect()
    }
    assert survivors == {
        "alpha beta": 1,
        "gamma delta": 2,
        "epsilon zeta": 7,
    }
    # the index holds exactly the three distinct digests
    assert spark.read.parquet(idx).select("digest").distinct().count() == 3

    # re-running the full stream over a FRESH checkpoint (same inputs, a
    # new namespace) dedups against the committed index: nothing new
    q3 = dedup_against_index(
        spark.readStream.schema("doc_id long, text string").option(
            "maxFilesPerTrigger", 1
        ).json(str(src)),
        idx,
        out,
        str(tmp_path / "dd_ckpt2"),
    )
    q3.awaitTermination(120)
    again = {
        r["text"]: r["doc_id"] for r in spark.read.parquet(out).collect()
    }
    assert again == survivors


def test_live_curation_pipeline_end_to_end(spark, tmp_path):
    """The composed live-curation flow every piece was built for:
    readStream docs → dq.observed contract metrics → stream-identical
    quality gate → keep-filter → incremental exact dedup against the
    growing index. Asserts: survivors are unique, every survivor passed
    the gate, the dropped doc really scored 'drop', and the DQ counters
    fired per batch through the listener."""
    import time

    from streaming_data_ingestion_spark import dq
    from streaming_data_ingestion_spark.queries.llm_quality import (
        score_quality,
        with_quality,
    )
    from streaming_data_ingestion_spark.streaming.dedup_index import (
        dedup_against_index,
    )
    from streaming_data_ingestion_spark.streaming.metrics import (
        QueryProgressCollector,
    )

    docs = load(spark, SF_DIR, "documents").limit(60)
    scored = {r["doc_id"]: r["label"] for r in score_quality(docs).collect()}
    keeps = [d for d, lab in scored.items() if lab == "keep"]
    drops = [d for d, lab in scored.items() if lab == "drop"]
    assert keeps and drops, "fixture must exercise both labels"

    src = tmp_path / "cur_src"
    src.mkdir()
    rows = [
        {"doc_id": r["doc_id"], "text": r["text"]} for r in docs.collect()
    ]
    half = len(rows) // 2
    (src / "b0.jsonl").write_text(
        "\n".join(json.dumps(r) for r in rows[:half])
    )
    # batch 2 repeats one kept batch-1 doc under a new id (cross-batch
    # dup) plus the rest of the corpus
    first_keep = next(r for r in rows[:half] if r["doc_id"] in keeps)
    (src / "b1.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in rows[half:]
            + [{"doc_id": 10_000_001, "text": first_keep["text"]}]
        )
    )

    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).json(str(src))
    gated = (
        dq.observed(
            stream,
            [dq.not_null("doc_id"), dq.not_null("text")],
            name="contract",
        )
        .transform(with_quality)
        .filter(F.col("label") == "keep")
        .select("doc_id", "text")
    )

    collector = QueryProgressCollector.attach(spark)
    try:
        q = dedup_against_index(
            gated,
            str(tmp_path / "cur_index"),
            str(tmp_path / "cur_out"),
            str(tmp_path / "cur_ckpt"),
        )
        q.awaitTermination(120)

        out = spark.read.parquet(str(tmp_path / "cur_out"))
        survivors = [r["doc_id"] for r in out.select("doc_id").collect()]
        # unique corpus, gate respected, dup dropped
        assert len(survivors) == len(set(survivors))
        assert set(survivors) <= set(keeps)
        assert 10_000_001 not in survivors  # cross-batch dup of first_keep
        # every kept-labeled distinct text survived exactly once
        texts = {r["text"] for r in out.collect()}
        want_texts = {
            r["text"] for r in rows if scored[r["doc_id"]] == "keep"
        }
        assert texts == want_texts

        deadline = time.time() + 30
        while time.time() < deadline:
            mets = [
                p["observed_metrics"].get("contract")
                for p in collector.progress
                if p.get("observed_metrics")
            ]
            mets = [m for m in mets if m]
            if len(mets) >= 2:
                break
            time.sleep(0.5)
        assert sum(m["doc_id_null"] for m in mets) == 0
        assert sum(m["n_rows"] for m in mets) == len(rows) + 1
    finally:
        collector.detach(spark)


def test_cdc_apply_stream_maintains_table(spark, tmp_path):
    """A CDC change stream (upserts + deletes across two micro-batches)
    maintains the partitioned table: updates win, inserts land,
    tombstones remove, same-batch upsert-then-delete ends deleted, and
    a checkpointed re-run with no new input changes nothing."""
    from streaming_data_ingestion_spark.streaming.cdc import apply_cdc_stream

    table = str(tmp_path / "cdc_table")
    spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0), (3, "c", 1)],
        "k long, v string, shard long",
    ).write.partitionBy("shard").parquet(table)

    src = tmp_path / "cdc_src"
    src.mkdir()
    schema = "op string, k long, v string, shard long"
    (src / "b0.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"op": "upsert", "k": 1, "v": "a2", "shard": 0},   # update
                {"op": "upsert", "k": 4, "v": "d", "shard": 1},    # insert
                {"op": "delete", "k": 2, "v": None, "shard": 0},   # tombstone
            ]
        )
    )
    (src / "b1.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"op": "upsert", "k": 5, "v": "e", "shard": 0},
                # upsert then tombstone in the SAME batch → ends deleted
                {"op": "delete", "k": 5, "v": None, "shard": 0},
                {"op": "upsert", "k": 3, "v": "c2", "shard": 1},
            ]
        )
    )

    def run():
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).json(str(src))
        q = apply_cdc_stream(
            stream, table, "k", "shard", str(tmp_path / "cdc_ckpt")
        )
        q.awaitTermination(120)

    run()
    got = {
        r["k"]: (r["v"], r["shard"])
        for r in spark.read.parquet(table).collect()
    }
    want = {1: ("a2", 0), 3: ("c2", 1), 4: ("d", 1)}
    assert got == want

    run()  # same checkpoint, no new files: nothing changes
    again = {
        r["k"]: (r["v"], r["shard"])
        for r in spark.read.parquet(table).collect()
    }
    assert again == want


def test_cdc_replay_after_crash_between_upsert_and_delete(spark, tmp_path):
    """Fault injection for the CDC apply loop's documented guarantee
    (streaming/cdc.py: "epoch replay converges"): crash AFTER a batch's
    upserts land but BEFORE its deletes run. The checkpoint never
    commits the batch, so a restart replays it whole; the replay
    re-applies the upserts (key-replacement is idempotent) and completes
    the deletes — the table converges to exactly what an uncrashed run
    produces, including the upsert-then-tombstone-in-one-batch key that
    the torn state leaves VISIBLE mid-crash."""
    import streaming_data_ingestion_spark.streaming.cdc as cdc_mod
    from streaming_data_ingestion_spark.streaming.cdc import apply_cdc_stream

    table = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0), (3, "c", 1)],
        "k long, v string, shard long",
    ).write.partitionBy("shard").parquet(table)
    src = tmp_path / "src"
    src.mkdir()
    schema = "op string, k long, v string, shard long"
    (src / "b0.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"op": "upsert", "k": 1, "v": "a2", "shard": 0},  # update
                {"op": "upsert", "k": 9, "v": "i", "shard": 1},   # insert
                {"op": "delete", "k": 2, "v": None, "shard": 0},  # tombstone
                # upsert then tombstone in the SAME batch → must end deleted
                {"op": "upsert", "k": 5, "v": "e", "shard": 0},
                {"op": "delete", "k": 5, "v": None, "shard": 0},
            ]
        )
    )

    real_delete = cdc_mod.delete_keys_partitioned
    calls = {"n": 0}

    def crashing_delete(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash before deletes")
        return real_delete(*a, **kw)

    cdc_mod.delete_keys_partitioned = crashing_delete
    try:
        stream = spark.readStream.schema(schema).json(str(src))
        q = apply_cdc_stream(
            stream, table, "k", "shard", str(tmp_path / "ckpt")
        )
        with pytest.raises(Exception, match="injected crash"):
            q.awaitTermination(120)
        # torn mid-crash state is observable and WRONG by design: the
        # upserts landed (k=5 visible, k=1 updated) but no delete ran
        mid = {r["k"]: r["v"] for r in spark.read.parquet(table).collect()}
        assert mid[5] == "e" and mid[1] == "a2" and 2 in mid
        # restart on the same checkpoint: the failed batch replays whole
        stream = spark.readStream.schema(schema).json(str(src))
        q = apply_cdc_stream(
            stream, table, "k", "shard", str(tmp_path / "ckpt")
        )
        q.awaitTermination(120)
    finally:
        cdc_mod.delete_keys_partitioned = real_delete
    assert calls["n"] >= 2  # the delete really re-ran on replay
    got = {
        r["k"]: (r["v"], r["shard"])
        for r in spark.read.parquet(table).collect()
    }
    assert got == {1: ("a2", 0), 3: ("c", 1), 9: ("i", 1)}


def test_incremental_backlog_deltas(spark, tmp_path):
    """The incrementally-maintained sweep-line delta table must yield the
    SAME backlog curve as the batch q_backlog_curve after all orders
    stream through, and a checkpointed restart must not double-count."""
    from streaming_data_ingestion_spark.queries.basket import q_backlog_curve
    from streaming_data_ingestion_spark.streaming.mv import (
        backlog_from_deltas,
        maintain_backlog,
    )

    li = load(spark, SF_DIR, "lineitem")
    orders = load(spark, SF_DIR, "orders")
    closes = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.max(F.to_date("l_shipdate")).alias("close")
    )
    hz = closes.agg(F.max("close").alias("horizon"))
    spans = (
        orders.select(
            F.col("o_orderkey").alias("k"),
            F.to_date("o_orderdate").alias("open_day"),
        )
        .join(closes, "k", "left")
        .crossJoin(F.broadcast(hz))
        .select("k", "open_day", F.coalesce("close", "horizon").alias("close_day"))
    )

    src_dir = str(tmp_path / "src")
    table = str(tmp_path / "backlog_deltas")
    ckpt = str(tmp_path / "ckpt")
    # several files -> several micro-batches
    spans.repartition(4).write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema

    def run_stream():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        q = maintain_backlog(stream, table, ckpt)
        q.awaitTermination(120)

    run_stream()
    got = backlog_from_deltas(spark, table)
    want = q_backlog_curve(spark, SF_DIR)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0

    # replay with no new input: merged deltas unchanged
    run_stream()
    got2 = backlog_from_deltas(spark, table)
    assert got2.exceptAll(want).count() == 0


def test_incremental_first_seen_growth(spark, tmp_path):
    """The incrementally-maintained first-seen index + daily new-user
    table must reproduce q_cum_uniques exactly when micro-batches arrive
    in event-time order (each source file is a time slice, as a real
    ingest produces), and a checkpointed replay must not double-count."""
    from streaming_data_ingestion_spark.queries.lifecycle import q_cum_uniques
    from streaming_data_ingestion_spark.streaming.growth import (
        cum_uniques_from_daily,
        maintain_first_seen,
    )

    ev = load(spark, SF_DIR, "events")
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    index = str(tmp_path / "first_seen")
    daily = str(tmp_path / "daily_new")
    ckpt = str(tmp_path / "ckpt")

    # four time-sliced files -> four IN-ORDER micro-batches: the module's
    # documented contract is event-time-ordered arrival (a real ingest's
    # shape); FileStreamSource orders files by modification time, so each
    # slice gets a strictly later mtime
    import os
    import time as _time

    n = ev.count()
    ts_sorted = ev.orderBy("ts", "event_id").collect()
    base = _time.time()
    for i in range(4):
        chunk = ts_sorted[i * n // 4 : (i + 1) * n // 4]
        d = src_dir / f"slice={i}"
        spark.createDataFrame(chunk, ev.schema).coalesce(1).write.parquet(
            str(d), mode="overwrite"
        )
        for p in d.rglob("*.parquet"):
            os.utime(p, (base + 10 * i, base + 10 * i))
    schema = ev.schema

    def run_stream():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(str(src_dir))
        )
        q = maintain_first_seen(stream, index, daily, ckpt)
        q.awaitTermination(120)

    run_stream()
    got = cum_uniques_from_daily(spark, daily)
    want = q_cum_uniques(spark, SF_DIR)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0

    # index covers every user exactly once
    idx = spark.read.parquet(index)
    assert idx.count() == ev.select("user_id").distinct().count()
    assert idx.groupBy("user_id").count().where("count > 1").count() == 0

    # replay with no new input: nothing double-counts
    run_stream()
    got2 = cum_uniques_from_daily(spark, daily)
    assert got2.exceptAll(want).count() == 0


def test_first_seen_growth_epoch_replay_idempotent(spark, tmp_path):
    """Epoch replay is the growth module's exactly-once mechanism: the
    index write overwrites the replayed epoch's OWN partition and the
    daily merge skips stamped partitions. Driving the batch writer
    directly (as the mv replay tests do), a replayed epoch — both a
    novel-users epoch and a zero-new-users epoch, the case that used to
    truncate the index under the session-conf bug — must leave the index
    and daily tables byte-identical."""
    from streaming_data_ingestion_spark.streaming.growth import (
        first_seen_batch_writer,
    )

    ev = load(spark, SF_DIR, "events").select("user_id", "ts")
    n = ev.count()
    first = ev.orderBy("ts", "user_id").limit(n // 2)
    # second slice: same users AND new users
    second = ev.orderBy(F.col("ts").desc(), "user_id").limit(n // 2)

    index = str(tmp_path / "first_seen")
    daily = str(tmp_path / "daily_new")
    wb = first_seen_batch_writer(index, daily, run_ns="run-a")

    wb(first, 0)
    wb(second, 1)

    def snapshot():
        idx = {
            (r["user_id"], str(r["first_day"]), r["__epoch"])
            for r in spark.read.parquet(index).collect()
        }
        d = {
            (str(r["day"]), r["new_users"])
            for r in spark.read.parquet(daily).collect()
        }
        return idx, d

    before = snapshot()
    # index covers every user exactly once even before replay
    assert len({u for (u, _, _) in before[0]}) == len(before[0])

    # replay epoch 1 (crash-recovery: same run, same epoch id)
    wb(second, 1)
    assert snapshot() == before

    # replay an epoch whose anti-join yields ZERO new users: epoch 2
    # with only already-seen users must not disturb anything, twice
    wb(first, 2)
    after_e2 = snapshot()
    assert {(d, c) for (d, c) in after_e2[1]} == before[1]
    assert {(u, f) for (u, f, _) in after_e2[0]} == {
        (u, f) for (u, f, _) in before[0]
    }
    wb(first, 2)
    assert snapshot() == after_e2


def test_stream_stream_conversion_join_matches_batch(spark, tmp_path):
    """The stream-stream event-time interval join must produce EXACTLY
    the batch join's pairs when micro-batches arrive in event-time order
    (each source file a time slice) with a generous watermark: state
    eviction (watermark + range constraint) may only drop rows that can
    no longer match. Also: restarting the query over the same source
    must append nothing (file-sink exactly-once)."""
    import os
    import time as _time

    from streaming_data_ingestion_spark.streaming.join_stream import (
        conversion_pairs,
        maintain_conversions,
    )

    ev = load(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    out = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")

    n = ev.count()
    ts_sorted = ev.orderBy("ts", "event_id").collect()
    base = _time.time()
    for i in range(4):
        chunk = ts_sorted[i * n // 4 : (i + 1) * n // 4]
        d = src_dir / f"slice={i}"
        spark.createDataFrame(chunk, ev.schema).coalesce(1).write.parquet(
            str(d), mode="overwrite"
        )
        for pth in d.rglob("*.parquet"):
            os.utime(pth, (base + 10 * i, base + 10 * i))
    schema = ev.schema

    def run_stream():
        def src():
            return (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .option("recursiveFileLookup", "true")
                .parquet(str(src_dir))
            )

        clicks = src().filter(F.col("event_type") == "click")
        purchases = src().filter(F.col("event_type") == "purchase")
        q = maintain_conversions(clicks, purchases, out, ckpt)
        q.awaitTermination(180)

    run_stream()
    got = spark.read.parquet(out)
    want = conversion_pairs(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
    )
    assert want.count() > 0  # the fixture must actually exercise the join
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0

    # restart over the same source: exactly-once, nothing re-appended
    run_stream()
    again = spark.read.parquet(out)
    assert again.count() == want.count()


def test_stream_stream_left_outer_join(spark, tmp_path):
    """Stream-stream LEFT OUTER semantics: the inner part must equal the
    batch join exactly; NULL (unconverted-click) rows may only cover
    clicks the final watermark has PROVEN unmatchable (click_ts + window
    < watermark) — and every safely-expired unmatched click must have
    been emitted. Pins the eviction/emission contract that makes outer
    stream-stream joins correct rather than lossy."""
    import datetime as _dt
    import os
    import time as _time

    from streaming_data_ingestion_spark.streaming.join_stream import (
        DEFAULT_WINDOW_S,
        conversion_pairs,
        maintain_conversions,
    )

    ev = load(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    out = str(tmp_path / "pairs_outer")
    ckpt = str(tmp_path / "ckpt_outer")

    n = ev.count()
    ts_sorted = ev.orderBy("ts", "event_id").collect()
    base = _time.time()
    for i in range(4):
        chunk = ts_sorted[i * n // 4 : (i + 1) * n // 4]
        d = src_dir / f"slice={i}"
        spark.createDataFrame(chunk, ev.schema).coalesce(1).write.parquet(
            str(d), mode="overwrite"
        )
        for pth in d.rglob("*.parquet"):
            os.utime(pth, (base + 10 * i, base + 10 * i))
    schema = ev.schema

    def src():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(str(src_dir))
        )

    lag = "1 hour"
    q = maintain_conversions(
        src().filter(F.col("event_type") == "click"),
        src().filter(F.col("event_type") == "purchase"),
        out,
        ckpt,
        watermark=lag,
        how="left_outer",
    )
    q.awaitTermination(180)

    got = spark.read.parquet(out)
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    want = conversion_pairs(clicks, purchases, how="left_outer")

    # (a) the matched part is exactly the batch inner join
    got_inner = got.where(F.col("purchase_id").isNotNull())
    want_inner = want.where(F.col("purchase_id").isNotNull())
    assert got_inner.count() == want_inner.count()
    assert got_inner.exceptAll(want_inner).count() == 0

    # (b) every NULL row is a genuinely unmatched click (no false outers)
    want_null_ids = {
        r["click_id"]
        for r in want.where(F.col("purchase_id").isNull())
        .select("click_id")
        .collect()
    }
    got_null = got.where(F.col("purchase_id").isNull())
    got_null_ids = {r["click_id"] for r in got_null.select("click_id").collect()}
    assert got_null_ids <= want_null_ids

    # (c) everything the final watermark provably expired WAS emitted:
    # W = min(max click ts, max purchase ts) - lag; margin dodges the
    # inclusive/exclusive boundary
    mx = ev.groupBy("event_type").agg(F.max("ts").alias("m")).collect()
    mxd = {r["event_type"]: r["m"] for r in mx}
    wmark = min(mxd["click"], mxd["purchase"]) - _dt.timedelta(hours=1)
    cutoff = wmark - _dt.timedelta(seconds=DEFAULT_WINDOW_S + 60)
    must_emit = {
        r["click_id"]
        for r in want.where(
            F.col("purchase_id").isNull() & (F.col("click_ts") < F.lit(cutoff))
        )
        .select("click_id")
        .collect()
    }
    assert must_emit, "fixture must contain provably-expired unmatched clicks"
    assert must_emit <= got_null_ids


def _sliced_event_source_dir(spark, tmp_path):
    """Write the events fixture as 4 event-time-ordered slices with
    increasing mtimes so maxFilesPerTrigger=1 feeds them as successive
    micro-batches — the shared setup of every stream-stream join test."""
    import os
    import time as _time

    ev = load(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    n = ev.count()
    ts_sorted = ev.orderBy("ts", "event_id").collect()
    base = _time.time()
    for i in range(4):
        chunk = ts_sorted[i * n // 4 : (i + 1) * n // 4]
        d = src_dir / f"slice={i}"
        spark.createDataFrame(chunk, ev.schema).coalesce(1).write.parquet(
            str(d), mode="overwrite"
        )
        for pth in d.rglob("*.parquet"):
            os.utime(pth, (base + 10 * i, base + 10 * i))
    return ev, src_dir, ev.schema


def _outer_join_stream_run(spark, tmp_path, how):
    from streaming_data_ingestion_spark.streaming.join_stream import (
        conversion_pairs,
        maintain_conversions,
    )

    ev, src_dir, schema = _sliced_event_source_dir(spark, tmp_path)
    out = str(tmp_path / f"pairs_{how}")
    ckpt = str(tmp_path / f"ckpt_{how}")

    def src():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(str(src_dir))
        )

    q = maintain_conversions(
        src().filter(F.col("event_type") == "click"),
        src().filter(F.col("event_type") == "purchase"),
        out,
        ckpt,
        watermark="1 hour",
        how=how,
    )
    q.awaitTermination(180)
    got = spark.read.parquet(out)
    want = conversion_pairs(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        how=how,
    )
    return ev, got, want


def _final_watermark(ev):
    import datetime as _dt

    mx = ev.groupBy("event_type").agg(F.max("ts").alias("m")).collect()
    mxd = {r["event_type"]: r["m"] for r in mx}
    return min(mxd["click"], mxd["purchase"]) - _dt.timedelta(hours=1)


def test_stream_stream_right_outer_join(spark, tmp_path):
    """RIGHT OUTER stream-stream semantics: matched part == batch inner;
    NULL-click rows only for genuinely orphan purchases; and every
    purchase the final watermark provably expired (purchase_ts <
    watermark − margin: no click with click_ts ≤ purchase_ts can still
    arrive) MUST have been emitted with NULL click columns."""
    import datetime as _dt

    ev, got, want = _outer_join_stream_run(spark, tmp_path, "right_outer")

    got_inner = got.where(F.col("click_id").isNotNull())
    want_inner = want.where(F.col("click_id").isNotNull())
    assert want_inner.count() > 0
    assert got_inner.count() == want_inner.count()
    assert got_inner.exceptAll(want_inner).count() == 0

    want_null_ids = {
        r["purchase_id"]
        for r in want.where(F.col("click_id").isNull())
        .select("purchase_id")
        .collect()
    }
    got_null = got.where(F.col("click_id").isNull())
    got_null_ids = {
        r["purchase_id"] for r in got_null.select("purchase_id").collect()
    }
    assert got_null_ids <= want_null_ids
    # outer rows must still carry the user (coalesce side-switch)
    assert got_null.where(F.col("user_id").isNull()).count() == 0

    wmark = _final_watermark(ev)
    cutoff = wmark - _dt.timedelta(seconds=60)
    must_emit = {
        r["purchase_id"]
        for r in want.where(
            F.col("click_id").isNull() & (F.col("purchase_ts") < F.lit(cutoff))
        )
        .select("purchase_id")
        .collect()
    }
    assert must_emit, "fixture must contain provably-expired orphan purchases"
    assert must_emit <= got_null_ids


def test_stream_stream_full_outer_join(spark, tmp_path):
    """FULL OUTER stream-stream semantics: matched part == batch inner;
    both orphan sides emit exactly the provably-expired rows (click side
    once click_ts + window < watermark, purchase side once purchase_ts <
    watermark), with no false orphans on either side."""
    import datetime as _dt

    from streaming_data_ingestion_spark.streaming.join_stream import (
        DEFAULT_WINDOW_S,
    )

    ev, got, want = _outer_join_stream_run(spark, tmp_path, "full_outer")

    got_inner = got.where(
        F.col("click_id").isNotNull() & F.col("purchase_id").isNotNull()
    )
    want_inner = want.where(
        F.col("click_id").isNotNull() & F.col("purchase_id").isNotNull()
    )
    assert want_inner.count() > 0
    assert got_inner.count() == want_inner.count()
    assert got_inner.exceptAll(want_inner).count() == 0

    wmark = _final_watermark(ev)

    for null_side, id_col, ts_col, margin_s in (
        ("purchase_id", "click_id", "click_ts", DEFAULT_WINDOW_S + 60),
        ("click_id", "purchase_id", "purchase_ts", 60),
    ):
        want_null_ids = {
            r[id_col]
            for r in want.where(F.col(null_side).isNull())
            .select(id_col)
            .collect()
        }
        got_null = got.where(F.col(null_side).isNull())
        got_null_ids = {r[id_col] for r in got_null.select(id_col).collect()}
        assert got_null_ids <= want_null_ids, null_side
        assert got_null.where(F.col("user_id").isNull()).count() == 0
        cutoff = wmark - _dt.timedelta(seconds=margin_s)
        must_emit = {
            r[id_col]
            for r in want.where(
                F.col(null_side).isNull() & (F.col(ts_col) < F.lit(cutoff))
            )
            .select(id_col)
            .collect()
        }
        assert must_emit, f"no provably-expired orphans on {id_col} side"
        assert must_emit <= got_null_ids, null_side


def test_streaming_bm25_stats_match_batch_with_replays(spark, tmp_path):
    """Mergeable retrieval-stats contract: per-batch (df, n_docs,
    sum_dl) partials summed into the stored table — with replays
    injected after every epoch — equal the one-shot batch aggregation
    over the cumulative prefix EXACTLY, and a true end-to-end stream
    over file slices converges to the same table."""
    from streaming_data_ingestion_spark.queries.llm_text import _tokens
    from streaming_data_ingestion_spark.streaming.bm25_stats import (
        bm25_stats_partial,
        maintain_bm25_stats,
        merge_bm25_stats,
    )

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    n = docs.count()
    cuts = [0, n // 3, 2 * n // 3, n]
    table = str(tmp_path / "bm25_stats")
    wb = merge_bm25_stats(table, run_ns="run-a")

    for epoch in range(3):
        lo_c, hi_c = cuts[epoch], cuts[epoch + 1]
        wave = docs.filter(
            (F.col("doc_id") >= lo_c) & (F.col("doc_id") < hi_c)
        )
        wb(wave, epoch)
        wb(wave, epoch)  # injected replay must be a no-op
        prefix = docs.filter(F.col("doc_id") < hi_c)
        got = spark.read.parquet(table).select("kind", "term", "n")
        want = bm25_stats_partial(prefix)
        assert got.count() == want.count()
        assert got.exceptAll(want).count() == 0

    # sanity: served integers == fresh aggregation integers
    st = spark.read.parquet(table)
    meta = {
        r["term"]: r["n"]
        for r in st.where(F.col("kind") == "meta").collect()
    }
    assert meta["n_docs"] == n
    assert meta["sum_dl"] == docs.select(
        F.sum(F.size(_tokens())).alias("s")
    ).collect()[0]["s"]

    # end-to-end: the same merge through a real availableNow stream
    src = tmp_path / "src"
    docs.coalesce(2).write.parquet(str(src))
    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src))
    table2 = str(tmp_path / "bm25_stats_stream")
    q = maintain_bm25_stats(
        stream, table2, str(tmp_path / "ckpt_bm25")
    )
    q.awaitTermination(120)
    got2 = spark.read.parquet(table2).select("kind", "term", "n")
    want2 = bm25_stats_partial(docs)
    assert got2.count() == want2.count()
    assert got2.exceptAll(want2).count() == 0


def test_streaming_ann_index_fold_in_equals_one_shot(spark, tmp_path):
    """Folding vector micro-batches into the stored IVFPQ index (frozen
    centroids, epoch-partitioned dynamic-overwrite appends) must — with
    a replay injected — hold EXACTLY the rows a one-shot assignment of
    the cumulative vector set produces, and a probe through the index
    must not see the epoch column."""
    from streaming_data_ingestion_spark.streaming.ann_stream import (
        assign_to_centroids,
        fold_in_writer,
        maintain_ann_index,
    )

    emb = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    cents = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 4).collect()
    ]
    idx_path = str(tmp_path / "ann_idx")

    n = emb.count()
    wb = fold_in_writer(idx_path, cents)
    cuts = [0, n // 3, 2 * n // 3, n]
    for epoch in range(3):
        wave = emb.filter(
            (F.col("vec_id") >= cuts[epoch]) & (F.col("vec_id") < cuts[epoch + 1])
        )
        wb(wave, epoch)
        wb(wave, epoch)  # replay: dynamic overwrite must not duplicate

    got = spark.read.parquet(idx_path).select(
        "vec_id", "cell", "codes", "embedding"
    )
    want = assign_to_centroids(emb, cents)
    assert got.count() == n
    assert got.count() == want.count()
    assert (
        got.withColumn("codes", F.col("codes").cast("array<int>"))
        .exceptAll(want.withColumn("codes", F.col("codes").cast("array<int>")))
        .count()
        == 0
    )
    # cell stays the leading partition dir => probe pruning unaffected
    import os

    assert any(
        d.startswith("cell=") for d in os.listdir(idx_path) if "=" in d
    )

    # the same fold through a REAL availableNow stream (fresh path)
    src = tmp_path / "vec_src"
    emb.coalesce(2).write.parquet(str(src))
    stream = spark.readStream.schema(emb.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src))
    idx2 = str(tmp_path / "ann_idx_stream")
    q = maintain_ann_index(
        stream, idx2, str(tmp_path / "ann_ckpt"), cents
    )
    q.awaitTermination(120)
    got2 = spark.read.parquet(idx2).select("vec_id", "cell", "codes", "embedding")
    assert got2.count() == n
    assert (
        got2.withColumn("codes", F.col("codes").cast("array<int>"))
        .exceptAll(want.withColumn("codes", F.col("codes").cast("array<int>")))
        .count()
        == 0
    )


def test_ann_fold_in_probe_never_sees_torn_epoch(spark, tmp_path):
    """A probe racing a mid-epoch fold-in write must see either the
    pre-epoch or the post-epoch index — never a torn mix. The torn state
    is injected deterministically: epoch 2's parquet slices land for
    only ONE cell (simulating per-partition commit renames caught
    half-way) plus in-flight `_temporary` task output, and NO commit
    marker. `read_committed_index` must pin `__epoch` to the committed
    token set as a partition filter and return exactly the two committed
    epochs, while
    a raw directory read provably observes the torn rows. Replaying the
    interrupted epoch through the normal writer then heals the tear
    (dynamic partition overwrite replaces the partial slices)."""
    import os
    import shutil

    from streaming_data_ingestion_spark.streaming.ann_stream import (
        assign_to_centroids,
        fold_in_writer,
        read_committed_index,
    )
    from streaming_data_ingestion_spark.streaming.sink import (
        last_committed_epoch,
    )

    emb = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    cents = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 4).collect()
    ]
    idx_path = str(tmp_path / "ann_idx")
    n = emb.count()
    cuts = [0, n // 3, 2 * n // 3, n]

    def wave(i):
        return emb.filter(
            (F.col("vec_id") >= cuts[i]) & (F.col("vec_id") < cuts[i + 1])
        )

    wb = fold_in_writer(idx_path, cents)
    wb(wave(0), 0)
    wb(wave(1), 1)
    assert last_committed_epoch(idx_path) == 1
    committed_want = assign_to_centroids(
        emb.filter(F.col("vec_id") < cuts[2]), cents
    )

    # ---- inject the torn epoch-2 state: one cell's slice renamed into
    # place, the rest still absent, task output under _temporary ----
    stage = str(tmp_path / "stage_e2")
    (
        assign_to_centroids(wave(2), cents)
        .withColumn("__epoch", F.lit("default-2"))
        .write.partitionBy("cell", "__epoch")
        .parquet(stage)
    )
    torn_cells = sorted(
        d for d in os.listdir(stage) if d.startswith("cell=")
    )
    assert len(torn_cells) >= 2, "need >=2 populated cells to tear"
    src_slice = os.path.join(stage, torn_cells[0], "__epoch=default-2")
    dst_slice = os.path.join(idx_path, torn_cells[0], "__epoch=default-2")
    shutil.copytree(src_slice, dst_slice)
    tmp_task = os.path.join(idx_path, "_temporary", "0", "task_000")
    os.makedirs(tmp_task)
    with open(os.path.join(tmp_task, "part-inflight.parquet"), "w") as fh:
        fh.write("NOT A PARQUET FILE")  # never opened by any reader

    # no marker for epoch 2 => the snapshot cap stays at 1
    assert last_committed_epoch(idx_path) == 1

    # the race is real: a raw listing-based read DOES see torn rows
    raw = spark.read.parquet(idx_path)
    assert raw.count() > committed_want.count()

    # ...but the committed reader sees exactly the pre-epoch index,
    # and the epoch bound is partition pruning, not a post-scan filter
    snap = read_committed_index(spark, idx_path)
    plan = snap._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    pf = plan.split("PartitionFilters:")[1].split("\n")[0]
    assert "__epoch#" in pf, pf
    cast = lambda df: df.withColumn("codes", F.col("codes").cast("array<int>"))  # noqa: E731
    assert snap.count() == committed_want.count()
    assert cast(snap).exceptAll(cast(committed_want)).count() == 0

    # replaying the interrupted epoch heals the torn slices exactly
    wb(wave(2), 2)
    assert last_committed_epoch(idx_path) == 2
    healed = read_committed_index(spark, idx_path)
    full_want = assign_to_centroids(emb, cents)
    assert healed.count() == n
    assert cast(healed).exceptAll(cast(full_want)).count() == 0


def test_ann_generation_rebuild_is_atomic_and_exact(spark, tmp_path):
    """The OPTIMIZE half of the index lifecycle: bootstrap gen 0, fold
    two epochs in, then rebuild — the retrained generation must be
    published atomically (probes racing the rebuild resolve the OLD
    generation until the single pointer rename), must compact the epoch
    history into one base epoch holding exactly the cumulative vector
    set, and a full-probe/full-rerank probe through the published
    generation must equal brute-force exact search before AND after the
    swap."""
    import os

    from streaming_data_ingestion_spark.streaming.ann_stream import (
        bootstrap_index,
        fold_in_writer,
        latest_generation,
        load_centroids,
        probe_generation,
        read_committed_index,
        rebuild_ann_index,
        resolve_index,
    )
    from streaming_data_ingestion_spark.streaming.sink import (
        last_committed_epoch,
    )

    emb = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    root = str(tmp_path / "ann_root")

    base = emb.filter(F.col("vec_id") < n // 2)
    gen0 = bootstrap_index(spark, base, root, k_cells=3, n_iters=2)
    assert gen0 == 0 and latest_generation(root) == 0

    # grow the published generation through the normal fold-in path
    wb = fold_in_writer(
        resolve_index(root), load_centroids(resolve_index(root))
    )
    wb(emb.filter((F.col("vec_id") >= n // 2) & (F.col("vec_id") < 3 * n // 4)), 1)
    wb(emb.filter(F.col("vec_id") >= 3 * n // 4), 2)
    assert read_committed_index(spark, resolve_index(root)).count() == n

    q = emb.filter(F.col("vec_id") == 7).first()["embedding"]

    def brute_top5():
        q_arr = F.array(*[F.lit(float(x)) for x in q])
        d = F.aggregate(
            F.zip_with(
                F.col("embedding"), q_arr,
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        return [
            r["vec_id"]
            for r in emb.select("vec_id", d.alias("d"))
            .orderBy(F.col("d").asc(), F.col("vec_id").asc())
            .limit(5).collect()
        ]

    want = brute_top5()
    pre = probe_generation(spark, root, list(q), nprobe=3, k=5, rerank=n)
    assert [r["vec_id"] for r in pre.collect()] == want

    # rebuild: retrained quantizer, fresh generation, atomic publish
    gen1 = rebuild_ann_index(spark, root, k_cells=4, n_iters=2)
    assert gen1 == 1 and latest_generation(root) == 1
    new_path = resolve_index(root)
    assert new_path.endswith("gen=1")
    # compacted: one base epoch, cumulative rows, old gen intact
    assert last_committed_epoch(new_path, "base") == 0
    assert last_committed_epoch(new_path) == -1  # no stream epochs yet
    assert read_committed_index(spark, new_path).count() == n
    assert read_committed_index(spark, os.path.join(root, "gen=0")).count() == n
    post = probe_generation(spark, root, list(q), nprobe=4, k=5, rerank=n)
    assert [r["vec_id"] for r in post.collect()] == want

    # atomicity: an UNPUBLISHED rebuild directory must be invisible —
    # resolve keeps answering gen=1 until the pointer flips
    os.makedirs(os.path.join(root, "gen=2"))
    with open(os.path.join(root, "gen=2", "part-halfwritten"), "w") as fh:
        fh.write("junk")
    assert resolve_index(root).endswith("gen=1")
    mid = probe_generation(spark, root, list(q), nprobe=4, k=5, rerank=n)
    assert [r["vec_id"] for r in mid.collect()] == want
    # a retried rebuild overwrites the crashed attempt and publishes it
    gen2 = rebuild_ann_index(spark, root, k_cells=3, n_iters=2)
    assert gen2 == 2 and resolve_index(root).endswith("gen=2")
    final = probe_generation(spark, root, list(q), nprobe=3, k=5, rerank=n)
    assert [r["vec_id"] for r in final.collect()] == want


def test_ann_vacuum_keeps_published_and_reader_lease(spark, tmp_path):
    """vacuum_index must never touch the published generation, must
    honor the keep-window (reader lease), and must sweep crashed
    unpublished rebuild debris."""
    import os

    from streaming_data_ingestion_spark.streaming.ann_stream import (
        bootstrap_index,
        probe_generation,
        rebuild_ann_index,
        resolve_index,
        vacuum_index,
    )

    emb = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding").filter(
        F.col("vec_id") < 64
    )
    root = str(tmp_path / "ann_root")
    bootstrap_index(spark, emb, root, k_cells=3, n_iters=2)
    rebuild_ann_index(spark, root, k_cells=3, n_iters=2)
    rebuild_ann_index(spark, root, k_cells=4, n_iters=2)  # published: gen=2
    os.makedirs(os.path.join(root, "gen=7"))  # crashed future attempt

    # keep=2: gen 1 survives (lease), gen 0 and the debris go
    assert vacuum_index(root, keep=2) == [0, 7]
    gens = {d for d in os.listdir(root) if d.startswith("gen=")}
    assert gens == {"gen=1", "gen=2"}
    assert resolve_index(root).endswith("gen=2")

    # keep=1: only the published generation remains, probes unaffected
    assert vacuum_index(root, keep=1) == [1]
    q = emb.first()["embedding"]
    got = probe_generation(spark, root, list(q), nprobe=4, k=3, rerank=64)
    assert got.count() == 3


def test_generation_probe_adc_stage_is_codes_only(spark, tmp_path):
    """The q_ann_gen_probe / probe_generation ADC stage, pinned at the
    plan level exactly like the batch probes in tests/test_ivfpq.py:
    the probed generation scan reads (vec_id, cell, codes) behind BOTH
    the cell PartitionFilter and the committed-__epoch bound — never the
    float `embedding` column — and the re-rank fetch pushes the survivor
    vec_id IN-list into the reader AND carries the same committed-epoch
    partition bound (a fetch without it would list torn in-flight epoch
    directories, the code-review finding fixed in round 9)."""
    from streaming_data_ingestion_spark.ml.ivfpq import (
        _adc_table,
        adc_candidates,
    )
    from streaming_data_ingestion_spark.streaming.ann_stream import (
        bootstrap_index,
        load_centroids,
        resolve_index,
    )
    from streaming_data_ingestion_spark.streaming.sink import (
        committed_epochs,
    )

    emb = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding").filter(
        F.col("vec_id") < 128
    )
    root = str(tmp_path / "gen_root")
    bootstrap_index(spark, emb, root, k_cells=3, n_iters=2)
    gen_path = resolve_index(root)
    cells = [c for c, _ in load_centroids(gen_path)][:2]
    tokens = [tok for _, tok in committed_epochs(gen_path)]
    q = emb.first()["embedding"]

    def _fmt(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    # the exact frame probe_generation scores: probed cells + committed
    # epoch tokens
    idx = spark.read.parquet(gen_path).filter(
        F.col("cell").isin(*cells) & F.col("__epoch").isin(tokens)
    )
    plan = _fmt(adc_candidates(idx, _adc_table(list(q)), 20))
    schemas = [ln for ln in plan.splitlines() if "ReadSchema:" in ln]
    assert schemas and all("embedding" not in ln for ln in schemas), schemas
    assert any("codes" in ln for ln in schemas), schemas
    pf = plan.split("PartitionFilters:")[1].split("\n")[0]
    assert "cell#" in pf and "__epoch#" in pf, pf

    # the re-rank fetch exactly as probe_generation builds it: epoch
    # bound + cell pruning + the survivor vec_id IN-list pushed down
    fetch = (
        spark.read.parquet(gen_path)
        .filter(
            F.col("cell").isin(*cells)
            & F.col("__epoch").isin(tokens)
            & F.col("vec_id").isin([1, 2, 3])
        )
        .select("vec_id", "embedding")
    )
    fplan = _fmt(fetch)
    pushed = fplan.split("PushedFilters:")[1].split("\n")[0]
    assert "In(vec_id" in pushed, pushed
    fpf = fplan.split("PartitionFilters:")[1].split("\n")[0]
    assert "cell#" in fpf and "__epoch#" in fpf, fpf


def test_generation_probe_lazy_fallback_matches(spark, tmp_path, monkeypatch):
    """Past _COLLECT_RERANK_MAX probe_generation must stay distributed
    (no driver materialization of the probed corpus) and return EXACTLY
    what the point-fetch plan returns — forced by dropping the bound to
    0 and re-running the identical query (the query_ivfpq parity
    contract, extended to the generation serve path)."""
    import streaming_data_ingestion_spark.ml.ivfpq as ivfpq_mod
    from streaming_data_ingestion_spark.streaming.ann_stream import (
        bootstrap_index,
        probe_generation,
    )

    emb = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding").filter(
        F.col("vec_id") < 128
    )
    root = str(tmp_path / "gen_root")
    bootstrap_index(spark, emb, root, k_cells=3, n_iters=2)
    q = [float(x) for x in emb.first()["embedding"]]

    want = probe_generation(spark, root, q, nprobe=2, k=5, rerank=20).collect()
    monkeypatch.setattr(ivfpq_mod, "_COLLECT_RERANK_MAX", 0)
    lazy_df = probe_generation(spark, root, q, nprobe=2, k=5, rerank=20)
    plan = lazy_df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PartitionFilters: [" in plan
    assert lazy_df.collect() == want


def test_ann_time_travel_and_rebuild_policy(spark, tmp_path):
    """as_of_seq reads must reproduce the index exactly as it stood
    after that commit (append-only + immutable commits make this free),
    and rebuild_due must fire on epoch-count debt, fire on cell skew,
    and stay quiet on a fresh balanced generation."""
    from streaming_data_ingestion_spark.streaming.ann_stream import (
        bootstrap_index,
        fold_in_writer,
        load_centroids,
        read_committed_index,
        rebuild_due,
        resolve_index,
    )

    emb = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding").filter(
        F.col("vec_id") < 96
    )
    root = str(tmp_path / "ann_root")
    bootstrap_index(spark, emb.filter(F.col("vec_id") < 32), root, k_cells=3, n_iters=2)
    gen = resolve_index(root)
    wb = fold_in_writer(gen, load_centroids(gen))
    wb(emb.filter((F.col("vec_id") >= 32) & (F.col("vec_id") < 64)), 1)
    wb(emb.filter(F.col("vec_id") >= 64), 2)

    # time travel: the view as of commit seq 1 is base + first fold
    asof = read_committed_index(spark, gen, as_of_seq=1)
    assert asof.count() == 64
    assert asof.agg(F.max("vec_id")).first()[0] == 63
    # and as_of beyond the committed cap clamps to the live view
    assert read_committed_index(spark, gen, as_of_seq=99).count() == 96

    # policy: quiet when fresh, fires on epoch debt, fires on skew
    assert rebuild_due(root, spark, max_epochs=64, max_cell_skew=1e9) is False
    assert rebuild_due(root, max_epochs=2) is True
    assert rebuild_due(root, spark, max_epochs=64, max_cell_skew=0.5) is True


def test_streaming_corpus_to_ann_e2e(spark, tmp_path):
    """Composition proof for the streaming vector-store lifecycle: a
    documents STREAM is embedded per micro-batch (text_embed), folded
    into a bootstrapped generation (frozen quantizer), and a probe
    through the published generation then retrieves a late-arriving
    document by its own content — i.e. ingest → embed → index → serve
    compose without any batch re-build in the loop."""
    import os

    from streaming_data_ingestion_spark.streaming.ann_stream import (
        bootstrap_index,
        fold_in_writer,
        load_centroids,
        probe_generation,
        read_committed_index,
        resolve_index,
    )
    from streaming_data_ingestion_spark.text_embed import docs_to_embeddings

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 80
    )
    base = docs_to_embeddings(docs.filter(F.col("doc_id") < 40)).persist()
    root = str(tmp_path / "ann_root")
    bootstrap_index(spark, base, root, k_cells=3, n_iters=2)
    base.unpersist()
    gen = resolve_index(root)
    cents = load_centroids(gen)

    # stream the REMAINING docs in (embed inside the micro-batch)
    src = tmp_path / "doc_src"
    docs.filter(F.col("doc_id") >= 40).coalesce(2).write.parquet(str(src))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    inner = fold_in_writer(gen, cents)

    def embed_and_fold(batch_df, epoch_id):
        inner(docs_to_embeddings(batch_df), epoch_id)

    q = (
        stream.writeStream.foreachBatch(embed_and_fold)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    assert read_committed_index(spark, gen).count() == 80

    # serve: the query is a LATE-ARRIVING doc's own embedding — full
    # probe, so it must come back rank-1 at distance 0
    target = 67
    q_emb = [
        float(x)
        for x in docs_to_embeddings(docs.filter(F.col("doc_id") == target))
        .first()["embedding"]
    ]
    got = probe_generation(spark, root, q_emb, nprobe=3, k=3, rerank=80).collect()
    assert got[0]["vec_id"] == target
    assert got[0]["exact_dist"] == 0.0


def test_ann_compact_generation_preserves_rows_and_quantizer(spark, tmp_path):
    """compact_generation must fold the epoch history into one base
    epoch with BIT-IDENTICAL rows (same cells, codes, vectors — no
    re-assignment math), keep the quantizer verbatim, and publish
    atomically; probes answer identically before and after."""
    from streaming_data_ingestion_spark.streaming.ann_stream import (
        bootstrap_index,
        compact_generation,
        fold_in_writer,
        load_centroids,
        probe_generation,
        read_committed_index,
        resolve_index,
    )
    from streaming_data_ingestion_spark.streaming.sink import (
        committed_epochs,
    )

    emb = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding").filter(
        F.col("vec_id") < 96
    )
    root = str(tmp_path / "ann_root")
    bootstrap_index(spark, emb.filter(F.col("vec_id") < 32), root, k_cells=3, n_iters=2)
    gen0 = resolve_index(root)
    wb = fold_in_writer(gen0, load_centroids(gen0))
    wb(emb.filter((F.col("vec_id") >= 32) & (F.col("vec_id") < 64)), 0)
    wb(emb.filter(F.col("vec_id") >= 64), 1)
    before = read_committed_index(spark, gen0)
    q = [float(x) for x in emb.first()["embedding"]]
    probe_before = probe_generation(spark, root, q, nprobe=3, k=5, rerank=96).collect()

    gen = compact_generation(spark, root)
    new_path = resolve_index(root)
    assert new_path.endswith(f"gen={gen}")
    # one base epoch, identical rows (cells + codes + vectors), same quantizer
    assert [tok for _, tok in committed_epochs(new_path)] == ["base-0"]
    after = read_committed_index(spark, new_path)
    cast = lambda df: df.withColumn("codes", F.col("codes").cast("array<int>"))  # noqa: E731
    assert after.count() == 96
    assert cast(after).exceptAll(cast(before)).count() == 0
    assert load_centroids(new_path) == load_centroids(gen0)
    probe_after = probe_generation(spark, root, q, nprobe=3, k=5, rerank=96).collect()
    assert probe_after == probe_before


def test_ann_late_replay_keeps_commit_seq_and_rows(spark, tmp_path):
    """A LATE replay (epoch 0 re-delivered after epoch 1 already
    committed) must leave the index rows, the commit sequence, and any
    as_of snapshot bit-identical. The marker makes the completed replay
    a NO-OP (the rows are a pure function of the input, and rewriting
    them would swap parquet file names under any probe mid-scan), so
    time travel cannot be reordered and live readers cannot be broken
    by replays. Pinned by asserting the epoch's files are untouched."""
    from streaming_data_ingestion_spark.streaming.ann_stream import (
        bootstrap_index,
        fold_in_writer,
        load_centroids,
        read_committed_index,
        resolve_index,
    )
    from streaming_data_ingestion_spark.streaming.sink import (
        committed_epochs,
    )

    emb = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding").filter(
        F.col("vec_id") < 64
    )
    root = str(tmp_path / "ann_root")
    bootstrap_index(spark, emb.filter(F.col("vec_id") < 16), root, k_cells=3, n_iters=2)
    gen = resolve_index(root)
    wb = fold_in_writer(gen, load_centroids(gen))
    w0 = emb.filter((F.col("vec_id") >= 16) & (F.col("vec_id") < 40))
    w1 = emb.filter(F.col("vec_id") >= 40)
    wb(w0, 0)
    wb(w1, 1)
    cast = lambda df: df.withColumn("codes", F.col("codes").cast("array<int>"))  # noqa: E731

    def snap(df):
        return sorted(
            (r["vec_id"], r["cell"], tuple(r["codes"])) for r in cast(df).collect()
        )

    import glob as _glob
    import os as _os

    seq_before = committed_epochs(gen)
    rows_before = snap(read_committed_index(spark, gen))
    asof_before = read_committed_index(spark, gen, as_of_seq=1).count()
    # a live reader built BEFORE the replay — its file index must stay valid
    live_reader = read_committed_index(spark, gen)
    files_before = sorted(
        _glob.glob(_os.path.join(gen, "cell=*", "__epoch=default-0", "*.parquet"))
    )

    wb(w0, 0)  # late replay of an already-committed epoch

    assert committed_epochs(gen) == seq_before
    # no-op: the committed epoch's files are byte-for-byte untouched
    files_after = sorted(
        _glob.glob(_os.path.join(gen, "cell=*", "__epoch=default-0", "*.parquet"))
    )
    assert files_after == files_before
    assert live_reader.count() == 64  # pre-replay handle still readable
    after = read_committed_index(spark, gen)
    assert after.count() == 64
    assert snap(after) == rows_before
    assert read_committed_index(spark, gen, as_of_seq=1).count() == asof_before


def test_two_streams_fold_into_one_index_without_collision(spark, tmp_path):
    """Two SUCCESSIVE streams (fresh checkpoints, so both start at Spark
    epoch 0) folding into the same index must never overwrite each
    other: each checkpoint's query id namespaces its epoch slices, the
    committed view holds the union, and index_history shows both runs'
    commits in one total order."""
    from streaming_data_ingestion_spark.streaming.ann_stream import (
        bootstrap_index,
        index_history,
        load_centroids,
        maintain_ann_index,
        read_committed_index,
        resolve_index,
    )

    emb = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding").filter(
        F.col("vec_id") < 96
    )
    root = str(tmp_path / "ann_root")
    bootstrap_index(spark, emb.filter(F.col("vec_id") < 32), root, k_cells=3, n_iters=2)
    gen = resolve_index(root)
    cents = load_centroids(gen)

    def run_stream(lo, hi, ckpt):
        src = tmp_path / f"src_{ckpt}"
        emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)).coalesce(
            1
        ).write.parquet(str(src))
        stream = spark.readStream.schema(emb.schema).parquet(str(src))
        q = maintain_ann_index(stream, gen, str(tmp_path / ckpt), cents)
        q.awaitTermination(120)
        return q.id

    run_a = run_stream(32, 64, "ckptA")   # epochs start at 0
    run_b = run_stream(64, 96, "ckptB")   # ...and so do these

    got = read_committed_index(spark, gen)
    assert got.count() == 96  # nothing overwritten
    assert got.select("vec_id").distinct().count() == 96

    hist = {
        (r["run_ns"], r["epoch"]): r["seq"]
        for r in index_history(spark, gen).collect()
    }
    assert ("base", 0) in hist and (run_a, 0) in hist and (run_b, 0) in hist
    assert hist[("base", 0)] < hist[(run_a, 0)] < hist[(run_b, 0)]


def test_maintenance_race_probe_on_previous_generation(spark, tmp_path):
    """Verdict r9 #7: compact_generation + vacuum racing an in-flight
    probe that resolved the PREVIOUS generation. Contract: within the
    retention window (keep=2) the stale probe still answers EXACTLY;
    past it (keep=1) executing the stale plan must fail loudly or
    return the complete correct answer — never a partial read of a
    half-deleted generation."""
    import pytest as _pytest

    from streaming_data_ingestion_spark.streaming.ann_stream import (
        bootstrap_index,
        compact_generation,
        fold_in_writer,
        load_centroids,
        probe_generation,
        resolve_index,
        vacuum_index,
    )

    emb = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding").filter(
        F.col("vec_id") < 64
    )
    root = str(tmp_path / "ann_root")
    bootstrap_index(spark, emb.filter(F.col("vec_id") < 32), root, k_cells=3, n_iters=2)
    gen0 = resolve_index(root)
    wb = fold_in_writer(gen0, load_centroids(gen0), run_ns="r")
    wb(emb.filter(F.col("vec_id") >= 32), 0)

    q = [float(x) for x in emb.first()["embedding"]]
    expect = probe_generation(spark, root, q, nprobe=3, k=5, rerank=64).collect()

    # in-flight probe: resolved gen 0, not yet executed when maintenance runs
    stale = probe_generation(spark, root, q, nprobe=3, k=5, rerank=64)

    assert compact_generation(spark, root) == 1  # pointer now at gen 1

    # retention window (keep=2): gen 0 survives, the stale plan answers
    # exactly — the reader-lease half of the contract
    assert vacuum_index(root, keep=2) == []
    assert stale.collect() == expect

    # fresh pointer resolution also answers exactly through gen 1
    assert probe_generation(spark, root, q, nprobe=3, k=5, rerank=64).collect() == expect

    # past the lease (keep=1): gen 0 is deleted; the stale plan must
    # fail loudly OR return the complete answer — never a partial one
    stale2 = probe_generation(spark, root, q, nprobe=3, k=5, rerank=64)
    # re-point stale2 at gen 0? it resolved gen 1 — build one against the
    # OLD path explicitly via the pre-vacuum resolution instead:
    assert vacuum_index(root, keep=1) == [0]
    try:
        rows = stale.collect()  # still bound to the deleted gen 0
    except Exception:
        rows = None  # loud failure is an allowed outcome
    assert rows is None or rows == expect, (
        "stale probe returned a PARTIAL result after vacuum"
    )
    # current-generation serving is untouched by the vacuum
    assert stale2.collect() == expect


# --------------------------------------------------------------------------
# Append-only epochs (streaming/sink.commit_epoch): a fresh checkpoint
# restarts epoch ids at 0, so every writer must keep an earlier run's
# epochs, and a two-table epoch must replay to the uncrashed state.
# --------------------------------------------------------------------------


def _ts(day: int):
    import datetime

    return datetime.datetime(2024, 1, day, 12)


def _iso_ann_stream(spark, tmp_path):
    from streaming_data_ingestion_spark.streaming.ann_stream import (
        bootstrap_index,
        load_centroids,
        maintain_ann_index,
        read_committed_index,
        resolve_index,
    )

    emb = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding").filter(
        F.col("vec_id") < 64
    )
    root = str(tmp_path / "ann_root")
    bootstrap_index(spark, emb.filter(F.col("vec_id") < 16), root, k_cells=3, n_iters=2)
    gen = resolve_index(root)
    cents = load_centroids(gen)

    def run(lo, hi, ckpt):
        src = tmp_path / f"src_{lo}"
        if not src.exists():
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)).coalesce(
                1
            ).write.parquet(str(src))
        stream = spark.readStream.schema(emb.schema).parquet(str(src))
        maintain_ann_index(stream, gen, str(tmp_path / ckpt), cents).awaitTermination(120)

    run(16, 40, "ckpt_a")
    run(16, 40, "ckpt_a")  # restart of run A: nothing new, nothing lost
    assert read_committed_index(spark, gen).count() == 40
    run(40, 64, "ckpt_b")
    got = read_committed_index(spark, gen)
    assert got.count() == 64
    assert got.select("vec_id").distinct().count() == 64


def _iso_bucket_growth(spark, tmp_path):
    from streaming_data_ingestion_spark.streaming.bucket_growth import (
        bucketed_growth_writer,
        read_committed_facts,
    )

    li = load(spark, SF_DIR, "lineitem")
    path = str(tmp_path / "li_iso")
    try:
        for ns, mod in (("run_a", 0), ("run_b", 1)):
            wb = bucketed_growth_writer("li_iso", path, ["l_orderkey"], 4, run_ns=ns)
            wb(li.filter(F.col("l_orderkey") % 3 == mod), 0)
        spark.sql("REFRESH TABLE li_iso")
        got = read_committed_facts(spark, "li_iso", path)
        assert got.count() == li.filter(F.col("l_orderkey") % 3 != 2).count()
    finally:
        spark.sql("DROP TABLE IF EXISTS li_iso")


def _iso_growth(spark, tmp_path):
    from streaming_data_ingestion_spark.streaming.growth import (
        first_seen_batch_writer,
    )

    index, daily = str(tmp_path / "first_seen"), str(tmp_path / "daily")
    schema = "user_id string, ts timestamp"
    runs = {
        "run-a": [("u1", _ts(1)), ("u2", _ts(2))],
        "run-b": [("u1", _ts(3)), ("u3", _ts(3))],
    }
    for ns, rows in runs.items():
        first_seen_batch_writer(index, daily, run_ns=ns)(
            spark.createDataFrame(rows, schema), 0
        )
    first_day = {
        r["user_id"]: r["first_day"].day for r in spark.read.parquet(index).collect()
    }
    assert first_day == {"u1": 1, "u2": 2, "u3": 3}
    total = spark.read.parquet(daily).agg(F.sum("new_users")).first()[0]
    assert total == len(first_day)


def _iso_dedup_index(spark, tmp_path):
    from streaming_data_ingestion_spark.streaming.dedup_index import (
        dedup_against_index,
    )

    idx, out = str(tmp_path / "dd_index"), str(tmp_path / "dd_out")
    runs = {"a": [(1, "alpha"), (2, "beta")], "b": [(3, "alpha"), (4, "gamma")]}
    for name, rows in runs.items():
        src = tmp_path / f"src_{name}"
        src.mkdir()
        (src / "b0.jsonl").write_text(
            "\n".join(json.dumps({"doc_id": d, "text": t}) for d, t in rows)
        )
        stream = spark.readStream.schema("doc_id long, text string").json(str(src))
        dedup_against_index(
            stream, idx, out, str(tmp_path / f"ckpt_{name}")
        ).awaitTermination(120)
    survivors = sorted((r["doc_id"], r["text"]) for r in spark.read.parquet(out).collect())
    # run B's repeat of "alpha" is dropped; both runs' novel texts survive
    assert survivors == [(1, "alpha"), (2, "beta"), (4, "gamma")]
    assert spark.read.parquet(idx).count() == 3


def _iso_dedup_stream(spark, tmp_path):
    from streaming_data_ingestion_spark.queries.llm_dedup import (
        minhash_bands_df,
    )
    from streaming_data_ingestion_spark.streaming.dedup_stream import (
        band_stream,
        flag_neardups,
    )

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    hist_bands = minhash_bands_df(docs.filter(F.col("doc_id") < 300)).persist()
    out = str(tmp_path / "flags")
    want = set()
    try:
        # each run re-ingests copies of historical docs: near-dups by construction
        for name, lo in (("a", 0), ("b", 20)):
            wave = docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 20)
            ).withColumn("doc_id", F.col("doc_id") + 10_000)
            flagged = {
                r["doc_id"]
                for r in band_stream(wave)
                .join(hist_bands, ["band_idx", "band_hash"], "left_semi")
                .collect()
            }
            assert flagged, name
            want |= flagged
            src = str(tmp_path / f"src_{name}")
            wave.coalesce(1).write.parquet(src)
            stream = spark.readStream.schema(wave.schema).parquet(src)
            flag_neardups(
                stream, hist_bands, out, str(tmp_path / f"ckpt_{name}")
            ).awaitTermination(120)
    finally:
        hist_bands.unpersist()
    got = [r["doc_id"] for r in spark.read.parquet(out).collect()]
    assert sorted(got) == sorted(want)


def _iso_ingest(spark, tmp_path):
    out = str(tmp_path / "users_out")
    for name, n in (("a", 7), ("b", 5)):
        src = tmp_path / f"wire_{name}"
        src.mkdir()
        (src / "b0.jsonl").write_text("\n".join(fake_users_json_lines(n)))
        ingest_users_from_json_dir(
            spark, str(src), out, str(tmp_path / f"ckpt_{name}")
        ).awaitTermination(120)
    assert spark.read.parquet(out).count() == 12


_ISOLATION_CASES = {
    "ann_stream": _iso_ann_stream,
    "bucket_growth": _iso_bucket_growth,
    "growth": _iso_growth,
    "dedup_index": _iso_dedup_index,
    "dedup_stream": _iso_dedup_stream,
    "ingest": _iso_ingest,
}


@pytest.mark.parametrize("writer", sorted(_ISOLATION_CASES))
def test_fresh_run_keeps_earlier_runs_epochs(spark, tmp_path, writer):
    """Run A, then run B over the same output paths on a fresh checkpoint
    (a stream) or under another ``run_ns`` (a writer driven by hand).
    Both start at epoch 0, and both runs' rows must survive: each run's
    epochs live in its own namespace, so B never overwrites or skips A's
    epoch 0, and a reader of history (dedup index, first-seen index)
    sees A's committed rows."""
    _ISOLATION_CASES[writer](spark, tmp_path)


def _two_epoch_stream(spark, tmp_path, schema, waves):
    """A file stream that delivers ``waves`` as epochs 0, 1, … in order."""
    import os
    import time

    src = tmp_path / "src"
    if not src.exists():
        src.mkdir(parents=True)
        base = time.time() - 100
        for i, rows in enumerate(waves):
            f = src / f"b{i}.jsonl"
            f.write_text("\n".join(json.dumps(r, default=str) for r in rows))
            os.utime(f, (base + 10 * i, base + 10 * i))
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )


def _crash_dedup_index(spark, run_dir):
    from streaming_data_ingestion_spark.streaming.dedup_index import (
        dedup_against_index,
    )

    waves = [
        [{"doc_id": 1, "text": "alpha beta"}, {"doc_id": 2, "text": "gamma"}],
        [
            {"doc_id": 3, "text": "alpha beta"},
            {"doc_id": 4, "text": "delta"},
            {"doc_id": 5, "text": "Delta "},
        ],
    ]
    idx, out = str(run_dir / "index"), str(run_dir / "out")

    def run():
        stream = _two_epoch_stream(spark, run_dir, "doc_id long, text string", waves)
        dedup_against_index(stream, idx, out, str(run_dir / "ckpt")).awaitTermination(120)

    def tables():
        return (
            sorted(tuple(r) for r in spark.read.parquet(out).drop("__epoch").collect()),
            sorted(tuple(r) for r in spark.read.parquet(idx).drop("__epoch").collect()),
        )

    return run, tables


def _crash_growth(spark, run_dir):
    from streaming_data_ingestion_spark.streaming.growth import maintain_first_seen

    waves = [
        [{"user_id": "u1", "ts": _ts(1)}, {"user_id": "u2", "ts": _ts(2)}],
        [
            {"user_id": "u1", "ts": _ts(3)},
            {"user_id": "u3", "ts": _ts(3)},
            {"user_id": "u3", "ts": _ts(4)},
        ],
    ]
    index, daily = str(run_dir / "index"), str(run_dir / "daily")

    def run():
        stream = _two_epoch_stream(spark, run_dir, "user_id string, ts timestamp", waves)
        maintain_first_seen(stream, index, daily, str(run_dir / "ckpt")).awaitTermination(120)

    def tables():
        return (
            sorted(tuple(r) for r in spark.read.parquet(index).drop("__epoch").collect()),
            sorted(
                tuple(r)
                for r in spark.read.parquet(daily).select("day", "new_users").collect()
            ),
        )

    return run, tables


_CRASH_POINTS = {
    # (wrapped sink function, the call that raises): each epoch makes two
    # overwrite_partitions calls and one mark; the crash hits epoch 1
    "before_first_write": ("overwrite_partitions", 3),
    "between_writes": ("overwrite_partitions", 4),
    "before_marker": ("mark_epoch_committed", 2),
}


@pytest.mark.parametrize("point", sorted(_CRASH_POINTS))
@pytest.mark.parametrize("writer", ["dedup_index", "growth"])
def test_two_table_epoch_replays_to_uncrashed_state(
    spark, tmp_path, monkeypatch, writer, point
):
    """An epoch that writes two tables crashes once — before its first
    write, between its writes, or after both but before its marker. The
    restart on the same checkpoint replays the epoch in the same
    namespace, and every table must then equal an uncrashed run's. This
    pins the committed-only read of the index: were the replay to see its
    own attempt's index partition, it would find no new digests or users
    and drop them from the output or the daily counts."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from streaming_data_ingestion_spark.streaming import (
        dedup_index,
        growth,
        sink,
    )

    case = {"dedup_index": _crash_dedup_index, "growth": _crash_growth}[writer]
    run_ref, tables_ref = case(spark, tmp_path / "uncrashed")
    run_ref()

    name, nth = _CRASH_POINTS[point]
    real = getattr(sink, name)
    calls = []

    def crash_once(*args, **kwargs):
        calls.append(name)
        if len(calls) == nth:
            raise RuntimeError(f"injected crash at {name} call {nth}")
        return real(*args, **kwargs)

    for mod in (sink, dedup_index, growth):
        if hasattr(mod, name):
            monkeypatch.setattr(mod, name, crash_once)
    run, tables = case(spark, tmp_path / "crashed")
    with pytest.raises(StreamingQueryException, match="injected crash"):
        run()
    monkeypatch.undo()
    assert len(calls) == nth
    run()  # restart: the checkpoint replays epoch 1 under the same query id
    assert tables() == tables_ref()


def test_read_if_exists_propagates_every_error_but_a_missing_path(
    spark, tmp_path
):
    """The one missing-table read: a path that does not exist is "no
    table yet"; any other read failure (here a directory with no parquet
    files, whose schema cannot be inferred) must propagate, never be read
    as an empty history."""
    from pyspark.errors import AnalysisException

    from streaming_data_ingestion_spark.streaming.sink import read_if_exists

    assert read_if_exists(spark, str(tmp_path / "absent")) is None
    (tmp_path / "empty").mkdir()
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        read_if_exists(spark, str(tmp_path / "empty"))
