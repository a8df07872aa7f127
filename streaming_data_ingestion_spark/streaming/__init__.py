"""Structured Streaming pipelines.

- ``sink``     — the exactly-once protocol every foreachBatch sink uses:
  one stream start, one dynamic partition overwrite, one additive merge
  with per-partition epoch stamps, one commit log for append-only sinks
- ``ingest``   — the reference pipeline rebuilt end-to-end (decode →
  flatten → key synthesis → checkpointed append sink)
- ``mv``, ``hist_stream``, ``cms_stream``, ``bm25_stats``, ``growth`` —
  incrementally maintained aggregates (``sink.merge_additive``)
- ``ann_stream``, ``bucket_growth`` — append-only epoch partitions behind
  the ``sink`` commit log
- ``windows``  — watermarked tumbling/sliding/session aggregations and
  streaming dedup
- ``stateful`` — arbitrary per-key state with applyInPandasWithState
"""
