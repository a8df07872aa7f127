"""Structured Streaming pipelines.

- ``sink``     — the exactly-once protocol every foreachBatch sink uses:
  one stream start, one dynamic partition overwrite, one additive merge
  with per-partition epoch stamps, one append-only epoch commit
  (``commit_epoch``) with its committed-epoch predicate, one namespace
  rule (the running query's id) for both
- ``ingest``   — the reference pipeline rebuilt end-to-end (decode →
  flatten → key synthesis → checkpointed epoch-committed sink)
- ``mv``, ``hist_stream``, ``cms_stream``, ``bm25_stats``, ``growth`` —
  incrementally maintained aggregates (``sink.merge_additive``)
- ``ann_stream``, ``bucket_growth``, ``growth``, ``dedup_index``,
  ``dedup_stream`` — append-only epochs through ``sink.commit_epoch``
- ``windows``  — watermarked tumbling/sliding/session aggregations and
  streaming dedup
- ``stateful`` — arbitrary per-key state with applyInPandasWithState
"""
