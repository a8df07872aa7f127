"""The one process-level cache for derived artifacts.

Builders reuse what they derive from a fixture snapshot: persisted
intermediates, stored sketches, re-laid-out copies, ANN indexes,
literal plane columns and corpus counts. Every such reuse goes through
``cached`` or ``stored`` under one rule:

* The key is (application id, kind, params, snapshot). The snapshot is
  the absolute ``sf_dir`` plus the ``st_mtime_ns`` of each
  ``tables.TABLES`` file in it, the stamp ``tables.load`` keys on. A
  fixture rewritten in place, a second directory with the same
  basename, or a restarted session therefore never meets an entry built
  from other data.
* At most one live entry per kind. A new key releases the old entry: a
  persisted DataFrame is unpersisted (unless its application is gone,
  which took the cache with it); a stored directory stays on disk for
  ``artifact_path``'s atexit cleanup, because a lazy frame may still
  read it.
* A stored artifact lives at ``artifact_path(f"{kind}_{digest of
  key}_{build number}")``. The build number keeps a rebuild of the same
  key (after ``clear`` or an eviction) out of a directory that a lazy
  frame from the earlier build may still be reading.
* One re-entrant lock guards the map and every build, because one build
  may call another.

Reuse never changes values: an entry is only served for the exact
snapshot it was built from, and a released DataFrame only degrades to
recompute.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import threading
from collections.abc import Callable
from typing import Any

from pyspark import SparkContext
from pyspark.sql import DataFrame

from streaming_data_ingestion_spark.tables import TABLES, artifact_path

_LOCK = threading.RLock()
_LIVE: dict[str, tuple[tuple, Any]] = {}  # kind -> (key, value)
_BUILDS = itertools.count()


def _app_id() -> str | None:
    # the process's running context, not SparkSession.getActiveSession():
    # the active session is thread-local and reads None in other threads
    sc = SparkContext._active_spark_context
    return sc.applicationId if sc is not None else None


def snapshot(sf_dir: str | None) -> tuple:
    """(absolute dir, mtime_ns of each TABLES file or None); () for no dir."""
    if sf_dir is None:
        return ()
    d = os.path.abspath(sf_dir)
    stamps = []
    for name in TABLES:
        try:
            stamps.append(os.stat(f"{d}/{name}.parquet").st_mtime_ns)
        except OSError:
            stamps.append(None)
    return (d, *stamps)


def _release(key: tuple, value: Any, app: str | None) -> None:
    if isinstance(value, DataFrame) and key[0] == app:
        value.unpersist()


def _get(kind: str, sf_dir: str | None, params: tuple, build: Callable) -> Any:
    app = _app_id()
    key = (app, kind, tuple(params), snapshot(sf_dir))
    with _LOCK:
        live = _LIVE.get(kind)
        if live is not None and live[0] == key:
            return live[1]
        if live is not None:
            del _LIVE[kind]
            _release(*live, app)
        value = build(key)
        if isinstance(value, DataFrame):
            value = value.persist()
        _LIVE[kind] = (key, value)
        return value


def cached(
    kind: str, sf_dir: str | None, build: Callable[[], Any], params: tuple = ()
) -> Any:
    """``build()`` once per (kind, params, snapshot of ``sf_dir``) in this
    application. A DataFrame result is persisted (lazily) and unpersisted
    when its entry is released. ``sf_dir=None`` keys on no data at all
    (values that are pure functions of ``kind`` and ``params``)."""
    return _get(kind, sf_dir, params, lambda key: build())


def stored(
    kind: str, sf_dir: str, build: Callable[[str], Any], params: tuple = ()
) -> Any:
    """``build(path)`` writes the artifact under a fresh directory named
    from the key and returns what readers need (usually the path)."""

    def _build(key: tuple) -> Any:
        digest = hashlib.sha1(repr(key).encode()).hexdigest()[:12]
        return build(artifact_path(f"{kind}_{digest}_{next(_BUILDS)}"))

    return _get(kind, sf_dir, params, _build)


def clear() -> None:
    """Forget every entry, unpersisting live DataFrames, so the next call
    of each kind pays its build again — bench.py's cold pass."""
    app = _app_id()
    with _LOCK:
        for key, value in _LIVE.values():
            _release(key, value, app)
        _LIVE.clear()
