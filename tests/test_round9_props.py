"""Round-9 cross-path properties.

Each test pins that two INDEPENDENT implementations of the same answer
agree bit-exactly — the house discipline for changes that add a second
physical path to an existing logical result (point-fetch vs lazy probe,
stored stats vs fresh aggregation, bucketed vs raw layout).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from streaming_data_ingestion_spark.registry import all_queries
from streaming_data_ingestion_spark.tables import load

from .conftest import SF_DIR


def test_ivfpq_probe_lazy_path_matches_point_fetch(spark, monkeypatch):
    """The registered probe binding answered through BOTH serving plans:
    the default bounded-collect point fetch and (bound forced to 0) the
    distributed lazy broadcast-join re-rank. Same rows, same doubles —
    the fallback is a physical-plan choice, never a semantic one."""
    import streaming_data_ingestion_spark.ml.ivfpq as ivfpq_mod
    from streaming_data_ingestion_spark.queries.llm_similarity import (
        _PARAM_Q2,
        _B2_K,
        _B2_NPROBE,
        _B2_RERANK,
        ivfpq_probe,
    )

    want = ivfpq_probe(
        spark, SF_DIR, _PARAM_Q2, nprobe=_B2_NPROBE, k=_B2_K,
        rerank=_B2_RERANK,
    ).collect()
    monkeypatch.setattr(ivfpq_mod, "_COLLECT_RERANK_MAX", 0)
    got = ivfpq_probe(
        spark, SF_DIR, _PARAM_Q2, nprobe=_B2_NPROBE, k=_B2_K,
        rerank=_B2_RERANK,
    ).collect()
    assert got == want and len(got) == _B2_K


def test_bm25_stored_stats_match_fresh_aggregation_b2(spark):
    """bm25_serve (stored streaming-maintained stats, absent term
    included) must equal bm25_search (fresh corpus aggregation) row for
    row at the b2 binding — the maintain→store→serve contract stated as
    a direct frame equality, not just through the oracle hash."""
    from streaming_data_ingestion_spark.queries.llm_text import bm25_search
    from streaming_data_ingestion_spark.queries.serving import (
        _BM25_SERVE_K_B2,
        _BM25_SERVE_TERMS_B2,
        bm25_serve,
    )

    served = bm25_serve(
        spark, SF_DIR, _BM25_SERVE_TERMS_B2, _BM25_SERVE_K_B2
    ).collect()
    fresh = bm25_search(
        spark, SF_DIR, _BM25_SERVE_TERMS_B2, _BM25_SERVE_K_B2
    ).collect()
    assert served == fresh and len(served) == _BM25_SERVE_K_B2
    # the binding's point: one term has no df row in the store at all
    docs = load(spark, SF_DIR, "documents")
    absent = _BM25_SERVE_TERMS_B2[-1]
    assert (
        docs.filter(
            F.array_contains(
                F.split(F.trim(F.col("text")), " "), absent
            )
        ).count()
        == 0
    ), f"fixture drift: {absent!r} now appears in the corpus"


def test_ivfpq_probe_b2_matches_pure_python_replica(spark):
    """Third, engine-independent derivation of the q_sim_ivfpq_probe_b2
    answer: route/ADC/rerank/re-rank recomputed in plain python over the
    stored index rows. The oracle pins Spark == DuckDB; this pins both
    == the algorithm as written on paper (partial probe included)."""
    import math

    from streaming_data_ingestion_spark.ml.ivfpq import _adc_table
    from streaming_data_ingestion_spark.queries.llm_similarity import (
        _PARAM_Q2,
        _B2_K,
        _B2_NPROBE,
        _B2_RERANK,
        _IVF_K,
        _det_ivfpq_index_for,
        ivfpq_probe,
    )

    path = _det_ivfpq_index_for(spark, SF_DIR)
    idx = spark.read.parquet(path).collect()
    emb = {
        r["vec_id"]: list(r["embedding"])
        for r in load(spark, SF_DIR, "embeddings").collect()
    }

    def cos(a, b):
        dot = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) * float(x) for x in a))
        nb = math.sqrt(sum(float(y) * float(y) for y in b))
        return dot / (na * nb)

    # route: top-nprobe of the first-K corpus vectors by cosine
    routed = sorted(
        ((-cos(_PARAM_Q2, emb[c]), c) for c in range(_IVF_K))
    )[:_B2_NPROBE]
    cells = {c for _, c in routed}
    # ADC over probed rows, rerank cut, exact re-rank, top-k
    table = _adc_table(_PARAM_Q2)
    cand = []
    for r in idx:
        if int(r["cell"]) in cells:
            adc = sum(table[s][code] for s, code in enumerate(r["codes"]))
            cand.append((adc, r["vec_id"], int(r["cell"])))
    kept = sorted(cand)[:_B2_RERANK]

    def l2(a, b):
        return sum(
            (float(x) - float(y)) * (float(x) - float(y))
            for x, y in zip(a, b)
        )

    want = sorted(
        ((l2(_PARAM_Q2, emb[v]), v, c, adc) for adc, v, c in kept)
    )[:_B2_K]

    got = ivfpq_probe(
        spark, SF_DIR, _PARAM_Q2, nprobe=_B2_NPROBE, k=_B2_K,
        rerank=_B2_RERANK,
    ).collect()
    assert [r["vec_id"] for r in got] == [v for _, v, _, _ in want]
    for r, (d, _v, c, adc) in zip(got, want):
        assert r["cell"] == c
        assert math.isclose(r["exact_dist"], d, rel_tol=1e-9)
        assert math.isclose(r["adc_dist"], adc, rel_tol=1e-9)


def test_bm25_entry_points_handle_degenerate_queries(spark):
    """Serving APIs take caller input: an EMPTY term list matches
    nothing (typed empty frame, not a None-column TypeError), and an
    all-absent term list returns zero rows through both the fresh and
    the stored-stats path."""
    from streaming_data_ingestion_spark.queries.llm_text import bm25_search
    from streaming_data_ingestion_spark.queries.serving import bm25_serve

    for fn in (bm25_search, bm25_serve):
        empty = fn(spark, SF_DIR, (), 5)
        assert empty.columns == ["rank", "doc_id", "dl", "bm25"]
        assert empty.count() == 0
        assert fn(spark, SF_DIR, ("quantile", "zzznope"), 5).count() == 0


def test_bucketed_join_matches_raw_layout(spark):
    """q_bucketed_join THROUGH the stored co-bucketed tables must equal
    the identical aggregation over the raw parquet loads bit-exactly —
    the layout may only change the plan, never a value."""
    from streaming_data_ingestion_spark.compat import dsum

    got = {
        r["o_orderpriority"]: (r["n_items"], r["sum_qty"], r["revenue"])
        for r in all_queries()["q_bucketed_join"].fn(spark, SF_DIR).collect()
    }
    li = load(spark, SF_DIR, "lineitem")
    od = load(spark, SF_DIR, "orders")
    want = {
        r["o_orderpriority"]: (r["n_items"], r["sum_qty"], r["revenue"])
        for r in (
            li.join(od, li["l_orderkey"] == od["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_items"),
                dsum("l_quantity", "sum_qty"),
                dsum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")),
                    "revenue",
                ),
            )
            .collect()
        )
    }
    assert got == want and len(got) >= 2


# --------------------------------------------------------------------------
# Commit-log properties (streaming/ann_stream.py): no Spark needed —
# the marker protocol is pure filesystem, so hypothesis can hammer it.
# --------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=60, deadline=None)
@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["runA", "runB", "base", "x-y"]),  # ns may contain '-'
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_commit_log_total_order_properties(tmp_path_factory, ops):
    """For ANY interleaving of epoch commits (namespaces reused, epochs
    repeated = replays): sequence numbers are unique and dense from 0,
    a replayed commit returns its ORIGINAL seq, committed_epochs is
    sorted by seq and stable across calls, and per-namespace
    last_committed_epoch tracks the max epoch of exactly that
    namespace."""
    from streaming_data_ingestion_spark.streaming.sink import (
        committed_epochs,
        last_commit_seq,
        last_committed_epoch,
        mark_epoch_committed,
    )

    import pytest as _pytest

    root = str(tmp_path_factory.mktemp("commitlog"))
    # namespaces that would corrupt per-namespace parsing are rejected
    # at the token boundary, not mis-parsed later
    for bad in ("", "x-", "a/b"):
        with _pytest.raises(ValueError):
            mark_epoch_committed(root, 0, bad)
    first_seq: dict[tuple[str, int], int] = {}
    for ns, e in ops:
        seq = mark_epoch_committed(root, e, ns)
        if (ns, e) in first_seq:
            assert seq == first_seq[(ns, e)]  # replay keeps its seq
        else:
            first_seq[(ns, e)] = seq

    eps = committed_epochs(root)
    seqs = [s for s, _ in eps]
    assert seqs == sorted(seqs) == list(range(len(first_seq)))
    assert eps == committed_epochs(root)  # stable re-read
    assert last_commit_seq(root) == len(first_seq) - 1
    for ns in {ns for ns, _ in ops}:
        want = max((e for (n, e) in first_seq if n == ns), default=-1)
        assert last_committed_epoch(root, ns) == want
