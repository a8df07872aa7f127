"""Guard on the re-verify guard (VERDICT r8 "Next round" #7).

Round 8 rewrote three green keys without stamping reverify_queue.json,
so the rotation kept certifying the old plans. These tests make that
impossible to repeat: every registered key's implementing source
(transitive: the function plus every package helper/constant it
reaches) is content-digested into registry_digests.json with the round
it last changed; an edit without running scripts/update_digests.py
fails here, and the updater itself stamps edited green keys into
reverify_queue.json so the driver re-certifies them next round.

Proof it works: seeding the baselines from the round-8 snapshot
(commit ee9aa75) surfaced 8 keys edited in round 9 that had NOT been
stamped (BM25/serving/zorder) — the exact failure mode, recurring,
caught mechanically.
"""

from __future__ import annotations

import inspect
import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(HERE, "scripts"))

from keydigest import (  # noqa: E402
    all_key_digests,
    key_digest,
    last_green_rounds,
    load_digests,
    reachable_sources,
)


@pytest.fixture(scope="module")
def live():
    return all_key_digests()


@pytest.fixture(scope="module")
def stored():
    return load_digests()


def test_every_key_has_a_stored_digest(live, stored):
    missing = sorted(set(live) - set(stored))
    assert not missing, (
        f"keys with no digest baseline (run scripts/update_digests.py): "
        f"{missing}"
    )
    dropped = sorted(set(stored) - set(live))
    assert not dropped, (
        f"digest file has unregistered keys (run scripts/update_digests.py): "
        f"{dropped}"
    )


def test_digests_are_current(live, stored):
    """An edit anywhere in a key's reachable source (or its oracle, or a
    binding constant it references) MUST go through
    scripts/update_digests.py, which re-stamps the change round and the
    re-verify queue together."""
    drifted = sorted(
        k
        for k, d in live.items()
        if k in stored and stored[k].get("digest") != d
    )
    assert not drifted, (
        "implementing source changed without re-stamping — run "
        f"scripts/update_digests.py: {drifted}"
    )


def test_changed_green_keys_are_queued_for_reverify(stored):
    """The doctrine itself: a key whose source changed AFTER its last
    driver-green round holds a green that certifies the OLD definition;
    it must sit in reverify_queue.json at (at least) the change round so
    the rotation forces it into the next driver window. Keys never
    driver-checked are exempt — the rotation's never-checked bucket
    already windows them first."""
    from __spark_entry__ import _reverify_rounds

    greens = last_green_rounds()
    queue = _reverify_rounds()
    unstamped = sorted(
        k
        for k, ent in stored.items()
        if greens.get(k)
        and ent["round"] > greens[k]
        and queue.get(k, 0) < ent["round"]
    )
    assert not unstamped, (
        f"edited-after-green keys missing a re-verify stamp: {unstamped}"
    )


def test_digest_reaches_transitive_helpers_and_constants():
    """Pins the r8 scenario mechanics: the probe key's digest must cover
    the stage helpers that round 8 actually edited (which live OUTSIDE
    the registered function body) and the bound parameter vector (a
    module constant — semantics with no function source at all)."""
    from streaming_data_ingestion_spark.registry import all_queries

    fn = inspect.unwrap(all_queries()["q_sim_ivfpq_probe_param"].fn)
    reach = reachable_sources(fn)
    quals = {q for _, q in reach}
    for helper in ("_probe_adc_stage", "ivfpq_probe", "_adc_table"):
        assert helper in quals, f"{helper} not in digest reach: {sorted(quals)}"
    const_blobs = [
        src for (_, q), src in reach.items() if q.endswith("#consts")
    ]
    assert any("_PARAM_Q" in blob for blob in const_blobs), (
        "bound query vector _PARAM_Q not covered by the digest"
    )


def test_digest_reaches_function_local_imports():
    """House style defers package imports into function bodies to break
    cycles; those helpers are locals, invisible to co_names/globals —
    the digest must reach them through the AST import pass, or a whole
    maintainer rewrite (probe_generation) would never flag the keys
    built on it."""
    from streaming_data_ingestion_spark.registry import all_queries

    fn = inspect.unwrap(all_queries()["q_ann_gen_probe"].fn)
    quals = {q for _, q in reachable_sources(fn)}
    for helper in (
        "probe_generation",   # imported inside q_ann_gen_probe
        "bootstrap_index",    # imported inside _gen_index_for
        "kmeans_fit",         # imported inside bootstrap_index
        "serve_topk",         # imported inside probe_generation
        "adc_candidates",     # named inside serve_topk
    ):
        assert helper in quals, f"{helper} not reached: {sorted(quals)}"


def _only_in_lambda():
    return 1


def _only_in_nested_def():
    return 2


def _outer_with_nested_code():
    def inner():
        return _only_in_nested_def()

    return (lambda: _only_in_lambda())() + inner()


def test_digest_follows_names_inside_nested_code():
    """A helper named only inside a lambda or a nested def lives in the
    inner code object's co_names, never the outer function's; the digest
    must still reach it. Every ``artifacts.cached(kind, sf_dir, lambda:
    helper(...))`` call site is this shape — q_graph_triangles names its
    candidate-pair helper only inside its cache build lambda."""
    from streaming_data_ingestion_spark.registry import all_queries

    quals = {
        q
        for _, q in reachable_sources(
            _outer_with_nested_code, pkg_prefix=__name__
        )
    }
    assert {"_only_in_lambda", "_only_in_nested_def"} <= quals, quals
    fn = inspect.unwrap(all_queries()["q_graph_triangles"].fn)
    assert "_lsh_candidate_pairs" in {q for _, q in reachable_sources(fn)}


def test_digest_is_sensitive_to_oracle_and_fn(live):
    """key_digest must move when the oracle SQL moves (same fn)."""
    from streaming_data_ingestion_spark.registry import all_queries

    spec = all_queries()["q_agg_group"]

    class Tweaked:
        fn = spec.fn
        oracle = (spec.oracle or "") + " -- changed"

    assert key_digest(Tweaked) != live["q_agg_group"]


def test_green_predicate_agrees_with_rotation():
    """keydigest.last_green_rounds re-implements the satisfied-row
    predicate the window rotation uses (__spark_entry__._satisfied);
    if the two ever disagree on a recorded row, the re-verify doctrine
    and the digest doctrine are enforcing different notions of 'green'.
    Replay every recorded CORRECTNESS row through both."""
    import glob
    import json
    import re

    from __spark_entry__ import _satisfied

    greens = last_green_rounds()
    replay: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(HERE, "CORRECTNESS_r*.json"))):
        rno = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        for k, row in json.load(open(path)).items():
            if isinstance(row, dict) and _satisfied(row):
                replay[k] = max(replay.get(k, 0), rno)
    assert replay == greens


def test_same_round_edit_cannot_dodge_reverify():
    """ADVICE r9: an edit landing in the SAME round as the key's latest
    driver green must be recorded at green-round + 1 — digest round ==
    green round would make the queue stamp inert (the rotation only
    bites while last-green < stamp), letting a post-drive rewrite keep
    a green that certifies the OLD definition."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"),
    )
    from update_digests import effective_change_round

    assert effective_change_round(10, 0) == 10   # never green: build round
    assert effective_change_round(10, 9) == 10   # earlier green: build round
    assert effective_change_round(10, 10) == 11  # same-round green: bumped
    # defensive: a green somehow AHEAD of the build round still bumps past it
    assert effective_change_round(10, 12) == 13


def test_current_round_falls_back_to_the_next_correctness_round(tmp_path, monkeypatch):
    """Without PROGRESS.jsonl the round in progress is one past the
    newest CORRECTNESS_r*.json (it read 0 here, so a sweep would have
    written BENCH_SWEEP_r0.json); with it, PROGRESS.jsonl wins."""
    import keydigest

    monkeypatch.setattr(keydigest, "HERE", str(tmp_path))
    assert keydigest.current_round() == 1
    for rno in (3, 11):
        (tmp_path / f"CORRECTNESS_r{rno:02d}.json").write_text("{}")
    assert keydigest.current_round() == 12
    (tmp_path / "PROGRESS.jsonl").write_text('{"round": 20}\n{"round": 19}\n')
    assert keydigest.current_round() == 20


def test_current_round_is_past_every_committed_profile(tmp_path, monkeypatch):
    """A committed docs/PROFILE_r*.json belongs to a finished round, so
    the round in progress is past it even when no CORRECTNESS file
    records that round: bench.py then never rewrites a committed profile
    or sweep. An untracked profile is the round in progress itself, so a
    second bench run in that round merges into it."""
    import subprocess

    import keydigest

    def git(*args):
        subprocess.run(
            ["git", "-c", "user.name=t", "-c", "user.email=t@t",
             "-c", "commit.gpgsign=false", *args],
            cwd=tmp_path, check=True, capture_output=True,
        )

    monkeypatch.setattr(keydigest, "HERE", str(tmp_path))
    (tmp_path / "CORRECTNESS_r13.json").write_text("{}")
    (tmp_path / "docs").mkdir()
    (tmp_path / "docs" / "PROFILE_r14.json").write_text("{}")
    git("init", "-q")
    assert keydigest.current_round() == 14  # no commit yet: nothing tracked
    git("add", "-A")
    git("commit", "-q", "-m", "round 14 profile")
    assert keydigest.current_round() == 15
    (tmp_path / "docs" / "PROFILE_r15.json").write_text("{}")  # untracked
    assert keydigest.current_round() == 15
    (tmp_path / "CORRECTNESS_r16.json").write_text("{}")
    assert keydigest.current_round() == 17
