"""Seeded fixture generator for the benchmark.

Writes the ten tables the registry reads (``tables.TABLES``: a TPC-H-ish
star schema plus ``events`` / ``documents`` / ``embeddings``) as one
parquet file each, with the schemas and value distributions documented
in FIXTURES.md: uniform keys, two-decimal prices, date-only timestamps,
a 30-word document vocabulary with one near-duplicate every 20 docs, and
unit-norm 64-d embeddings. Row counts follow TESTDATA.md's sf rule
(lineitem = 6,000,000 x sf). The same ``(seed, sf)`` always
writes the same bytes.

Also writes the ingest backlog (``write_backlog``): the events and
documents tables split into parquet files, and JSON-lines user files
with a fixed share of malformed lines.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
COLORS = ("blue", "old", "small", "new", "large", "hot", "cold", "red")
NOUNS = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")
PTYPES = ("SMALL", "MEDIUM", "PROMO", "LARGE", "ECONOMY", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "es", "de", "fr", "zh")
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

_EPOCH_DAY = dt.datetime(1970, 1, 1)


def _days(d: dt.datetime) -> int:
    return (d - _EPOCH_DAY).days


def _date_col(rng: np.random.Generator, n: int, lo: dt.datetime, hi: dt.datetime):
    days = rng.integers(_days(lo), _days(hi) + 1, n).astype("int64")
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, choices, n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)])


def _counts(sf: float) -> dict[str, int]:
    return {
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
        "users": max(10, round(15_000 * sf)),
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i % 20 == 11:
            # near-duplicate of document i - 11 (never itself a duplicate)
            # with a few words swapped: the duplicate pairs, and so the
            # clustering work, are the same for every seed
            base = texts[i - 11].split(" ")
            for j in rng.integers(0, len(base), max(1, len(base) // 10)):
                base[j] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(base) + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    lang_p = np.array([0.4, 0.15, 0.15, 0.15, 0.15])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype="int64")),
            "text": pa.array(texts),
            "lang": pa.array(np.asarray(LANGS, dtype=object)[rng.choice(5, n, p=lang_p)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
        }
    )


def _events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    span_us = 30 * 86_400_000_000
    start_us = _days(dt.datetime(2024, 1, 1)) * 86_400_000_000
    ts = np.sort(rng.choice(span_us, n, replace=False)) + start_us
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype="int64")),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n).astype("int64")),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def make_stream_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Only ``events`` and ``documents`` at scale ``sf``: the ingest backlog's
    sources."""
    rng = np.random.default_rng([seed, 1])
    c = _counts(sf)
    return {
        "events": _events(rng, c["events"], c["users"]),
        "documents": _documents(rng, c["documents"]),
    }


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten fixture tables for scale ``sf`` from ``seed``."""
    rng = np.random.default_rng(seed)
    c = _counts(sf)
    nc, ns, np_, no, nl = (c[k] for k in ("customer", "supplier", "part", "orders", "lineitem"))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc, dtype="int64")),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype("int32")),
            "c_acctbal": pa.array(_money(rng, nc, -999.99, 9999.99)),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns, dtype="int64")),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype("int32")),
            "s_acctbal": pa.array(_money(rng, ns, -999.99, 9999.99)),
        }
    )
    pk = np.arange(np_, dtype="int64")
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk),
            "p_name": pa.array(
                [
                    f"{COLORS[a]} {NOUNS[b]}"
                    for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
                ]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
            "p_type": _pick(rng, PTYPES, np_),
            "p_size": pa.array(rng.integers(1, 51, np_).astype("int32")),
            "p_retailprice": pa.array(900.0 + (pk % 1000) / 10.0),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, nc, no).astype("int64")),
            "o_orderstatus": _pick(rng, ("O", "F", "P"), no),
            "o_totalprice": pa.array(_money(rng, no, 1000.0, 500000.0)),
            "o_orderdate": _date_col(rng, no, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl).astype("int64")),
            "l_partkey": pa.array(rng.integers(0, np_, nl).astype("int64")),
            "l_suppkey": pa.array(rng.integers(0, ns, nl).astype("int64")),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype("int32")),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype("float64")),
            "l_extendedprice": pa.array(_money(rng, nl, 900.0, 105000.0)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": _pick(rng, ("N", "A", "R"), nl),
            "l_linestatus": _pick(rng, ("O", "F"), nl),
            "l_shipdate": _date_col(rng, nl, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)),
        }
    )
    t["events"] = _events(rng, c["events"], c["users"])
    t["documents"] = _documents(rng, c["documents"])
    nv = c["embeddings"]
    v = rng.standard_normal((nv, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv, dtype="int64")),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv).astype("int32")),
        }
    )
    return t


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write every fixture table to ``out_dir/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _user_line(rng: np.random.Generator, i: int) -> str:
    first = ("Ana", "Bo", "Chen", "Dara", "Eli", "Femi", "Gus", "Hana")[i % 8]
    postcode = f"{int(rng.integers(10000, 99999))}" if i % 7 else f"SW{i % 9}A {i % 10}AA"
    return json.dumps(
        {
            "full_name": f"{first} User{i}",
            "gender": ("female", "male")[i % 2],
            "address": f"{i} Main St, Town{i % 50}, State{i % 9}, Country{i % 4}",
            "postcode": postcode,
            "email": f"user{i}@example.com",
            "phone": f"555-{int(rng.integers(0, 10_000)):04d}",
        }
    )


def _malformed_line(i: int) -> str:
    # three malformed shapes: truncated JSON, no business key, not JSON
    return ('{"full_name": "Cut', '{"gender": "x", "email": "none"}', f"not json {i}")[i % 3]


# modification time of backlog file 0. The file source hands out files in
# modification-time order, so each file gets its own second and every run
# of a seed puts the same file in the same epoch.
_BACKLOG_MTIME = 1_700_000_000


def _stamp(path: str, f: int) -> None:
    os.utime(path, (_BACKLOG_MTIME + f, _BACKLOG_MTIME + f))


def write_backlog(
    out_dir: str,
    sf: float,
    seed: int,
    n_files: int,
    lines_per_file: int,
    bad_share: float = 0.02,
) -> dict[str, int]:
    """Write the events and documents tables of scale ``sf`` split into
    ``n_files`` parquet files each, and ``n_files`` JSON-lines user files.
    Returns the generated counts the ingest checks compare against."""
    rng = np.random.default_rng([seed, 2])
    counts = {"users_valid": 0, "users_malformed": 0}
    for name, table in make_stream_tables(sf, seed).items():
        d = os.path.join(out_dir, name)
        os.makedirs(d, exist_ok=True)
        bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
        for f in range(n_files):
            part = table.slice(bounds[f], bounds[f + 1] - bounds[f])
            path = os.path.join(d, f"part-{f:03d}.parquet")
            pq.write_table(part, path)
            _stamp(path, f)
        counts[name] = table.num_rows
    d = os.path.join(out_dir, "users")
    os.makedirs(d, exist_ok=True)
    i = 0
    for f in range(n_files):
        bad = rng.random(lines_per_file) < bad_share
        lines = []
        for is_bad in bad:
            lines.append(_malformed_line(i) if is_bad else _user_line(rng, i))
            i += 1
        counts["users_malformed"] += int(bad.sum())
        counts["users_valid"] += int((~bad).sum())
        path = os.path.join(d, f"part-{f:03d}.json")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        _stamp(path, f)
    return counts
