#!/usr/bin/env python
"""Stamp newly-registered query keys into registry_ledger.json.

The driver-window rotation (__spark_entry__._rotation) prioritizes
never-driver-checked keys by HOW LONG they have been waiting, which the
CORRECTNESS artifacts alone cannot tell (a key absent from every
artifact could have been registered any round). The ledger records, for
every registry key, the round in which it first appeared:

    current round = keydigest.current_round() (PROGRESS.jsonl, else
                    1 + max round among CORRECTNESS_r*.json artifacts)

Run this after registering new queries (tests/test_rotation.py fails
if the ledger falls behind the registry). Existing stamps are never
mutated; removed keys are pruned.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from keydigest import current_round  # noqa: E402
from streaming_data_ingestion_spark.registry import all_queries  # noqa: E402

LEDGER = os.path.join(HERE, "registry_ledger.json")


def main() -> None:
    try:
        ledger = json.load(open(LEDGER))
    except (OSError, json.JSONDecodeError):
        ledger = {}
    keys = set(all_queries())
    cur = current_round()
    added = sorted(keys - set(ledger))
    removed = sorted(set(ledger) - keys)
    for k in added:
        ledger[k] = cur
    for k in removed:
        del ledger[k]
    json.dump(dict(sorted(ledger.items())), open(LEDGER, "w"), indent=0)
    print(f"round {cur}: +{len(added)} stamped, -{len(removed)} pruned, "
          f"{len(ledger)} total")
    if added:
        print("added:", ", ".join(added))


if __name__ == "__main__":
    main()
