#!/usr/bin/env python3
"""Times every query-board and curation item once, to choose query_board.

Usage, from the root of a checkout:

    python3 perfbench/survey.py            # measure, write perfbench/survey.json
    python3 perfbench/survey.py --select   # only re-apply the rule to survey.json

Runs the harness on the `survey` item list (all 70 TPC-H, relational and
event queries plus the ten curation chains) with one verification pass
and two timed passes, the same closed loop as a benchmark run, and records
each item's median time. It then prints the query_board subset that
SELECTION picks from those times, next to the board it stands for. A
survey takes about eight minutes on four cores.
"""
import argparse
import json
import shutil
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402

SURVEY = run.HERE / "survey.json"
BOARD = ("tpch", "relational", "events")
AS_OF = ("asof_plan_node", "asof_plan_forward", "pit_feature_join")


def measure():
    cp = run.build()
    run_dir = run.OUT / "survey"
    r = run.run_harness(cp, "survey", 0, 0, 0, run_dir, run_dir / "result.json",
                        run_dir / "spans.json", time.monotonic() + 1500)
    shutil.rmtree(run_dir)
    if r["failures"]:
        sys.exit(f"items failed: {r['failures']}")
    per = {}
    for s in r["samples"]:
        if s["pass"] >= 0:
            per.setdefault(s["item"], []).append(s["s"])
    doc = {"about": "Per-item seconds (median of two timed passes after one warm-up "
                    f"pass), closed loop, one client, local[{run.cores()}], "
                    "perfbench/data/sf0.1; written by perfbench/survey.py.",
           "passes": [p["wall_s"] for p in r["passes"]],
           "items": {i: {"family": r["items"][i], "s": round(statistics.median(v), 4)}
                     for i, v in sorted(per.items())}}
    SURVEY.write_text(json.dumps(doc, indent=1) + "\n")
    return doc


def select(items, k=10):
    """SELECTION: sort the board items by time, cut them into k bins of
    equal count and take each bin's middle item, so the subset's times
    follow the board's quantiles. In a bin that holds an as-of-plan item,
    that item (the one nearest the bin's middle) is taken instead, so
    plans.asof.execute_s is measured."""
    board = sorted((v["s"], i) for i, v in items.items() if v["family"] in BOARD)
    n, picked = len(board), []
    for j in range(k):
        b = board[round(j * n / k):round((j + 1) * n / k)]
        mid = b[len(b) // 2]
        as_of = [x for x in b if x[1] in AS_OF]
        picked.append(min(as_of, key=lambda x: abs(x[0] - mid[0])) if as_of else mid)
    return board, picked


def describe(name, rows, items):
    ts = [t for t, _ in rows]
    fam = {f: sum(t for t, i in rows if items[i]["family"] == f) / sum(ts) for f in BOARD}
    q = statistics.quantiles(ts, n=4)
    print(f"{name}: {len(ts)} items, {sum(ts):.2f} s, mean {sum(ts) / len(ts):.3f} s, "
          f"quartiles {q[0]:.2f} / {q[1]:.2f} / {q[2]:.2f} s, time share "
          + ", ".join(f"{f} {fam[f]:.2f}" for f in BOARD))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--select", action="store_true", help="reuse perfbench/survey.json")
    a = ap.parse_args()
    doc = json.loads(SURVEY.read_text()) if a.select else measure()
    items = doc["items"]
    for f in sorted({v["family"] for v in items.values()}):
        ts = sorted((v["s"], i) for i, v in items.items() if v["family"] == f)
        print(f"{f}: {len(ts)} items, {sum(t for t, _ in ts):.2f} s, "
              + ", ".join(f"{i} {t:.2f}" for t, i in ts))
    board, picked = select(items)
    describe("board", board, items)
    describe("query_board", picked, items)
    print("query_board items: " + ", ".join(i for _, i in picked))


if __name__ == "__main__":
    main()
