#!/usr/bin/env python3
"""Writes perfbench/expected.json, the digests run.py checks outputs against.

Usage, from the root of a checkout: python3 perfbench/make_expected.py

Each item's expected digest comes, in order of preference, from
  - "oracle":   the engine's own DuckDB oracle SQL (SparkEntry.oracleSql),
  - "flow_sql": the SQL equivalent of a Pipeline flow, kept below,
  - "recorded": the engine's output at the commit this was run on, for
                items with no SQL equivalent.
Oracle and flow digests are computed in DuckDB over perfbench/data, not
taken from the engine; a disagreement is printed and the SQL digest kept.
"""
import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402

_F2 = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority, c_name, c_nationkey "
       "FROM orders JOIN customer ON o_custkey = c_custkey "
       "WHERE o_orderpriority = '1-URGENT'")
_F5 = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice{} FROM orders "
       "WHERE o_totalprice > 300000.0")
FLOW_SQL = {
    "flow_join_qualify": {
        "f1": "SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
              "l_extendedprice AS price, l_discount, o_custkey, o_orderstatus, "
              "o_totalprice, COALESCE(c_name, 'anonymous') AS c_name, "
              "COALESCE(c_mktsegment, 'UNKNOWN') AS segment, 'f1' AS flow "
              "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
              "LEFT JOIN customer ON o_custkey = c_custkey "
              "WHERE l_quantity >= 45.0 AND l_discount <= 0.05"},
    "flow_fanout": {
        "f2_csv": _F2 + " AND o_orderstatus = 'F'",
        "f2_jsonl": _F2 + " AND o_orderstatus = 'O'",
        "f2_parquet": _F2},
    "flow_ordered_concat": {
        "f3": "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice "
              "FROM lineitem WHERE l_linenumber BETWEEN 1 AND 4 AND l_quantity <= 5.0"},
    "flow_paginate": {
        "f4": "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority "
              "FROM orders ORDER BY o_orderkey LIMIT 80000"},
    "flow_durable_break": {
        "f5_all": _F5.format(", o_orderpriority"),
        "f5_p": _F5.format(", o_orderpriority") + " AND o_orderstatus = 'P'",
        "f5_tail": _F5.format("")},
}


def main():
    cp = run.build()
    oracles = json.loads(subprocess.run(
        ["java", "-cp", cp, "perfbench.Oracles"], check=True,
        stdout=subprocess.PIPE, text=True).stdout.strip().splitlines()[-1])
    con = duckdb.connect()
    for t in sorted({t for ts in run.TABLES.values() for t in ts}):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{run.DATA / t}.parquet'")

    out = {}
    for workload in sorted(run.TABLES):
        run_dir = run.OUT / f"record-{workload}"
        r = run.run_harness(cp, workload, 0, 0, 0, run_dir, run_dir / "result.json",
                            run_dir / "spans.json", time.monotonic() + run.RUN_TIMEOUT_S)
        if r["failures"]:
            sys.exit(f"{workload}: items failed: {r['failures']}")
        got_all = {item: {d.name: run.digest(con, run.parquet(d))
                          for d in sorted((run_dir / "verify" / item).iterdir())}
                   for item in r["items"]}
        shutil.rmtree(run_dir)
        for item, got in got_all.items():
            if item in oracles:
                source, sql = "oracle", {"result": oracles[item]}
            elif item in FLOW_SQL:
                source, sql = "flow_sql", FLOW_SQL[item]
            else:
                source, sql = "recorded", {}
            want = {o: run.digest(con, q) for o, q in sql.items()} if sql else got
            for o in sorted(set(want) | set(got)):
                if want.get(o) != got.get(o):
                    print(f"MISMATCH {item}/{o}: engine {got.get(o)} vs {source} {want.get(o)}")
            out[item] = {"workload": workload, "source": source, "outputs": want}
            if source == "flow_sql":
                out[item]["sql"] = sql
        print(f"{workload}: {len(r['items'])} items recorded")
    doc = {"about": f"Order-insensitive output digests (run.py digest, DuckDB "
                    f"{duckdb.__version__}); source oracle|flow_sql is DuckDB over "
                    "perfbench/data, recorded is the engine's own output when recorded.",
           "items": out}
    (run.HERE / "expected.json").write_text(json.dumps(doc, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
