#!/usr/bin/env python3
"""DuckDB oracle check of dumped gate outputs.

For each gate, runs its oracle SQL (`SparkEntry.oracleSql`, written by
the harness as `oracle_sql.json` next to the dumps) over the same input
tables and compares the result with the Spark output as a multiset of
rows over the same column names, the way `tools/check.py` does.

Usage: python3 oracle.py <dataDir> <dumpDir> <gate,gate,...>
Prints one JSON object: {gate: {"ok": bool, "reason": str}}.
"""
import json
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def check(data_dir, dump_dir, gates):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{os.path.join(dump_dir, '.duck')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    out = {}
    for g in gates:
        out[g] = compare(con, dump_dir, g, oracles.get(g))
    return out


def compare(con, dump_dir, gate, sql):
    if sql is None:
        return {"ok": False, "reason": "no oracle SQL"}
    files = os.path.join(dump_dir, gate, "*.parquet")
    try:
        con.execute(f"CREATE OR REPLACE TEMP VIEW s AS SELECT * FROM read_parquet('{files}')")
        con.execute(f"CREATE OR REPLACE TEMP TABLE o AS {sql}")
    except Exception as e:  # noqa: BLE001 - any engine error fails the gate
        return {"ok": False, "reason": f"error: {str(e).splitlines()[0][:200]}"}
    s_cols = [r[0] for r in con.execute("DESCRIBE s").fetchall()]
    o_cols = [r[0] for r in con.execute("DESCRIBE o").fetchall()]
    if sorted(s_cols) != sorted(o_cols):
        return {"ok": False, "reason": f"columns spark={sorted(s_cols)} oracle={sorted(o_cols)}"}
    cols = ", ".join(f'"{c}"' for c in sorted(s_cols))
    ns = con.execute("SELECT count(*) FROM s").fetchone()[0]
    no = con.execute("SELECT count(*) FROM o").fetchone()[0]
    if ns != no:
        return {"ok": False, "reason": f"rows spark={ns} oracle={no}"}
    try:
        diff = con.execute(
            f"SELECT (SELECT count(*) FROM (SELECT {cols} FROM s EXCEPT ALL SELECT {cols} FROM o)) + "
            f"(SELECT count(*) FROM (SELECT {cols} FROM o EXCEPT ALL SELECT {cols} FROM s))").fetchone()[0]
    except Exception as e:  # noqa: BLE001
        return {"ok": False, "reason": f"compare error: {str(e).splitlines()[0][:200]}"}
    if diff:
        return {"ok": False, "reason": f"{diff} rows differ of {ns}"}
    return {"ok": True, "reason": f"{ns} rows match"}


if __name__ == "__main__":
    print(json.dumps(check(sys.argv[1], sys.argv[2], sys.argv[3].split(","))))
