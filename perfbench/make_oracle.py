#!/usr/bin/env python3
"""Regenerate perfbench/oracle.json: the DuckDB-oracle fingerprint of
every query_mix query over the fixed query_mix tables.

    python3 perfbench/make_oracle.py

Builds graft, dumps `SparkEntry.oracleSql` for the mix's queries, runs
each statement in DuckDB over the same generated parquet tables, and
fingerprints the answer with fingerprint.py (the oracle gate's exact
canonicalization). Graft's own output is never consulted. Rerun after changing gen.py or the query list.
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import build  # noqa: E402
import fingerprint  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    classes, _ = build.build()
    tables = run.table_dir()
    work = os.path.join(run.WORK, "oracle")
    os.makedirs(work, exist_ok=True)
    sql_file = os.path.join(work, "oracle_sql.json")
    run.launch(run.java_cmd(classes, "graftbench.OracleSql",
                            [sql_file, ",".join(run.QUERIES)], work), work, 120)
    with open(sql_file) as f:
        oracle_sql = json.load(f)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    out = {}
    for name in run.QUERIES:
        out[name] = fingerprint.of(con.sql(oracle_sql[name]).df())
        print(f"{name}: {out[name]['rows']} rows", file=sys.stderr)
    with open(os.path.join(HERE, "oracle.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
