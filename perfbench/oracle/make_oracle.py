#!/usr/bin/env python3
"""Recompute the stored DuckDB oracle hashes of the analytics set.

Run from the repository root after building once (any run.py call):

    python3 perfbench/oracle/make_oracle.py

Asks the program for each query's oracle SQL, runs it in DuckDB over
the bundled tables, and writes the column names, row count and
canonical hash (the check_oracle canonicalisation) to analytics.json."""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def main():
    import duckdb
    root = os.getcwd()
    jars = run.spark_jars()
    classes = run.build(root, jars)
    work = os.path.join(root, run.BUILD, "oracle")
    os.makedirs(work, exist_ok=True)
    sql_file = os.path.join(work, "oracle_sql.json")
    subprocess.run([run.java(), "-cp", classes + os.pathsep + os.path.join(jars, "*"),
                    "graft.perfbench.Main", "--workload", "oracle-sql", "--work", work,
                    "--out", sql_file], check=True)
    with open(sql_file) as fh:
        sqls = json.load(fh)
    data = os.path.join(root, run.DATA_DIR)
    out = {}
    for q, sql in sorted(sqls.items()):
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        r = con.execute(sql)
        cols = [d[0] for d in r.description]
        rows = r.fetchall()
        out[q] = {"columns": cols, "rows": len(rows), "sha256": run.table_hash(cols, rows),
                  "sql": sql}
        print(f"{q}: {len(rows)} rows")
    with open(os.path.join(HERE, "analytics.json"), "w") as fh:
        json.dump({"data": run.DATA_DIR, "queries": out}, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
