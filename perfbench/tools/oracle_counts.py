#!/usr/bin/env python3
"""Record each query's expected row count with DuckDB, never with Spark.

    python3 perfbench/tools/oracle_counts.py <table dir> <oracle_sql.json> <out.json>

<oracle_sql.json> maps query name -> the oracle SQL of SparkEntry.oracleSql;
write it with the harness: java -cp "$(cat .bench_build/classpath.txt)"
perfbench.OracleCounts <oracle_sql.json>. Each table of <table dir> is a
view over its parquet file. The output maps query name -> row count.
"""
import json
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main():
    table_dir, sql_json, out = sys.argv[1:4]
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(table_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(sql_json) as f:
        oracle = json.load(f)
    counts = {}
    for name in sorted(oracle):
        sql = oracle[name].strip().rstrip(";")
        counts[name] = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
    with open(out, "w") as f:
        json.dump(counts, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(counts)} queries counted", file=sys.stderr)


if __name__ == "__main__":
    main()
