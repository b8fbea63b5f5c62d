#!/usr/bin/env python3
"""Time the full dumped oracle suite in DuckDB — the denominator of the
README's suite ratio, reproducible.

Usage: python3 tools/duck_suite.py [sfDir] [oracle_sql.json] [--runs N]
Defaults: /root/testdata/sf0.1, /tmp/verify_out/oracle_sql.json, 2.

Per query: min-of-N with tools/timing.py's DuckDB timer (a subprocess
per shot, fresh connection, SPARK_GRAFT_CPUS or this host's core count
as threads, spill cap and timeout). Prints per-query timings and the
total; failures are DNF rows (never silently dropped).
RUN ON A QUIET MACHINE.
"""
import json, sys

from timing import time_duckdb


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf = args[0] if len(args) > 0 else "/root/testdata/sf0.1"
    path = args[1] if len(args) > 1 else "/tmp/verify_out/oracle_sql.json"
    runs = 2
    for a in sys.argv[1:]:
        if a.startswith("--runs"):
            runs = int(a.split("=")[1]) if "=" in a else 2
    sqls = json.load(open(path))
    out, _, _ = time_duckdb(sf, runs, sorted(sqls), sqls)
    dnf = [q for q in out if out[q] != out[q]]
    total = sum(v for v in out.values() if v == v)
    print(f"\nTOTAL {total:.1f}s over {len(sqls) - len(dnf)} queries"
          + (f" ({len(dnf)} DNF: {dnf})" if dnf else ""))


if __name__ == "__main__":
    main()
