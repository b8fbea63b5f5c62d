#!/usr/bin/env python3
"""Documents-axis FOURTH decade (5,000,000 docs) -> BENCH_sf3.md.

bench_sf2.py's replication shape, x10 again: layer 3 appends a third
per-replica marker token, so every sf0.1 base doc has ~1000 near-dup
clones. ONLY the cap/candidate-bounded chains run here (q137/q152/
q160/q163 - the winnow family whose pair work is df-capped by
construction - plus the composed crawl intake q170): the exhaustive
rows (q65/q102/q94 and friends) are corpus-quadratic BY CONTRACT and
already DNF their DuckDB replays at sf2 - they are SKIPPED LOUDLY
here (no-silent-caps: the skip list prints and lands in the .md).

No DuckDB column at this decade: the oracle replays of even the
capped chains DNF'd at sf2 (10/17), and at 10x the rows a timeout
column carries no information - correctness is pinned at sf0.01 by
the driver gate, sf1/sf2 carry the engine-vs-engine evidence. This
artifact answers ONE question: does each capped chain's wall scale
<= its work contract when rows x10 AND pair density x10?

Usage: python3 tools/bench_sf3.py [--runs N] [--skip-build]
Builds /tmp/sf2 (bench_sf2's corpus) too when it is missing; needs `sbt`
on PATH. Spark is timed by tools/timing.py with graft.Bench's protocol
(min-of-N, no per-query warm shot), on SPARK_GRAFT_CPUS or this host's
core count, with the heap from SPARK_DRIVER_MEM.
RUN ON A QUIET MACHINE (see bench_sf1.py's warning).
"""
import argparse, os, sys

import duckdb

import calibration
from timing import CORES, REPO, TABLES, respread, time_spark

SF01 = "/root/testdata/sf0.1"
SF2 = "/tmp/sf2"
SF3 = "/tmp/sf3"

# the capped family: winnow chains bounded by the fingerprint df cap +
# the composed intake (increment-bounded stages + snapshot discipline)
QUERIES = ["q137_dedup_corpus_winnow", "q152_incremental_winnow",
           "q160_incremental_winnow_indexed", "q163_winnow_index_merged",
           "q170_crawl_intake"]
# skipped loudly: corpus-quadratic-by-contract rows (their sf2 DuckDB
# replays already DNF; their Spark walls are pair-density-quadratic -
# the boundary is the finding, not a row to grind)
SKIPPED = ["q52_lsh_candidates", "q65_dedup_clusters",
           "q72_verify_candidates", "q85_simhash_neardup",
           "q87_repeated_spans", "q88_dup_span_frac",
           "q94_minhash_calibration", "q102_star_components",
           "q133_winnowing", "q136_winnow_candidates",
           "q151_dedup_savings", "q166_phash_banding"]


def build():
    if not os.path.exists(f"{SF2}/documents.parquet"):
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        import bench_sf2
        bench_sf2.build()
    os.makedirs(SF3, exist_ok=True)
    if not os.path.exists(f"{SF3}/documents.parquet"):
        con = duckdb.connect()
        reps = " UNION ALL ".join(
            [f"SELECT * FROM read_parquet('{SF2}/documents.parquet')"] +
            [f"""SELECT doc_id + {k * 100000000000} AS doc_id,
                        text || ' t{k}' AS text, lang, source,
                        n_chars + {len(f' t{k}')} AS n_chars
                 FROM read_parquet('{SF2}/documents.parquet')"""
             for k in range(1, 10)])
        con.execute(f"COPY ({reps}) TO '{SF3}/documents.parquet' "
                    f"(FORMAT PARQUET)")
    n, = duckdb.connect().execute(
        f"SELECT count(*) FROM read_parquet('{SF3}/documents.parquet')").fetchone()
    for t in TABLES:
        if t == "documents":
            continue
        dst = f"{SF3}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{SF01}/{t}.parquet", dst)
    print(f"[build] {SF3}/documents.parquet: {n} docs")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--skip-build", action="store_true")
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()
    if not args.skip_build:
        build()
    print(f"[skip] corpus-quadratic-by-contract rows NOT run at 5M docs "
          f"(no-silent-caps): {', '.join(SKIPPED)}")
    # graft.Bench's calibration discipline (the round-13 postmortem's
    # own prescription — this harness's primary sf2 leg shipped
    # contaminated once): bracket each leg with a fixed pure-CPU probe
    cal = [calibration.probe()]
    s2, s2s = time_spark(SF2, args.runs, QUERIES)
    respread("spark-sf2", lambda qs: time_spark(SF2, args.runs, qs), s2, s2s)
    cal.append(calibration.probe())
    s3, s3s = time_spark(SF3, args.runs, QUERIES)
    respread("spark-sf3", lambda qs: time_spark(SF3, args.runs, qs), s3, s3s)
    cal.append(calibration.probe())
    legs = calibration.report(cal, ["spark-sf2", "spark-sf3"])
    lines = [
        "# BENCH_sf3 — 1000× documents (5,000,000 docs), capped family only",
        "",
        "Built by `tools/bench_sf3.py`: the sf2 corpus replicated ×10 with a",
        "third marker token (~1000 near-dup clones per sf0.1 base doc). Both",
        f"columns measured back-to-back in this run (min-of-{args.runs}, {CORES} threads),",
        "so the ×10 factor is same-session. No DuckDB column: the oracle",
        "replays of this family already DNF at sf2; correctness is pinned at",
        "the sf0.01 driver gate.",
        "",
        calibration.md_line(cal, legs),
        "",
        "Skipped loudly (corpus-quadratic by contract, not measured at this",
        "decade): " + ", ".join(SKIPPED) + ".",
        "",
        "| query | spark sf2 (s) | spark sf3 (s) | scale-up ×10 | spread sf2/sf3 |",
        "|---|---|---|---|---|",
    ]
    for q in QUERIES:
        g = s3[q] / s2[q] if s2.get(q, 0) > 0 else float("nan")
        lines.append(f"| {q} | {s2[q]:.2f} | {s3[q]:.2f} | {g:.1f}× "
                     f"| {s2s[q]:.2f}×/{s3s[q]:.2f}× |")
    lines += ["",
              f"**Spark sf3 total over the {len(QUERIES)}-row capped family: "
              f"{sum(s3[q] for q in QUERIES):.1f}s "
              f"(sf2: {sum(s2[q] for q in QUERIES):.1f}s).**", ""]
    md = os.path.join(REPO, "BENCH_sf3.md")
    tail = ""
    if os.path.exists(md):
        # the recorded sections carry over: the round-14 pair-volume
        # census table and the analyses
        prev = open(md).read()
        for marker in ("## Pair-volume census", "## Analysis"):
            if marker in prev:
                tail = "\n" + prev[prev.index(marker):]
                break
    with open(md, "w") as f:
        f.write("\n".join(lines) + tail + "\n")
    print(f"\nwrote BENCH_sf3.md; sf3 total "
          f"{sum(s3[q] for q in QUERIES):.1f}s")


if __name__ == "__main__":
    main()
