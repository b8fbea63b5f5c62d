#!/usr/bin/env python3
"""Documents-axis THIRD decade (500,000 docs) -> BENCH_sf2.md.

bench_sf1.py's replication shape, x10 again: replica 0 is the sf1
corpus (50,000 docs = sf0.1 x10 near-dup replicas) verbatim; replicas
1..9 shift doc_id by k*10^9 and append a second per-replica marker
token. Every sf0.1 base doc therefore has ~100 near-duplicate clones,
so PAIR DENSITY rises ~10x along with the x10 row count - exactly the
axis the suite's top wall rows (winnow/dedup/components/calibration,
all text-axis) were never measured on. The embeddings axis has three
decades of evidence (BENCH_sfe.md); this is the text
axis's third decade.

Both engines are timed by tools/timing.py: Spark by graft.Bench's
protocol (min-of-N, no per-query warm shot), DuckDB in a subprocess per
shot with a hard timeout and a spill cap. At this scale several
replays are expected to DNF - that is a finding, recorded per row,
not a crash.

Usage: python3 tools/bench_sf2.py [--skip-build] [--runs N]
Builds both corpus layers here; needs /tmp/verify_out/oracle_sql.json
(graft.Verify) and `sbt` on PATH. Runs on SPARK_GRAFT_CPUS or this
host's core count, with the Spark heap from SPARK_DRIVER_MEM.
RUN ON A QUIET MACHINE (see bench_sf1.py's warning).
"""
import argparse, os, re

import duckdb

import calibration
from timing import (CORES, DUCK_TIMEOUT_S, REPO, SPILL_CAP, TABLES, respread,
                    time_duckdb, time_spark)

SF01 = "/root/testdata/sf0.1"
SF2 = "/tmp/sf2"

# the winnow/dedup/components/calibration family - the suite's top
# sf0.1 wall rows, all text-axis - plus the span/banding rows that
# ride the same pair density and the incremental paths that must stay
# flat when the seen corpus is 100x the increment
QUERIES = ["q52_lsh_candidates", "q65_dedup_clusters",
           "q72_verify_candidates", "q85_simhash_neardup",
           "q87_repeated_spans", "q88_dup_span_frac",
           "q94_minhash_calibration", "q102_star_components",
           "q103_incremental_dedup", "q133_winnowing",
           "q136_winnow_candidates", "q137_dedup_corpus_winnow",
           "q151_dedup_savings", "q152_incremental_winnow",
           "q160_incremental_winnow_indexed", "q163_winnow_index_merged",
           "q166_phash_banding"]


def build():
    os.makedirs(SF2, exist_ok=True)
    con = duckdb.connect()
    # layer 1 (sf1): 10 near-dup replicas of sf0.1 (bench_sf1's shape)
    sf1 = " UNION ALL ".join(
        ["SELECT * FROM read_parquet('%s/documents.parquet')" % SF01] +
        [f"""SELECT doc_id + {k} * 10000000 AS doc_id,
                    text || ' r{k}' AS text, lang, source,
                    n_chars + {len(f' r{k}')} AS n_chars
             FROM read_parquet('{SF01}/documents.parquet')"""
         for k in range(1, 10)])
    # layer 2 (sf2): 10 near-dup replicas of sf1
    reps = " UNION ALL ".join(
        ["SELECT * FROM sf1"] +
        [f"""SELECT doc_id + {k * 1000000000} AS doc_id,
                    text || ' s{k}' AS text, lang, source,
                    n_chars + {len(f' s{k}')} AS n_chars
             FROM sf1""" for k in range(1, 10)])
    con.execute(f"CREATE VIEW sf1 AS ({sf1})")
    con.execute(f"COPY ({reps}) TO '{SF2}/documents.parquet' (FORMAT PARQUET)")
    n, = con.execute(
        f"SELECT count(*) FROM read_parquet('{SF2}/documents.parquet')").fetchone()
    for t in TABLES:
        if t == "documents":
            continue
        dst = f"{SF2}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{SF01}/{t}.parquet", dst)
    print(f"[build] {SF2}/documents.parquet: {n} docs")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--skip-build", action="store_true")
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()
    if not args.skip_build:
        build()
    # graft.Bench's calibration discipline (round-13 gap, closed):
    # bracket each engine leg with a fixed pure-CPU probe so a
    # contaminated leg is flagged at measurement time
    cal = [calibration.probe()]
    sp, sps = time_spark(SF2, args.runs, QUERIES)
    respread("spark", lambda qs: time_spark(SF2, args.runs, qs), sp, sps)
    cal.append(calibration.probe())
    dk, dks, dnote = time_duckdb(SF2, args.runs, QUERIES)
    respread("duckdb", lambda qs: time_duckdb(SF2, args.runs, qs), dk, dks)
    cal.append(calibration.probe())
    legs = calibration.report(cal, ["spark", "duckdb"])
    # sf1 comparison column from the committed BENCH_sf1.md table
    sf1 = {}
    sf1_md = os.path.join(REPO, "BENCH_sf1.md")
    if os.path.exists(sf1_md):
        for m in re.finditer(r"\| (q\S+) \| ([0-9.]+) \|", open(sf1_md).read()):
            sf1[m.group(1)] = float(m.group(2))
    lines = [
        "# BENCH_sf2 — 100× documents (500,000 docs), Spark vs DuckDB",
        "",
        "Built by `tools/bench_sf2.py`: the sf1 corpus (50k docs, 10 near-dup",
        "replicas of sf0.1) replicated ×10 again with a second marker token —",
        "~100 near-dup clones per base doc, so pair density scales with the",
        f"row count. min-of-{args.runs} per engine, {CORES} threads both, same parquet;",
        f"DuckDB shots subprocess-isolated (timeout {DUCK_TIMEOUT_S}s, {SPILL_CAP} spill cap).",
        "",
        calibration.md_line(cal, legs),
        "",
        "| query | spark sf2 (s) | duckdb sf2 (s) | ratio sf2 | spark sf1 (s) | scale-up ×10 | spread sp/dk |",
        "|---|---|---|---|---|---|---|",
    ]
    for q in QUERIES:
        g = sp[q] / sf1[q] if sf1.get(q, 0) > 0 else float("nan")
        if dk[q] != dk[q]:
            lines.append(f"| {q} | {sp[q]:.2f} | DNF ({dnote[q]}) | — "
                         f"| {sf1.get(q, float('nan')):.2f} | {g:.1f}× "
                         f"| {sps[q]:.2f}×/— |")
        else:
            r = sp[q] / dk[q] if dk[q] > 0 else float("inf")
            lines.append(f"| {q} | {sp[q]:.2f} | {dk[q]:.2f} | {r:.2f}× "
                         f"| {sf1.get(q, float('nan')):.2f} | {g:.1f}× "
                         f"| {sps[q]:.2f}×/{dks[q]:.2f}× |")
    ok = [q for q in QUERIES if dk[q] == dk[q]]
    tot_s = sum(sp[q] for q in QUERIES)
    tot_d = sum(dk[q] for q in ok)
    lines += ["",
              f"**Spark total (all {len(QUERIES)} rows): {tot_s:.1f}s. DuckDB "
              f"total over its {len(ok)} surviving rows: {tot_d:.1f}s "
              f"(Spark on the same {len(ok)}: "
              f"{sum(sp[q] for q in ok):.1f}s).**", ""]
    md = os.path.join(REPO, "BENCH_sf2.md")
    tail = ""
    if os.path.exists(md):
        prev = open(md).read()
        if "## Analysis" in prev:
            tail = "\n" + prev[prev.index("## Analysis"):]
    with open(md, "w") as f:
        f.write("\n".join(lines) + tail + "\n")
    print(f"\nwrote BENCH_sf2.md; spark total {tot_s:.1f}s")


if __name__ == "__main__":
    main()
