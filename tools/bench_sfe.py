#!/usr/bin/env python3
"""Embeddings-axis scale bench -> BENCH_sfe.md.

`bench_sf1.py` scales the DOCUMENTS axis 10x; this is its twin for the
EMBEDDINGS axis — the table under the ANN / clustering / quantization
family (IVF inline + persisted + appended, PQ/SQ search, JL projection,
k-center both forms, semantic dedup, kNN graph, histogram quantiles).
At sf0.1 those rows sit on Spark's scheduling floor; 10x the vectors
(2,000 -> 20,000, 64-dim) is where the plan shapes start to price.

Corpus shape: replica 0 is sf0.1 verbatim; replicas 1..9 shift vec_id
by k*10^7 and perturb dimension 0 by k*1e-4 — each base vector gains 9
NEAR-duplicates (cosine ~0.99999+), the realistic embedded-crawl shape
(exact copies would collapse semantic dedup into its equality path).
Labels are kept, so classify/balance queries stay meaningful. Both
engines read the SAME parquet, so the perturbation needs no
cross-engine arithmetic discipline.

Deliberately ABSENT: q54/q110/q120 keep their bounded-baseline roles
at |queries|*n cost and scale quadratically with BOTH axes — they are
the documented brute-force baselines, not the scale path; q154 joins
embeddings to the UNSCALED documents table (inner join would discard
every replica, timing nothing new).

Usage: python3 tools/bench_sfe.py [--skip-build] [--runs N] [--decade]

--decade appends a SECOND, Spark-only decade (200,000 vectors — 100
near-dup replicas) with per-row ×10 scale-up factors against a fresh
20k run from the same session. Spark-only because the 20k DuckDB
replay already prices the relational forms (q142's replay took 506s
and q153's DNF'd at 20k; at 200k no replay finishes). The
quadratic-pair family (q142/q153) and the brute-force recall baseline
(q111) are excluded from the decade table — their pair work is
Σ cᵢ² / |q|·n BY CONTRACT and grows ×100 per decade on a fixed-k
quantizer; the 200k evidence for the SALTED pair mechanism came from
a separate, since-retired scale probe instead (256-cell config, task-time
distribution — the production knob is centroid count, not ratio
heroics on a 16-cell toy grid).

Writes /tmp/sfe/embeddings.parquet (other tables symlinked from sf0.1),
needs /tmp/verify_out/oracle_sql.json (graft.Verify) and `sbt` on PATH,
emits BENCH_sfe.md in the repo root. Both engines are timed by
tools/timing.py: Spark by graft.Bench's protocol (min-of-N, no per-query
warm shot), on SPARK_GRAFT_CPUS or this host's core count.

RUN ON A QUIET MACHINE (see bench_sf1.py's cautionary tale).
"""
import argparse, json, os

import duckdb

from timing import CORES, REPO, TABLES, time_duckdb, time_spark

SF01 = "/root/testdata/sf0.1"
SFE = "/tmp/sfe"
SFE10 = "/tmp/sfe10"
# excluded from the 200k decade (see docstring): quadratic-pair
# contracts on the fixed toy quantizer + the brute-force baseline
DECADE_SKIP = {"q142_semantic_dedup", "q153_knn_graph", "q111_ann_recall"}
QUERIES = [
    # exact/bounded embedding ops
    "q63_dedup_embedding", "q109_mean_pool", "q111_ann_recall",
    "q121_random_proj", "q122_embed_cov", "q131_int8_quant",
    # ANN search family: inline, persisted-index, search-only,
    # incrementally-appended, PQ ADC, SQ
    "q66_ivf_topk", "q116_ivf_indexed", "q156_ivf_search_only",
    "q158_ivf_append", "q127_pq_adc", "q132_sq_search",
    "q164_ivf_pq_indexed",
    # round-10: ANN-grid-blocked near-dup pairs (q63's verify on the
    # engine's own fixed-grid cells, observable mega-cell cap — the
    # cap is what keeps its decade row sub-x100 on the replica corpus)
    "q165_near_dup_ann",
    # clustering / curation on the embedding axis
    "q142_semantic_dedup", "q146_kcenter_coreset",
    "q159_kcenter_incremental", "q149_cluster_cap", "q153_knn_graph",
    "q155_dist_quantiles",
]


def build():
    os.makedirs(SFE, exist_ok=True)
    con = duckdb.connect()
    reps = " UNION ALL ".join(
        f"""SELECT vec_id + {k} * 10000000 AS vec_id,
                   [CAST(embedding[1] + {k} * 0.0001 AS FLOAT)]
                     || embedding[2:] AS embedding,
                   label
            FROM read_parquet('{SF01}/embeddings.parquet')"""
        for k in range(1, 10))
    con.execute(f"""
        COPY (SELECT * FROM read_parquet('{SF01}/embeddings.parquet')
              UNION ALL {reps})
        TO '{SFE}/embeddings.parquet' (FORMAT PARQUET)""")
    n, = con.execute(
        f"SELECT count(*) FROM read_parquet('{SFE}/embeddings.parquet')").fetchone()
    for t in TABLES:
        if t == "embeddings":
            continue
        dst = f"{SFE}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{SF01}/{t}.parquet", dst)
    print(f"[build] {SFE}/embeddings.parquet: {n} vectors")


def build_decade():
    os.makedirs(SFE10, exist_ok=True)
    con = duckdb.connect()
    # 100 near-dup replicas in 10 batched COPY-free unions (DuckDB holds
    # the plan fine; one statement keeps the parquet single-file like SFE)
    reps = " UNION ALL ".join(
        f"""SELECT vec_id + {k} * 10000000 AS vec_id,
                   [CAST(embedding[1] + {k} * 0.0001 AS FLOAT)]
                     || embedding[2:] AS embedding,
                   label
            FROM read_parquet('{SF01}/embeddings.parquet')"""
        for k in range(1, 100))
    con.execute(f"""
        COPY (SELECT * FROM read_parquet('{SF01}/embeddings.parquet')
              UNION ALL {reps})
        TO '{SFE10}/embeddings.parquet' (FORMAT PARQUET)""")
    n, = con.execute(
        f"SELECT count(*) FROM read_parquet('{SFE10}/embeddings.parquet')").fetchone()
    for t in TABLES:
        if t == "embeddings":
            continue
        dst = f"{SFE10}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{SF01}/{t}.parquet", dst)
    print(f"[build] {SFE10}/embeddings.parquet: {n} vectors")


def run_decade(runs):
    """Spark-only 200k decade: fresh 20k + 200k runs in one session,
    appended to BENCH_sfe.md as its own section."""
    build_decade()
    qs = [q for q in QUERIES if q not in DECADE_SKIP]
    print("[decade] 20k reference run")
    s20, sp20 = time_spark(SFE, runs, qs)
    print("[decade] 200k run")
    s200, sp200 = time_spark(SFE10, runs, qs)
    lines = [
        "", "## 200k-vector decade (Spark-only)", "",
        "Another ×10 on the vector axis (200,000 × 64-dim, 100 near-dup",
        "replicas), both runs measured back-to-back in this session",
        f"(min-of-{runs}, {CORES} threads). No DuckDB column: the 20k replay already DNF'd /",
        "took 506s on the pair family; q142/q153/q111 excluded here for the",
        "same Σ cᵢ² / |q|·n contract reason (see module docstring — the",
        "200k salted-pair evidence came from a separate 256-cell probe).",
        "A scale-up ≤ 10× on a ×10 corpus means the row's plan is at worst",
        "linear in the data at this decade — EXCEPT the ×100-work rows",
        "called out under the table, whose bar is 100×.",
        "",
        "| query | spark 20k (s) | spark 200k (s) | scale-up ×10 | spread 20k/200k |",
        "|---|---|---|---|---|",
    ]
    footnote = [
        "",
        "×100-work rows (the ×10 bar does not apply): q63's label-blocked",
        "pair scan is (n/10)·(n/|labels|) pairs and q127/q132's flat ADC",
        "scans are |q|·n with |q| = n/97 — ×100 the work per decade BY",
        "CONTRACT (they are the documented bounded baselines; the IVF /",
        "winnow paths are the scale story), so a scale-up ≪ 100× on them",
        "means per-pair throughput held or improved. The IVF family",
        "(q62/q66/q116 assign+build, q156/q158/q164 probe) is n·k / |q|·k",
        "dot work with k = n/50 in this fixture — also ×100 flops/decade;",
        "their rows price the compiled centroid_topk matrix pass plus the",
        "one-file-per-cell index scan.",
    ]
    for q in qs:
        su = s200[q] / s20[q] if s20[q] > 0 else float("nan")
        lines.append(f"| {q} | {s20[q]:.2f} | {s200[q]:.2f} | {su:.1f}× "
                     f"| {sp20[q]:.2f}×/{sp200[q]:.2f}× |")
    t20, t200 = sum(s20.values()), sum(s200.values())
    lines += footnote
    lines += ["", f"**Totals: 20k {t20:.1f}s → 200k {t200:.1f}s, "
              f"aggregate scale-up {t200 / t20:.1f}× for ×10 data.**", ""]
    md = os.path.join(REPO, "BENCH_sfe.md")
    prev = open(md).read() if os.path.exists(md) else ""
    # replace any previous decade section in place
    marker = "## 200k-vector decade"
    if marker in prev:
        head = prev[:prev.index(marker)].rstrip() + "\n"
        rest = prev[prev.index(marker):]
        nxt = rest.find("\n## ", 1)
        tail = rest[nxt + 1:] if nxt != -1 else ""
        prev = head + tail
    with open(md, "w") as f:
        f.write(prev.rstrip() + "\n" + "\n".join(lines) + "\n")
    print(f"[decade] appended to BENCH_sfe.md (aggregate {t200 / t20:.1f}x)")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--skip-build", action="store_true")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--decade", action="store_true",
                    help="Spark-only 200k-vector decade section")
    args = ap.parse_args()
    if not args.skip_build:
        build()
    if args.decade:
        run_decade(args.runs)
        return
    sp, sps = time_spark(SFE, args.runs, QUERIES)
    dk, dks, dnote = time_duckdb(SFE, args.runs, QUERIES)
    b01 = json.load(open(os.path.join(REPO, "bench.json")))["queries"]
    lines = [
        "# BENCH_sfe — 10× embeddings (20,000 × 64-dim), Spark vs DuckDB",
        "",
        "Built by `tools/bench_sfe.py` (near-duplicate vector replication;",
        f"see its docstring). min-of-{args.runs} per engine, {CORES} threads both, same",
        "parquet. Spread = max/min across shots; >1.5× means that row was",
        "measured under contention and shouldn't be trusted.",
        "",
        "| query | spark sfe (s) | duckdb sfe (s) | ratio sfe | spark sf0.1 (s) | scale-up ×10 | spread sp/dk |",
        "|---|---|---|---|---|---|---|",
    ]
    worsening = []
    for q in QUERIES:
        if dk[q] != dk[q]:  # NaN -> oracle replay DNF'd
            lines.append(f"| {q} | {sp[q]:.2f} | DNF ({dnote[q]}) | — "
                         f"| {b01.get(q, float('nan')):.2f} | "
                         f"{sp[q] / b01[q] if b01.get(q, 0) > 0 else float('nan'):.1f}× "
                         f"| {sps[q]:.2f}×/— |")
            continue
        r = sp[q] / dk[q] if dk[q] > 0 else float("inf")
        g = sp[q] / b01[q] if b01.get(q, 0) > 0 else float("nan")
        worsening.append((r, q))
        lines.append(f"| {q} | {sp[q]:.2f} | {dk[q]:.2f} | {r:.2f}× "
                     f"| {b01.get(q, float('nan')):.2f} | {g:.1f}× "
                     f"| {sps[q]:.2f}×/{dks[q]:.2f}× |")
    ok = [q for q in QUERIES if dk[q] == dk[q]]
    tot_s, tot_d = sum(sp[q] for q in ok), sum(dk[q] for q in ok)
    lines += ["",
              f"**Totals: Spark {tot_s:.1f}s, DuckDB {tot_d:.1f}s, "
              f"ratio {tot_s / tot_d:.2f}×.**", ""]
    md = os.path.join(REPO, "BENCH_sfe.md")
    tail = ""
    if os.path.exists(md):
        prev = open(md).read()
        if "## Analysis" in prev:
            tail = "\n" + prev[prev.index("## Analysis"):]
    with open(md, "w") as f:
        f.write("\n".join(lines) + tail + "\n")
    print(f"\nwrote BENCH_sfe.md (ratio {tot_s/tot_d:.2f}x); worst ratios: "
          + ", ".join(f"{q}={r:.2f}x" for r, q in sorted(worsening)[-3:]))


if __name__ == "__main__":
    main()
