"""The one Spark timer, DuckDB timer and respread loop of the scale
harnesses (bench_sf1/2/3/sfe.py, duck_suite.py).

Spark rows come from graft.Bench itself: `time_spark` runs it with
SPARK_GRAFT_ONLY set to the harness's queries and an output path in a
temp dir (the repo's bench.json is never overwritten), then reads the
"queries" and "spreads" maps of that file. The harnesses therefore
inherit Bench's protocol: noop sink, cache isolation, min-of-N with no
per-query warm shot, Bench's calibration probes and its own respread
guard. A query Bench reports as -1 failed; it is never a timing.

DuckDB rows: every shot runs in its own subprocess with a fresh
connection (no buffer-cache carryover, Bench's cache isolation), a
DUCK_TIMEOUT_S timeout and a SPILL_CAP temp-directory cap. A failure on
ANY shot marks the row DNF (NaN) with a one-line note: a replay that
survives shot 1 but dies on shot 2 must not report min(partial shots).

Both engines run on CORES threads: SPARK_GRAFT_CPUS when set, else
this host's core count. The Spark driver heap comes from the
environment (SPARK_DRIVER_MEM, read by build.sbt).
"""
import json
import math
import multiprocessing
import os
import subprocess
import sys
import tempfile
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
ORACLE = "/tmp/verify_out/oracle_sql.json"
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
DUCK_TIMEOUT_S = 600
# fail fast instead of filling the disk: an uncapped q104 replay at sf1
# hit "No space left on device" after >78 GB of temp spill
SPILL_CAP = "20GB"
SPARK_TIMEOUT_S = 14400
# a row whose max/min shot ratio exceeds this shipped CONTAMINATED in
# round 11 (q166 at sf2, spread 2.70x - a background blip landed inside
# one shot): rows over the bar are re-measured so adjudication notes
# stay about floors, never about measurement noise
SPREAD_BAR = 1.5
MAX_REMEASURE = 2


def read_bench(path):
    """(out, spread) from a graft.Bench output file: seconds and max/min
    spread per query, NaN for a failed (-1) row and for a row with no
    spread (fewer than two good shots)."""
    with open(path) as f:
        b = json.load(f)
    out = {q: (v if v >= 0 else math.nan) for q, v in b["queries"].items()}
    spread = {q: (b["spreads"].get(q, math.nan) if out[q] == out[q]
                  else math.nan) for q in out}
    return out, spread


def time_spark(sf_dir, runs, queries):
    """Bench's min-of-`runs` over `queries` at `sf_dir`: (out, spread).
    Raises SystemExit naming every query Bench failed or did not time."""
    with tempfile.TemporaryDirectory(prefix="graft-bench-") as tmp:
        path = os.path.join(tmp, "bench.json")
        env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir,
                   SPARK_GRAFT_CPUS=str(CORES),
                   SPARK_GRAFT_BENCH_RUNS=str(runs),
                   SPARK_GRAFT_ONLY=",".join(queries))
        p = subprocess.run(["sbt", "-batch", f"runMain graft.Bench {path}"],
                           cwd=REPO, env=env, capture_output=True, text=True,
                           timeout=SPARK_TIMEOUT_S)
        if not os.path.exists(path):
            sys.stderr.write(p.stdout[-3000:] + p.stderr[-2000:])
            raise SystemExit(f"graft.Bench wrote no result (exit {p.returncode})")
        out, spread = read_bench(path)
    for q in queries:
        if q in out and out[q] == out[q]:
            print(f"[spark]  {q:34s} {out[q]:.2f}s (spread {spread[q]:.2f}x)")
    bad = [q for q in queries if not (q in out and out[q] == out[q])]
    if bad:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"spark timings failed or missing for {bad}")
    return out, spread


def _duck_shot(sf_dir, sql, conn):
    try:
        con = duckdb.connect()
        con.execute(f"SET threads TO {CORES}")
        con.execute(f"SET max_temp_directory_size='{SPILL_CAP}'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        t0 = time.time()
        con.execute(sql).fetchall()
        conn.send(("t", time.time() - t0))
    except Exception as e:
        # first line only: multi-line DuckDB messages would break the
        # generated markdown table row
        conn.send(("err", f"{type(e).__name__}: {e}".splitlines()[0][:120]))


def time_duckdb(sf_dir, runs, queries, sqls=None):
    """DuckDB min-of-`runs` over `queries` (SQL from `sqls`, default the
    dumped oracle): (out, spread, note), NaN and a note for DNF rows."""
    if sqls is None:
        with open(ORACLE) as f:
            sqls = json.load(f)
    out, spread, note = {}, {}, {}
    for q in queries:
        shots, failed = [], None
        for _ in range(runs):
            recv, send = multiprocessing.Pipe(duplex=False)
            p = multiprocessing.Process(target=_duck_shot,
                                        args=(sf_dir, sqls[q], send))
            p.start()
            # the child holds the only send end: a child that dies
            # without a result reads as EOF, not as a timeout
            send.close()
            if not recv.poll(DUCK_TIMEOUT_S):
                p.terminate()
                failed = f"timeout >{DUCK_TIMEOUT_S}s"
            else:
                try:
                    kind, v = recv.recv()
                except EOFError:
                    kind, v = "err", "shot process died"
                if kind == "t":
                    shots.append(v)
                else:
                    failed = v
            p.join()
            recv.close()
            if failed:
                break
        if failed:
            out[q], spread[q], note[q] = math.nan, math.nan, failed
            done = f" after {len(shots)} clean shot(s)" if shots else ""
            print(f"[duckdb] {q:34s} DNF{done} ({failed})")
        else:
            out[q], spread[q], note[q] = min(shots), max(shots) / min(shots), ""
            print(f"[duckdb] {q:34s} {out[q]:.2f}s (spread {spread[q]:.2f}x)")
    return out, spread, note


def _over(out, spread):
    return sorted(q for q in out
                  if spread[q] == spread[q] and spread[q] > SPREAD_BAR)


def respread(kind, timer, out, spread):
    """Re-measure rows whose spread exceeds SPREAD_BAR, up to
    MAX_REMEASURE times: `timer(queries)` returns (out, spread, ...);
    each row keeps the min across attempts and the LAST attempt's
    spread. DNF rows (NaN spread) are a finding, not noise, and are left
    alone. A re-measure that raises keeps the primary measurements.
    Returns (and prints) the rows still over the bar."""
    for attempt in range(MAX_REMEASURE):
        bad = _over(out, spread)
        if not bad:
            return []
        print(f"[respread] {kind} attempt {attempt + 1}: re-measuring "
              f"{len(bad)} row(s) over {SPREAD_BAR}x: {', '.join(bad)}")
        # time_spark raises SystemExit on a failed row and a DuckDB
        # subprocess can die: never discard the completed primary pass
        try:
            res = timer(bad)
        except BaseException as e:
            print(f"[respread] {kind} re-measure failed ({e}); "
                  f"keeping primary measurements")
            break
        nout, nspread = res[0], res[1]
        for q in bad:
            if q in nout and nout[q] == nout[q]:
                out[q] = min(out[q], nout[q])
                spread[q] = nspread[q]
    bad = _over(out, spread)
    if bad:
        print(f"[respread] {kind}: still over the bar after re-measuring: "
              f"{', '.join(bad)}")
    return bad
