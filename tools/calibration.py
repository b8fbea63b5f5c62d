"""Fixed calibration probes for the scale harnesses — the graft.Bench
discipline (probe at start / between legs / end; identical work each
time, so any dispersion across probes is the HOST's, never the
suite's) ported to the Python side, closing the round-13 gap where
bench_sf3's primary sf2 leg was measured under heavy load and only
caught later against committed floors.

TWO probe axes, because round 14 measured the one-axis blind spot the
hard way: a bench_sf3 leg read q137 at 204.5s (quiet floor: 28.7s)
while the pure-CPU probe dispersed only 1.06x — CPU-bound work cannot
see MEMORY-BANDWIDTH contention, and the spread guard is equally blind
when every shot in a window is uniformly slow. Each probe reading is
therefore a pair:

  cpu — a CPU-bound DuckDB aggregate over a generated range (CORES
        threads; catches steal/scheduler contention);
  mem — a full-scan aggregate over an 800 MB in-memory table built
        once per harness run (catches memory-bandwidth/page-cache
        contention, the axis that actually poisoned the r13/r14 legs).

Usage (bench_sf1/2/3):

    import calibration
    probes = [calibration.probe()]
    ... measure leg 1 ...
    probes.append(calibration.probe())
    ... measure leg 2 ...
    probes.append(calibration.probe())
    flags = calibration.report(probes, ["spark", "duckdb"])
    # -> per-leg per-axis dispersion printed + {leg: worst-axis value};
    #    legs over BAR on EITHER axis are contaminated AT MEASUREMENT
    #    TIME (re-run them), and the .md carries the probe row so a
    #    reader can audit each leg.

Probes are min-of-2 with one untimed warm shot per axis (the same
first-shot-compiles correction graft.Bench applies). Absolute values
are irrelevant, only dispersion across probes.
"""
import time

import duckdb

from timing import CORES

CPU_SQL = "SELECT sum(hash(range) % 1000000) FROM range(200000000)"
MEM_ROWS = 50000000  # x 16 B = ~800 MB resident scan per shot
BAR = 1.3
_warmed = False
_mem_con = None


def _cpu_shot():
    con = duckdb.connect()
    con.execute(f"SET threads TO {CORES}")
    con.execute("SET enable_progress_bar = false")
    t0 = time.time()
    con.execute(CPU_SQL).fetchall()
    con.close()
    return time.time() - t0


def _mem_shot():
    global _mem_con
    if _mem_con is None:
        _mem_con = duckdb.connect()
        _mem_con.execute(f"SET threads TO {CORES}")
        _mem_con.execute("SET enable_progress_bar = false")
        _mem_con.execute(
            f"CREATE TABLE probe_mem AS "
            f"SELECT hash(range) AS h, range AS r FROM range({MEM_ROWS})")
    # one 800 MB scan finishes in ~50 ms — pure scheduling noise at that
    # granularity — so a shot is 20 back-to-back scans (~1-2 s), long
    # enough that dispersion measures the HOST, not the scheduler
    t0 = time.time()
    for _ in range(20):
        _mem_con.execute(
            "SELECT sum(h), sum(r), max(h) FROM probe_mem").fetchall()
    return time.time() - t0


def probe():
    """One calibration reading: (cpu_seconds, mem_seconds), each
    min-of-2 (first call warms both axes untimed)."""
    global _warmed
    if not _warmed:
        _cpu_shot()
        _mem_shot()
        _warmed = True
    return (min(_cpu_shot() for _ in range(2)),
            min(_mem_shot() for _ in range(2)))


def _axis_disp(probes, i, axis):
    pair = [p[axis] for p in probes[i:i + 2]]
    return max(pair) / min(pair)


def report(probes, leg_names):
    """Print per-leg dispersion on BOTH axes (probes bracketing each
    leg) and return {leg_name: worst-axis dispersion}. Legs over BAR on
    either axis are flagged loudly — their rows were measured under
    host contention and adjudicate nothing."""
    out = {}
    for i, name in enumerate(leg_names):
        dc = _axis_disp(probes, i, 0)
        dm = _axis_disp(probes, i, 1)
        out[name] = max(dc, dm)
        flag = (f"  ** OVER {BAR}x — LEG CONTAMINATED, RE-RUN **"
                if out[name] > BAR else "")
        print(f"[calibration] {name} leg dispersion cpu {dc:.3f}x / "
              f"mem {dm:.3f}x{flag}")
    return out


def md_line(probes, legs):
    """One line for the generated .md: the audit trail a reader needs
    to trust (or reject) each leg without re-running the world."""
    ps = " ".join(f"(cpu {c:.2f}s, mem {m:.2f}s)" for c, m in probes)
    ds = ", ".join(f"{k} {v:.2f}x" for k, v in legs.items())
    return (f"Calibration probes (cpu-bound + memory-bandwidth-bound, "
            f"min-of-2, start/middle/end): {ps} — worst-axis leg "
            f"dispersion {ds}; legs over {BAR}x on either axis were "
            f"measured under host contention and must be re-run.")
