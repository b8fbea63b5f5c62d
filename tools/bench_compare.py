#!/usr/bin/env python3
"""Diff two Bench JSON files and flag per-query deltas beyond a ratio.

Makes noise-vs-regression adjudication mechanical: round 3's apparent
q61 "regression" (0.45s -> 1.75s in the driver file) vanished on judge
re-run - shared-VM noise that a structured diff would have flagged as
suspicious-but-unconfirmed rather than leaving to eyeball archaeology.

When both files carry Bench's per-query "job_counts", it also prints
the total jobs old -> new and each query whose job count changed. Job
counts are informational: they never change the exit status.

Usage: tools/bench_compare.py OLD.json NEW.json [--ratio 1.5]
Exit status: 0 (no flags), 1 (flags found), 2 (bad input).
"""
import argparse
import json
import sys


def scan_lines(text):
    for line in text.splitlines():
        line = line.strip()
        if line.startswith("{"):
            try:
                d = json.loads(line)
                if "queries" in d:
                    return d
            except json.JSONDecodeError:
                continue
    return None


def load(path):
    """Accept Bench's own JSON line, a log containing one, or the
    driver's BENCH_r{N}.json wrapper (bench line embedded in 'tail')."""
    with open(path) as f:
        text = f.read()
    try:
        d = json.loads(text)
        if isinstance(d, dict):
            if "queries" in d:
                return d
            if "tail" in d:
                inner = scan_lines(d["tail"])
                if inner:
                    return inner
    except json.JSONDecodeError:
        pass
    d = scan_lines(text)
    if d:
        return d
    raise ValueError(f"no bench JSON object with 'queries' found in {path}")


def job_lines(old, new):
    """Total jobs old -> new and one line per query whose job count
    changed; nothing unless both files carry "job_counts"."""
    oj, nj = old.get("job_counts"), new.get("job_counts")
    if not isinstance(oj, dict) or not isinstance(nj, dict):
        return []
    lines = [f"jobs: {sum(oj.values())} -> {sum(nj.values())}"]
    for name in sorted(set(oj) & set(nj)):
        if oj[name] != nj[name]:
            lines.append(f"JOBS {name:28s} {oj[name]:>8} -> {nj[name]:>8}")
    return lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--ratio", type=float, default=1.5,
                    help="flag queries whose time changed by more than this factor")
    ap.add_argument("--min-secs", type=float, default=0.2,
                    help="ignore deltas where both sides are below this "
                         "(scheduling-floor noise dominates tiny queries)")
    ap.add_argument("--max-noise", type=float, default=1.3,
                    help="if either file's calibration dispersion (max/min of "
                         "the fixed pure-CPU probe Bench interleaves through "
                         "the run) exceeds this, per-query slower/faster flags "
                         "are downgraded to NOISY and don't affect exit status")
    args = ap.parse_args()

    try:
        old, new = load(args.old), load(args.new)
    except (OSError, ValueError) as e:
        print(f"error: {e}", file=sys.stderr)
        return 2

    def noise_of(d):
        # Bench >= r6 emits "noise" (and the raw "calibration" shots);
        # older files lack it -> treat as clean (can't adjudicate)
        n = d.get("noise")
        if n is None and d.get("calibration"):
            c = d["calibration"]
            n = max(c) / min(c) if min(c) > 0 else None
        return n

    noises = [n for n in (noise_of(old), noise_of(new)) if n is not None]
    noisy = bool(noises) and max(noises) > args.max_noise

    oq, nq = old["queries"], new["queries"]
    flags, soft = [], []
    for name in sorted(set(oq) | set(nq)):
        a, b = oq.get(name), nq.get(name)
        if a is None or b is None:
            flags.append((name, a, b, "only in one file"))
            continue
        if a < 0 or b < 0:
            flags.append((name, a, b, "FAILED run"))
            continue
        if max(a, b) < args.min_secs:
            continue
        if b > a * args.ratio:
            (soft if noisy else flags).append((name, a, b, f"slower {b / a:.2f}x"))
        elif a > b * args.ratio:
            (soft if noisy else flags).append((name, a, b, f"faster {a / b:.2f}x"))

    print(f"total: {old.get('value', float('nan')):.1f}s -> "
          f"{new.get('value', float('nan')):.1f}s "
          f"(runs {old.get('runs')} -> {new.get('runs')})")
    if noises:
        print(f"calibration dispersion: "
              f"{' -> '.join(f'{n:.2f}x' for n in noises)}"
              f"{' — NOISY run, timing deltas downgraded' if noisy else ''}")
    for line in job_lines(old, new):
        print(line)
    for name, a, b, why in soft:
        fa, fb = f"{a:.2f}s", f"{b:.2f}s"
        print(f"NOISY {name:28s} {fa:>8} -> {fb:>8}  {why} "
              f"(under calibration dispersion > {args.max_noise}x; "
              f"not adjudicable)")
    if not flags:
        if not soft:
            print(f"no per-query deltas beyond {args.ratio}x (min {args.min_secs}s)")
        return 0
    for name, a, b, why in flags:
        fa = "-" if a is None else f"{a:.2f}s"
        fb = "-" if b is None else f"{b:.2f}s"
        print(f"FLAG {name:28s} {fa:>8} -> {fb:>8}  {why}")
    print(f"{len(flags)} flagged; re-run both binaries on the same quiet "
          f"machine before calling any of these a regression")
    return 1


if __name__ == "__main__":
    sys.exit(main())
