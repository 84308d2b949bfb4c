#!/usr/bin/env python3
"""Per-query bench regression gate.

The driver's bench line keeps only the slowest ~60 queries, so a 3x
regression on a mid-pack query is invisible there. This diffs two FULL
per-query maps (the `target/bench_full.json` that graft.Bench writes,
snapshotted per round under bench_history/) and fails on any query that
got more than RATIO_GATE slower AND more than ABS_FLOOR_S absolutely
slower — the absolute floor keeps sub-0.2 s queries, whose times are
dominated by fixed job-scheduling overhead, from tripping the gate on
scheduler noise.

Usage:
    python3 tools/bench_diff.py <prev_full.json> <curr_full.json> [report_out]

Both maps must come from the same host and the same timed action: the
gate compares plans only when the machine is held fixed.

Exit 1 on regression (or on a query that failed: -1 marker), 0 otherwise.
A query present only in prev counts as REMOVED (reported, not fatal —
surface changes are the judge's department); present only in curr is NEW.
"""
import sys, json

RATIO_GATE = 2.0
ABS_FLOOR_S = 0.3


def main():
    args = sys.argv[1:]
    if len(args) < 2:
        print(__doc__)
        return 2
    def load(path):
        obj = json.load(open(path))
        # Accept a flat {query: sec} map (bench_full.json), the bench
        # stdout line ({"metric": ..., "queries": {...}}), or the driver's
        # BENCH_r*.json artifact ({"parsed": {..., "queries": {...}}} —
        # the parsed map is truncated to the slowest ~60; partial
        # coverage, better than nothing when no full snapshot exists).
        if isinstance(obj, dict) and isinstance(obj.get("parsed"), dict):
            obj = obj["parsed"]
        if isinstance(obj, dict) and isinstance(obj.get("queries"), dict):
            obj = obj["queries"]
        return {k: float(v) for k, v in obj.items()}

    prev = load(args[0])
    curr = load(args[1])
    out = open(args[2], "w") if len(args) > 2 else sys.stdout

    regressions, failures, improved, removed, new = [], [], [], [], []
    for q in sorted(set(prev) | set(curr)):
        if q not in curr:
            removed.append(q)
            continue
        if q not in prev:
            new.append((q, curr[q]))
            continue
        p = prev[q]
        if curr[q] < 0:
            failures.append(q)
            continue
        c = curr[q]
        if p > 0 and c > p * RATIO_GATE and c - p > ABS_FLOOR_S:
            regressions.append((q, p, c))
        elif p > 0 and p > c * RATIO_GATE and p - c > ABS_FLOOR_S:
            improved.append((q, p, c))

    tot_p = sum(v for v in prev.values() if v >= 0)
    tot_c = sum(v for v in curr.values() if v >= 0)
    print(f"# bench diff: {args[0]} -> {args[1]}", file=out)
    print(f"total: {tot_p:.1f}s -> {tot_c:.1f}s "
          f"({len(prev)} -> {len(curr)} queries)", file=out)
    for q, p, c in sorted(regressions, key=lambda t: t[1] - t[2]):
        print(f"REGRESSION {q}: {p:.3f}s -> {c:.3f}s ({c/p:.1f}x)", file=out)
    for q in failures:
        print(f"FAILED {q}: -1 in current run", file=out)
    for q, p, c in sorted(improved, key=lambda t: t[2] - t[1]):
        print(f"improved {q}: {p:.3f}s -> {c:.3f}s", file=out)
    for q in removed:
        print(f"removed {q} (was {prev[q]:.3f}s)", file=out)
    for q, c in new:
        print(f"new {q}: {c:.3f}s", file=out)
    if not regressions and not failures:
        print("OK: no per-query regression "
              f"(gate: >{RATIO_GATE}x and >{ABS_FLOOR_S}s)",
              file=out)
    if out is not sys.stdout:
        out.close()
        # echo verdict to stdout too so CI logs show it
        print(open(args[2]).read())
    return 1 if (regressions or failures) else 0


if __name__ == "__main__":
    sys.exit(main())
