#!/usr/bin/env python3
"""Scaling-regression gate over ScaleProbe output (r13, VERDICT r11 item 5).

Parses the `[scale] | name | Kx | warm sec | shuffle MB | spilled MB | parts |`
rows of a ScaleProbe run that covered factors 1 and 10, and asserts each
op's recorded GROWTH CLASS:

  flat       (budget-bounded sampled audits): wall(10x) <= 3.0 * wall(1x)
  linear     (scan/join/agg pipelines):       wall(10x) <= 15  * wall(1x)
  pair-bound (exact all-pairs, x10 rows -> x100 pairs): wall(10x) <= 130x

Ratios use max(wall_1x, 0.2 s) as the denominator so job-floor noise on
sub-second 1x rows cannot fake a breach. A breach exits 1 (the gate fails).

Constant-factor regressions (the r11->r12 s76 kernel double-eval would NOT
change the growth ratio) are checked against the recorded idle-box 1x
baselines below with a 2x tolerance — WARN by default because this box's
wall clock is contention-sensitive (driver heartbeats); STRICT=1 in the
environment promotes the warns to failures.

Usage: scale_gate.py <file with ScaleProbe stdout> [more files...]
"""
import os
import re
import sys

CLASSES = {
    "s78_probe": ("flat", 3.0),
    "s79_probe": ("flat", 3.0),
    "s80_probe": ("linear", 15.0),
    "d71": ("linear", 15.0),
    "d82": ("linear", 15.0),
    "d83": ("linear", 15.0),
    "s61": ("pair-bound", 130.0),
    "s76": ("pair-bound", 130.0),
    "t73": ("linear", 15.0),
    "s84": ("linear", 15.0),
    # r14 interval suite: one-shuffle sweeps + merge-then-anti overlap —
    # measured 1.7x / 1.0x / 1.4x wall at 10x events
    "q108": ("linear", 15.0),
    "q109": ("linear", 15.0),
    "q111": ("linear", 15.0),
    "q113": ("linear", 15.0),
    "q114": ("linear", 15.0),
    # r15 native-key tier: q115 per-key clip (disjoint user populations,
    # rows x K, per-user islands fixed); q117 backward as-of (x K
    # boundaries on the same 8 type timelines, n log n); q118 keyed
    # native-date merge (same 5 priority timelines); q119 native-ts sweep;
    # merge_scalable_probe: the forced range-partitioned global merge over
    # ALL sessions (one range exchange + per-partition sweeps + N-row
    # fix-ups) — VERDICT r14 item 2's gate entry.
    "q115": ("linear", 15.0),
    "q117": ("linear", 15.0),
    "q118": ("linear", 15.0),
    "q119": ("linear", 15.0),
    # q120/q121 keyed banded joins: disjoint per-replica user populations,
    # (user, band) co-partitioning keeps candidate sets fixed — linear
    "q120": ("linear", 15.0),
    "q121": ("linear", 15.0),
    "merge_scalable_probe": ("linear", 15.0),
    # asof_scalable_probe: the forced range form of q117's backward as-of
    # (no tieBreak) — one data exchange on (range, key) + per-range sweeps
    "asof_scalable_probe": ("linear", 15.0),
    # q116 overlap FULL OUTER: replicas share the time axis, so matched
    # pairs genuinely grow x K^2 (output-bound, like the s61 pair family) —
    # the operator is still shuffle-banded; the bound reflects the output,
    # not a plan defect.
    "q116": ("pair-bound", 130.0),
    # r15 assembly tier: d94 SCD2 fold (one user shuffle, three windows on
    # one sort — disjoint user populations, measured 1.3x at 10x events);
    # d95 quantile partials (scan + bucket-sized agg, ~flat); d96 PPS
    # sampling (banded two-pass cumsum, 256 fixed bands x K rows, 1.2x)
    "d94": ("linear", 15.0),
    "d95": ("linear", 15.0),
    "d96": ("linear", 15.0),
    # standing interval index: fixed probe batch vs x K stored history —
    # the index side never reshuffles (0.0 shuffle MB at both factors);
    # cost is the bucketed index scan + x K match volume (measured 1.3x)
    "ivx_probe": ("linear", 15.0),
    # q122 calendar-grid occupancy: band explode + (key, bucket) count —
    # x K intervals stack onto the same fixed hour grid (measured 1.1x)
    "q122": ("linear", 15.0),
    # q123 idle gaps: mergeIntervals + lead + agg on one key exchange —
    # x K sessions on the same 8 type timelines (measured 1.3x)
    "q123": ("linear", 15.0),
    # q124 point-in-time SCD2 enrichment: fold + per-user backward as-of —
    # disjoint user populations, per-user work fixed (measured 1.1x)
    "q124": ("linear", 15.0),
}

# idle-box min-of-2 warm seconds at 1x (sf0.1, local[32]), measured r13
# (post s76 double-eval fix + bounded-aggregate rerank rewrite)
BASELINE_1X = {
    "s78_probe": 0.24,
    "s79_probe": 0.17,
    "s80_probe": 0.46,
    "d71": 1.46,
    "d82": 2.88,
    "d83": 1.60,
    "s61": 1.46,
    "s76": 0.92,
    "t73": 1.17,
    # r14: operating point moved 8/50 -> PqNprobe=12/PqRefine=100 for recall
    # headroom (0.80 -> 0.92); probe reads 12/16 of cells vs 8/16 — wall
    # re-baselined at the new point (first r14 idle-box measurement)
    "s84": 0.89,
    # r15 (ADVICE r14): the interval suite re-measured idle-box min-of-2 in
    # ONE session on the r15 code (the r14 entries were loaded-box and
    # under-sensitive); the six new ops baselined in the same session
    "q108": 0.80,
    "q109": 0.80,
    "q111": 0.85,
    "q113": 1.33,
    "q114": 1.23,
    "q115": 1.10,
    "q116": 0.83,
    "q117": 0.37,
    "q118": 0.88,
    "q119": 0.32,
    "q120": 0.99,
    "q121": 0.68,
    "merge_scalable_probe": 0.81,
    # r15 assembly tier, idle-box min-of-2 in one session
    "d94": 0.59,
    "d95": 0.78,
    "d96": 0.59,
    "ivx_probe": 0.43,
    "q122": 0.58,
    "q123": 0.90,
    "q124": 1.16,
}

ROW = re.compile(
    r"\|\s*(\S+)\s*\|\s*(\d+)x\s*\|\s*([0-9.]+)\s*\|\s*([0-9.]+)\s*\|")


def main(paths):
    walls = {}  # (name, factor) -> sec
    for p in paths:
        with open(p) as f:
            for line in f:
                m = ROW.search(line)
                if m:
                    name, factor, sec = m.group(1), int(m.group(2)), float(m.group(3))
                    # keep the best (min) if a row repeats across files
                    key = (name, factor)
                    walls[key] = min(walls.get(key, 1e18), sec)
    strict = os.environ.get("STRICT", "0") == "1"
    failures, warns, checked = [], [], 0
    for name, (cls, bound) in sorted(CLASSES.items()):
        w1, w10 = walls.get((name, 1)), walls.get((name, 10))
        if w1 is None or w10 is None:
            failures.append(f"{name}: missing 1x/10x rows (got 1x={w1}, 10x={w10})")
            continue
        checked += 1
        ratio = w10 / max(w1, 0.2)
        verdict = "ok" if ratio <= bound else "BREACH"
        print(f"[scale-gate] {name:10s} {cls:10s} 1x={w1:7.2f}s 10x={w10:8.2f}s "
              f"ratio={ratio:6.1f} (bound {bound:.0f}) {verdict}")
        if ratio > bound:
            failures.append(
                f"{name}: wall grew {ratio:.1f}x at 10x data — outside its "
                f"recorded {cls} class (bound {bound:.0f}x)")
        base = BASELINE_1X.get(name)
        if base is not None and w1 > 2.0 * base:
            warns.append(
                f"{name}: 1x wall {w1:.2f}s is >2x the recorded idle-box "
                f"baseline {base:.2f}s — constant-factor regression?")
    for w in warns:
        print(f"[scale-gate] {'FAIL' if strict else 'WARN'}: {w}")
    for f_ in failures:
        print(f"[scale-gate] FAIL: {f_}")
    if failures or (strict and warns):
        sys.exit(1)
    print(f"[scale-gate] PASS: {checked} ops within their growth classes")


if __name__ == "__main__":
    main(sys.argv[1:] or ["/tmp/scale_gate.txt"])
