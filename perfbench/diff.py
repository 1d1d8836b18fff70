#!/usr/bin/env python3
"""Compare two sets of benchmark results, per workload.

    python3 perfbench/diff.py BASE [NEW]

BASE and NEW are result labels (run.py --label; directories under
.bench_build/perfbench/results) or paths to such directories. For every
workload in both, each end-to-end metric is shown as median [q1, q3] over the
untraced runs of each set, the spread of each set ((q3 - q1) / median), the
change and a verdict against the bound in BENCHMARK.json. When every seed
was run in both sets, the change is the median of the per-seed ratios, so
that, with the two sets run interleaved (base and new for one seed, then the
next seed), a drift of the machine's speed hits both sides alike; otherwise
it is the change of the medians. Per-layer metrics and self time per span come from the
traced runs (seed*-trace.json), with the tracing overhead of BASE (median
traced minus median untraced, per end-to-end metric). With only BASE, the
set is summarized, which is how to check that a benchmark is steady.
"""
import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from stats import quartiles  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RESULTS = os.path.join(ROOT, ".bench_build", "perfbench", "results")


def load(label):
    d = label if os.path.isdir(label) else os.path.join(RESULTS, label)
    sets = {}
    for path in sorted(glob.glob(os.path.join(d, "*", "seed*.json"))):
        with open(path) as fh:
            r = json.load(fh)
        w = sets.setdefault(os.path.basename(os.path.dirname(path)), {"plain": [], "trace": []})
        w["trace" if path.endswith("-trace.json") else "plain"].append(r)
    return sets


def summary(values):
    q1, q2, q3 = quartiles(values)
    return q1, q2, q3, (q3 - q1) / q2 if q2 else float("nan")


def fmt(s):
    return "%11.4g [%.4g, %.4g] spread %5.1f%%" % (s[1], s[0], s[2], 100 * s[3])


def change_of(runs_a, runs_b, metric):
    """Relative change from A to B, and the pairs it rests on: the median of
    the per-seed ratios and the ratios themselves when both sets ran the
    same seeds, else the change of the medians and no pairs."""
    a = {r["env"]["seed"]: r["end_to_end"][metric] for r in runs_a}
    b = {r["env"]["seed"]: r["end_to_end"][metric] for r in runs_b}
    if set(a) == set(b) and len(a) == len(runs_a) == len(runs_b) and all(a.values()):
        ratios = [b[s] / a[s] for s in sorted(a)]
        return summary(ratios)[1] - 1, ratios
    ma, mb = summary(list(a.values()))[1], summary(list(b.values()))[1]
    return ((mb - ma) / ma if ma else float("nan")), []


def pair_wins(spec, ratios):
    """'B better in k/n pairs', ties counting for neither side."""
    if spec is None or not ratios:
        return ""
    k = sum(1 for x in ratios if (x < 1 if spec["better"] == "lower" else x > 1))
    return ", B better in %d/%d pairs" % (k, len(ratios))


def verdict(spec, xs_a, xs_b, change):
    """Worse beyond the bound, better, within it, or unresolved when either
    set spreads wider than the bound and neither side beats every run of the
    other (lower is better unless the spec says higher)."""
    if spec is None or change != change:
        return ""
    a, b = summary(xs_a), summary(xs_b)
    separated = max(xs_a) < min(xs_b) or max(xs_b) < min(xs_a)
    if not separated and max(a[3], b[3]) > spec["bound"]:
        return "unresolved (spread above bound %.0f%%)" % (100 * spec["bound"])
    worse = change if spec["better"] == "lower" else -change
    if worse > spec["bound"]:
        return "WORSE (bound %.0f%%)" % (100 * spec["bound"])
    if worse < 0 and (separated or -worse > max(a[3], b[3])):
        return "better"
    return "within bound"


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = {m["name"]: m for m in json.load(fh)["end_to_end"]}
    base = load(argv[1])
    new = load(argv[2]) if len(argv) == 3 else None
    for w in sorted(base):
        if new is not None and w not in new:
            continue
        print("== %s (%d runs%s)" % (w, len(base[w]["plain"]),
                                   "" if new is None else " vs %d" % len(new[w]["plain"])))
        for kind, key in (("end_to_end", "plain"), ("per_layer", "trace")):
            runs_a = base[w][key]
            runs_b = new[w][key] if new is not None else []
            if not runs_a or (new is not None and not runs_b):
                continue
            print("  -- %s (%s runs)" % (kind, "traced" if key == "trace" else "untraced"))
            for m in runs_a[0][kind]:
                xs_a = [r[kind][m] for r in runs_a]
                if new is None:
                    print("  %-34s %s" % (m, fmt(summary(xs_a))))
                    continue
                xs_b = [r[kind][m] for r in runs_b]
                a, b = summary(xs_a), summary(xs_b)
                if kind == "end_to_end":
                    change, ratios = change_of(runs_a, runs_b, m)
                    note = verdict(spec.get(m), xs_a, xs_b, change) + pair_wins(spec.get(m), ratios)
                else:
                    change, note = (b[1] - a[1]) / a[1] if a[1] else float("nan"), ""
                print("  %-34s %s -> %s %+7.1f%% %s" % (m, fmt(a), fmt(b), 100 * change, note))
        if base[w]["trace"] and base[w]["plain"]:
            print("  -- tracing overhead (median traced - median untraced, %s)" % argv[1])
            for m in base[w]["plain"][0]["end_to_end"]:
                t = summary([r["end_to_end"][m] for r in base[w]["trace"]])[1]
                u = summary([r["end_to_end"][m] for r in base[w]["plain"]])[1]
                print("  %-34s %+11.4g" % (m, t - u))
        if base[w]["trace"] and (new is None or new[w]["trace"]):
            print("  -- self time per span, ms (median over traced runs)")
            names = sorted({n for r in base[w]["trace"] for n in r["self_time"]})
            for n in names:
                a = summary([r["self_time"].get(n, {"self_ms": 0})["self_ms"]
                             for r in base[w]["trace"]])
                if new is None:
                    print("  %-34s %11.1f" % (n, a[1]))
                else:
                    b = summary([r["self_time"].get(n, {"self_ms": 0})["self_ms"]
                                 for r in new[w]["trace"]])
                    print("  %-34s %11.1f -> %11.1f" % (n, a[1], b[1]))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
