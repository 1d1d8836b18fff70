"""Turns the harness's raw record of one run into metrics (see README.md)."""
import json
import os
import statistics

from stats import median, percentile, self_times, union_length

END_TO_END = {
    "setup_s": "s", "cold_s": "s", "warm_s": "s", "qps": "1/s", "retained_heap_mb": "MB"}

FAMILIES = "dmqstu"
# At least one query of each family; the persist-memo queries d50 and d81;
# d86 and s74, whose builds run jobs; and q68, whose output is
# non-deterministic. See README.md.
SUITE_IDS = ["d50", "d81", "d86", "m64", "q18", "q43", "q68", "s74", "t60", "u62"]

PER_LAYER = dict(
    [("facade.%s" % k, "ms") for k in (
        "mem_ms_p50", "mem_ms_p90", "scan_ms_p50", "scan_ms_p90", "adhoc_ms_p50", "write_ms_p50")]
    + [("engine.plan_hit_ms", "ms"), ("engine.plan_miss_ms", "ms"),
       ("engine.plan_cache_hit_ratio", "ratio"), ("engine.write_invalidations", "count"),
       ("engine.collect_ms", "ms"), ("engine.jobs_per_call", "count"),
       ("engine.fold_ratio", "ratio"), ("engine.register_ms", "ms"),
       ("engine.materialize_ms", "ms"),
       ("entry.build_ms_cold", "ms"), ("entry.build_ms_warm", "ms"),
       ("entry.memo_hit_ratio", "ratio"), ("entry.build_jobs_cold", "count"),
       ("entry.build_jobs_warm", "count"),
       ("tables.load_ms_cold", "ms"), ("tables.load_ms_warm", "ms")]
    + [("queries.exec_ms.%s" % f, "ms") for f in FAMILIES]
    + [("queries.exec_ms.%s" % q, "ms") for q in SUITE_IDS]
    + [("queries.cold_premium_ms", "ms"),
       ("spark.compile.analysis_ms", "ms"), ("spark.compile.optimization_ms", "ms"),
       ("spark.compile.planning_ms", "ms"), ("spark.compile.codegen_ms", "ms"),
       ("spark.compile.codegen_count", "count"),
       ("spark.exec.jobs", "count"), ("spark.exec.stages", "count"),
       ("spark.exec.tasks", "count"), ("spark.exec.idle_ms", "ms"),
       ("spark.exec.task_ms", "ms"), ("spark.exec.task_cpu_ms", "ms"),
       ("spark.exec.shuffle_write_bytes", "bytes"), ("spark.exec.shuffle_read_bytes", "bytes"),
       ("spark.exec.spill_bytes", "bytes"), ("spark.exec.peak_exec_mem_bytes", "bytes"),
       ("spark.exec.exchanges", "count"), ("spark.exec.sorts", "count"),
       ("spark.exec.persisted_bytes", "bytes"), ("jvm.gc_ms", "ms")])

UNITS = dict(END_TO_END, **PER_LAYER)

REPEATED = {"mem", "scan", "warm"}   # classes whose statements repeat
LOOP = {"mem", "scan", "adhoc", "write", "fresh", "warm"}   # classes timed after the cold pass


def _ms(o):
    return (o["end"] - o["start"]) / 1000.0


def _lat(o):
    """Latency in ms; a failed op misses every latency limit."""
    return _ms(o) if o["ok"] else float("inf")


def end_to_end(raw):
    """The end-to-end metrics. Failed ops are left out of the time sums
    (they are counted in `failed`, and the run is not correct)."""
    ops = raw["ops"]
    cold = [o for o in ops if o["cls"] == "cold" and o["ok"]]
    by_stmt = {}
    for o in ops:
        if o["cls"] in REPEATED and o["ok"]:
            by_stmt.setdefault(o["stmt"], []).append(_ms(o))
    loop = [o for o in ops if o["cls"] in LOOP]
    window = (max(o["end"] for o in loop) - min(o["start"] for o in loop)) / 1e6
    return {
        "setup_s": median(raw["warm_setups_s"]),
        "cold_s": sum(_ms(o) for o in cold) / 1000.0,
        "warm_s": sum(statistics.mean(v) for v in by_stmt.values()) / 1000.0,
        "qps": sum(o["ok"] for o in loop) / window,
        "retained_heap_mb": raw["retained_heap_mb"],
    }


def class_latencies(ops):
    out, samples = {}, {}
    for cls, pcts in (("mem", (50, 90)), ("scan", (50, 90)), ("adhoc", (50,)), ("write", (50,))):
        xs = [_lat(o) for o in ops if o["cls"] == cls]
        samples[cls] = len(xs)
        for p in pcts:
            v = percentile(xs, p / 100.0)
            out["facade.%s_ms_p%d" % (cls, p)] = -1 if v is None else v
    return out, samples


def _assign_ops(spans):
    """Give every span the op it belongs to: its own, or its parent's.

    A planning tracker merges repeated measurements of one phase into a
    single interval from the first start to the last end. So a phase span,
    and an executed-plan record whose op the harness did not name, is kept
    only when it lies inside one op's harness spans (the named op, if any);
    it is parented to the innermost of them. Others are dropped (their op
    becomes 0) and counted in the result."""
    by_id = {s["id"]: s for s in spans}
    harness = [s for s in spans if not s["name"].startswith("spark.")]
    dropped = 0
    for s in spans:
        if not s["name"].startswith(("spark.compile.", "spark.plan")):
            continue
        owner = by_id.get(s["parent"])
        if owner is not None and s["name"] == "spark.plan":
            continue  # counted per execution; its time is the compilation's
        inside = [h for h in harness if h["op"] and h["start"] <= s["start"] and s["end"] <= h["end"]
                  and (owner is None or h["op"] == owner["op"])]
        if inside and len({h["op"] for h in inside}) == 1:
            s["parent"] = min(inside, key=lambda h: h["end"] - h["start"])["id"]
        else:
            s["parent"], s["op"] = 0, 0
            dropped += 1

    def op_of(s, depth=0):
        if s["op"] or depth > 50:
            return s["op"]
        p = by_id.get(s["parent"])
        s["op"] = op_of(p, depth + 1) if p else 0
        return s["op"]

    for s in spans:
        op_of(s)
    return by_id, dropped


def per_layer(raw):
    ops, spans = raw["ops"], raw["spans"]
    by_id, dropped = _assign_ops(spans)
    op_cls = {o["id"]: o["cls"] for o in ops}
    n_ops = max(1, len(ops))
    named = {}
    for s in spans:
        named.setdefault(s["name"], []).append(s)

    def dur(s):
        return (s["end"] - s["start"]) / 1000.0

    def med(xs):
        return median(xs) if xs else 0.0

    m, samples = class_latencies(ops)

    # engine: plan lookups told apart by DataFrame identity (harness-side)
    outcome = dict((sid, oc) for sid, oc in raw.get("plan_outcomes", []))
    plan = [(s, outcome.get(s["parent"])) for s in named.get("engine.plan", [])
            if op_cls.get(s["op"]) in ("mem", "scan", "adhoc")]
    hits = [dur(s) for s, oc in plan if oc == "Hit"]
    misses = [dur(s) for s, oc in plan if oc != "Hit"]
    job_spans = {}
    for j in named.get("spark.job", []):
        job_spans.setdefault(j["op"], []).append((j["start"], j["end"]))
    reads = [o for o in ops if o["cls"] in ("mem", "scan", "adhoc")]
    mems = [o for o in ops if o["cls"] == "mem"]
    m.update({
        "engine.plan_hit_ms": med(hits),
        "engine.plan_miss_ms": med(misses),
        "engine.plan_cache_hit_ratio": len(hits) / len(plan) if plan else 0.0,
        "engine.write_invalidations": sum(1 for _, oc in plan if oc == "Invalidated"),
        "engine.collect_ms": med([dur(s) for s in named.get("engine.collect", [])
                                  if op_cls.get(s["op"]) in ("mem", "scan", "adhoc")]),
        "engine.jobs_per_call": (sum(len(job_spans.get(o["id"], [])) for o in reads) / len(reads)
                                 if reads else 0.0),
        "engine.fold_ratio": (sum(1 for o in mems if o["id"] not in job_spans) / len(mems)
                              if mems else 0.0),
        "engine.register_ms": med([dur(s) for s in named.get("engine.register", [])]),
        "engine.materialize_ms": med([dur(s) for s in named.get("engine.materialize", [])]),
    })

    # entry and queries: builds and executions of the contract queries
    stmt_of = {o["id"]: o["stmt"] for o in ops}

    def per_query(name, cls):
        d = {}
        for s in named.get(name, []):
            if op_cls.get(s["op"]) == cls:
                d.setdefault(stmt_of[s["op"]], []).append(dur(s))
        return d
    cold_build, warm_build = per_query("entry.build", "cold"), per_query("entry.build", "warm")
    warm_exec = per_query("queries.exec", "warm")
    memo = dict((sid, oc) for sid, oc in raw.get("memo_outcomes", []))
    warm_memo = [oc for sid, oc in memo.items() if op_cls.get(by_id[sid]["op"]) == "warm"]
    build_ids = {s["id"] for s in named.get("entry.build", [])}
    passes = max(1, sum(1 for o in ops if o["cls"] == "warm") // max(1, len(cold_build)))

    def jobs_under(cls):
        return sum(1 for j in named.get("spark.job", [])
                   if j["parent"] in build_ids and op_cls.get(j["op"]) == cls)
    m.update({
        "entry.build_ms_cold": sum(sum(v) for v in cold_build.values()),
        "entry.build_ms_warm": sum(med(v) for v in warm_build.values()),
        "entry.memo_hit_ratio": (warm_memo.count("Hit") / len(warm_memo)) if warm_memo else 0.0,
        "entry.build_jobs_cold": jobs_under("cold") if cold_build else 0,
        "entry.build_jobs_warm": jobs_under("warm") / passes if warm_build else 0,
        "tables.load_ms_cold": sum(dur(s) for s in named.get("tables.load", [])),
        "tables.load_ms_warm": sum(dur(s) for s in named.get("tables.load.warm", [])),
    })
    for q in SUITE_IDS:
        m["queries.exec_ms.%s" % q] = med(warm_exec.get(q, []))
    for f in FAMILIES:
        m["queries.exec_ms.%s" % f] = sum(med(v) for q, v in warm_exec.items() if q[0] == f)
    suite_cold = {o["stmt"]: _ms(o) for o in ops if o["cls"] == "cold" and o["stmt"] in warm_exec}
    suite_warm = {}
    for o in ops:
        if o["cls"] == "warm":
            suite_warm.setdefault(o["stmt"], []).append(_ms(o))
    m["queries.cold_premium_ms"] = sum(suite_cold[q] - med(suite_warm.get(q, [])) for q in suite_cold)

    # spark.compile: planning-tracker phases of the measured ops, per op
    measured = set(op_cls)
    for phase in ("analysis", "optimization", "planning"):
        m["spark.compile.%s_ms" % phase] = sum(
            dur(s) for s in named.get("spark.compile." + phase, []) if s["op"] in measured) / n_ops
    m["spark.compile.codegen_ms"] = raw["codegen_ms"]
    m["spark.compile.codegen_count"] = raw["codegen_count"]

    # spark.exec: jobs, stages and tasks of the measured ops, per op
    def of_measured(name):
        return [s for s in named.get(name, []) if s["op"] in measured]
    jobs, stages, tasks = of_measured("spark.job"), of_measured("spark.stage"), of_measured("spark.task")
    attrs = [t.get("attrs", {}) for t in tasks]
    # idle: time some job of an op was running but no task of that op was
    idle = 0.0
    task_spans = {}
    for t in tasks:
        task_spans.setdefault(t["op"], []).append((t["start"], t["end"]))
    for op in measured:
        js = job_spans.get(op, [])
        busy = [(max(s, a), min(e, b)) for s, e in task_spans.get(op, [])
                for a, b in js if s < b and e > a]
        idle += (union_length(js) - union_length(busy)) / 1000.0
    plans = of_measured("spark.plan")
    m.update({
        "spark.exec.jobs": len(jobs) / n_ops,
        "spark.exec.stages": len(stages) / n_ops,
        "spark.exec.tasks": len(tasks) / n_ops,
        "spark.exec.idle_ms": idle / n_ops,
        "spark.exec.task_ms": sum(a.get("run_ms", 0) for a in attrs) / n_ops,
        "spark.exec.task_cpu_ms": sum(a.get("cpu_ns", 0) for a in attrs) / 1e6 / n_ops,
        "spark.exec.shuffle_write_bytes": sum(a.get("shuffle_write", 0) for a in attrs) / n_ops,
        "spark.exec.shuffle_read_bytes": sum(a.get("shuffle_read", 0) for a in attrs) / n_ops,
        "spark.exec.spill_bytes": sum(a.get("spill", 0) for a in attrs) / n_ops,
        "spark.exec.peak_exec_mem_bytes": max([a.get("peak_mem", 0) for a in attrs] or [0]),
        "spark.exec.exchanges": sum(p["attrs"]["exchanges"] for p in plans) / n_ops,
        "spark.exec.sorts": sum(p["attrs"]["sorts"] for p in plans) / n_ops,
        "spark.exec.persisted_bytes": raw["persisted_bytes"],
        "jvm.gc_ms": raw["gc_ms"],
    })
    assert set(m) == set(PER_LAYER), set(m) ^ set(PER_LAYER)
    return m, {"class_samples": samples, "dropped_phase_spans": dropped}


def self_time_table(spans):
    """Count, total and self time per span name. Phase spans that per_layer
    dropped (not inside one op) are left out."""
    spans = [s for s in spans if s["op"] or not s["name"].startswith("spark.compile.")]
    st = self_times(spans)
    rows = {}
    for s in spans:
        r = rows.setdefault(s["name"], [0, 0.0, 0.0])
        r[0] += 1
        r[1] += (s["end"] - s["start"]) / 1000.0
        r[2] += st[s["id"]] / 1000.0
    return {k: {"count": c, "total_ms": t, "self_ms": sf} for k, (c, t, sf) in rows.items()}


def check_digests(got, expected):
    """Failures among the suite's result digests, as {id: reason}."""
    bad = {}
    for q, d in got.items():
        want = expected["digests"].get(q)
        if want is None:
            bad[q] = "no expected digest"
        elif d.startswith("error"):
            bad[q] = d
        elif q in expected["count_only"]:
            if d.split(":")[0] != want.split(":")[0]:
                bad[q] = "row count %s, expected %s" % (d.split(":")[0], want.split(":")[0])
        elif d != want:
            bad[q] = "digest %s, expected %s" % (d, want)
    return bad


def compute(raw, expected):
    ops = raw["ops"]
    e2e = end_to_end(raw)
    bad_digests = check_digests(raw.get("digests", {}), expected)
    attempted = len(ops) + len(raw.get("digests", {}))
    failed = sum(1 for o in ops if not o["ok"]) + len(bad_digests)
    res = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "error_rate": failed / attempted, "end_to_end": e2e, "first_setup_s": raw["first_setup_s"],
           "warm_setups_s": raw["warm_setups_s"],
           "bad_digests": bad_digests, "digests": raw.get("digests", {}),
           "errors": [o for o in ops if not o["ok"]][:20],
           "ops": [[o["cls"], o["stmt"], o["client"], o["start"], o["end"], o["ok"]] for o in ops],
           "op_counts": {c: sum(1 for o in ops if o["cls"] == c) for c in {o["cls"] for o in ops}}}
    per_stmt = {}
    for o in ops:
        d = per_stmt.setdefault(o["stmt"], {"cold_ms": None, "warm_ms": []})
        if o["cls"] == "cold":
            d["cold_ms"] = _lat(o)
        elif o["cls"] in REPEATED:
            d["warm_ms"].append(_lat(o))
    res["per_stmt"] = {k: {"cold_ms": d["cold_ms"], "warm_ms_median": median(d["warm_ms"]),
                           "warm_n": len(d["warm_ms"])} for k, d in per_stmt.items()}
    lat, samples = class_latencies(ops)
    res["class_latency_ms"] = lat
    res["class_samples"] = samples
    if raw["trace"]:
        res["per_layer"], res["trace_notes"] = per_layer(raw)
        res["self_time"] = self_time_table(raw["spans"])
    return res


def print_report(res, traced, untraced_path):
    out = []
    out.append("correct=%s attempted=%d failed=%d error_rate=%.4f ops=%s" % (
        res["correct"], res["attempted"], res["failed"], res["error_rate"], res["op_counts"]))
    for k, v in res["end_to_end"].items():
        out.append("  %-20s %12.4f %s" % (k, v, END_TO_END[k]))
    for k, v in res["class_latency_ms"].items():
        out.append("  %-20s %12.3f ms  (n=%d)" % (k, v, res["class_samples"][k.split(".")[1].split("_")[0]]))
    for q, why in res["bad_digests"].items():
        out.append("  WRONG %s: %s" % (q, why))
    for o in res["errors"]:
        out.append("  FAILED %s %s: %s" % (o["cls"], o["stmt"], o.get("error")))
    if traced:
        base = None
        if os.path.exists(untraced_path):
            with open(untraced_path) as fh:
                base = json.load(fh)["end_to_end"]
        out.append("tracing overhead (traced - untraced, same seed):" if base else
                   "tracing overhead: no untraced run of this seed to compare with")
        if base:
            for k, v in res["end_to_end"].items():
                out.append("  %-20s %+12.4f %s" % (k, v - base[k], END_TO_END[k]))
        out.append("per layer:")
        for k, v in res["per_layer"].items():
            out.append("  %-34s %14.3f %s" % (k, v, PER_LAYER[k]))
        out.append("self time by span (ms):  count  total  self")
        for k, r in sorted(res["self_time"].items(), key=lambda kv: -kv[1]["self_ms"]):
            out.append("  %-28s %7d %10.1f %10.1f" % (k, r["count"], r["total_ms"], r["self_ms"]))
    print("\n".join(out))
