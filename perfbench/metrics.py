"""Metric arithmetic for the benchmark: medians, geometric means, span
self times and failure counting, and the assembly of the
end-to-end and per-layer metric sets from one run's raw timings."""
import math

MIB = 1024.0 * 1024.0


def median(xs):
    xs = sorted(xs)
    if not xs:
        raise ValueError("median of no values")
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def geomean(xs):
    xs = list(xs)
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= cur:
            continue
        a = max(a, cur)
        if b > a:
            total += b - a
            cur = b
    return total


def self_times(spans):
    """Self time of every span in seconds: its duration minus the part of
    its interval that its children cover. Spans are dicts with ``id``,
    ``parent``, ``start_us`` and ``end_us``; unfinished spans are skipped."""
    done = [s for s in spans if s["end_us"] >= s["start_us"] >= 0]
    kids = {}
    for s in done:
        kids.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    return {s["id"]: (s["end_us"] - s["start_us"]
                      - covered(kids.get(s["id"], []), s["start_us"], s["end_us"])) / 1e6
            for s in done}


def count_failures(ops, passes, check_ok):
    """Ops that failed: threw in any pass, or whose output failed its
    check. Returns (attempted, failed, names)."""
    bad = set()
    for p in passes:
        bad |= {r["op"] for r in p["ops"] if not r["ok"]}
    bad |= {op for op, ok in check_ok.items() if not ok}
    bad &= set(ops)
    return len(ops), len(bad), sorted(bad)


def end_to_end(res, workload, ok_frac):
    """End-to-end metrics from a run's untraced passes."""
    plain = [p for p in res["passes"] if not p["traced"]]
    pass_s = median([p["pass_s"] for p in plain])
    geo = median([geomean(r["s"] for r in p["ops"] if r["ok"] and r["s"] > 0) for p in plain])
    # the word count reads its corpus once per scan path (two ops)
    paths = 2 if workload == "wordcount" else 1
    return {
        "setup_s": (res["setup_s"], "s"),
        "pass_s": (pass_s, "s"),
        "op_geomean_s": (geo, "s"),
        "input_mb_per_s": (res["input_bytes"] * paths / MIB / pass_s, "MiB/s"),
        "ok_frac": (ok_frac, "fraction"),
        "retained_heap_mb": (median([p["heap_mb"] for p in plain]), "MiB"),
    }


def _legs(res, kind):
    by = {}
    for r in res.get("legs", []):
        if r["leg"] == kind:
            by.setdefault(r["source"], []).append(r)
    return {src: (median([r["s"] for r in rs]), median([r["tasks"] for r in rs]))
            for src, rs in by.items()}


def _pass_spans(spans):
    """Group spans under the traced pass they belong to."""
    by_id = {s["id"]: s for s in spans}
    root = {}

    def top(s):
        sid = s["id"]
        if sid not in root:
            p = by_id.get(s["parent"])
            root[sid] = sid if s["kind"] == "pass" else (top(p) if p else None)
        return root[sid]

    groups = {}
    for s in spans:
        r = top(s)
        if r is not None and s["kind"] != "pass":
            groups.setdefault(r, []).append(s)
    return groups


def _nearest_driver(s, by_id):
    p = by_id.get(s["parent"])
    while p is not None and p["kind"] == "sql":
        p = by_id.get(p["parent"])
    return p


def eager_executions(group, by_id):
    """SQL executions started inside a builder call: an op's frame builder
    or a memo build's call, which is where a loop's per-round executions
    run."""
    return sum(1 for s in group if s["kind"] == "sql"
               and (_nearest_driver(s, by_id) or {}).get("kind") == "builder")


def per_layer(res, spans):
    """Per-layer metrics from a traced run: traced passes, legs and spans."""
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p for p in res["passes"] if not p["traced"]]
    t_pass = median([p["pass_s"] for p in traced])
    cores = res["cores"]
    m = {}

    def c(key):
        return median([p["counters"][key] for p in traced])

    plan, scan = _legs(res, "plan"), _legs(res, "scan")
    tok, perkey, full = _legs(res, "tokens"), _legs(res, "perkey"), _legs(res, "full")
    m["sources.plan_s"] = (sum(v[0] for v in plan.values()), "s")
    m["sources.scan_s"] = (sum(v[0] for v in scan.values()), "s")
    m["sources.scan_tasks"] = (sum(v[1] for v in scan.values()), "count")
    input_mb = c("input_bytes") / MIB
    m["sources.input_mb"] = (input_mb, "MiB")
    m["sources.rescan_factor"] = (input_mb / (res["input_bytes"] / MIB), "ratio")
    tokenize = sum(tok[s][0] - scan[s][0] for s in tok)
    m["functions.tokenize_s"] = (tokenize, "s")
    m["functions.tokens_per_s"] = (res["tokens"] * len(tok) / max(tokenize, 1e-3), "1/s")
    m["operators.aggregate_s"] = (sum(perkey[s][0] - tok[s][0] for s in perkey), "s")
    m["operators.sink_s"] = (sum(full[s][0] - perkey[s][0] for s in full), "s")

    def op_sum(key, builds=False):
        return median([sum(r[key] for r in p["ops"] if r["build"] == builds) for p in traced])

    m["operators.build_df_s"] = (op_sum("builder_s"), "s")
    m["operators.run_s"] = (op_sum("run_s"), "s")
    m["planner.plan_s"] = (op_sum("plan_s"), "s")
    builds_s = median([p["reset_s"] + sum(r["s"] for r in p["ops"] if r["build"]) for p in traced])
    m["builds.s"] = (builds_s, "s")
    m["builds.share"] = (builds_s / t_pass, "fraction")

    by_id = {s["id"]: s for s in spans}
    groups = list(_pass_spans(spans).values())
    kinds = ["write", "head", "collect", "checkpoint", "other"]
    n_ops = len(traced[0]["ops"]) if traced else 1

    def per_pass(f):
        return median([f(g) for g in groups]) if groups else 0.0

    m["exec.sql_executions"] = (per_pass(lambda g: sum(1 for s in g if s["kind"] == "sql")), "count")
    for k in kinds:
        m[f"exec.sql_executions.{k}"] = (
            per_pass(lambda g, k=k: sum(1 for s in g if s["kind"] == "sql" and s["action"] == k)), "count")
    m["exec.broadcasts"] = (per_pass(lambda g: sum(s["broadcasts"] for s in g if s["kind"] == "sql")), "count")
    m["driver.executions_per_op"] = (m["exec.sql_executions"][0] / n_ops, "count")

    m["driver.eager_executions"] = (per_pass(lambda g: eager_executions(g, by_id)), "count")

    def outside(g):
        ops = [s for s in g if s["kind"] in ("op", "build") and s["end_us"] >= s["start_us"]]
        ex = [s for s in g if s["kind"] == "sql" and s["end_us"] >= s["start_us"]]
        total = 0.0
        for o in ops:
            iv = [(s["start_us"], s["end_us"]) for s in ex]
            total += (o["end_us"] - o["start_us"] - covered(iv, o["start_us"], o["end_us"])) / 1e6
        return total
    m["driver.outside_exec_s"] = (per_pass(outside), "s")

    m["exec.jobs"] = (c("jobs"), "count")
    m["exec.stages"] = (c("stages"), "count")
    m["exec.tasks"] = (c("tasks"), "count")
    m["exec.executor_run_s"] = (c("executor_run_s"), "s")
    m["exec.gc_s"] = (c("gc_s"), "s")
    m["exec.shuffle_write_mb"] = (c("shuffle_write_bytes") / MIB, "MiB")
    m["exec.spill_mb"] = (c("spill_bytes") / MIB, "MiB")
    m["exec.busy_frac"] = (c("executor_run_s") / (t_pass * cores), "fraction")
    # the first pass is the run's JIT warm-up; it stays out of the overhead
    m["trace.overhead_s"] = (t_pass - median([p["pass_s"] for p in plain[1:] or plain]), "s")
    for when in ("start", "end"):
        st = res[f"stamps_{when}"]
        m[f"box.cpu_kernel_ms.{when}"] = (st["cpu_kernel_ms"], "ms")
        m[f"box.empty_job_ms.{when}"] = (st["empty_job_ms"], "ms")
    return m


def self_time_by_kind(spans):
    """Summed self time per span kind (pass, op, builder, plan, write,
    sql, ...), for the run's artifact."""
    st = self_times(spans)
    out = {}
    for s in spans:
        if s["id"] in st:
            out[s["kind"]] = out.get(s["kind"], 0.0) + st[s["id"]]
    return out
