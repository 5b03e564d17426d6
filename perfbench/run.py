#!/usr/bin/env python3
"""graft benchmark: one command, one workload, one JSON line.

    python3 perfbench/run.py --workload wordcount|registry --seed N \\
        --seconds S --trace 0|1

Run from the repository root. The first run builds graft and the runner
with sbt into ``perfbench/target`` (classpath cached in ``.bench_build``),
generates the workload's inputs from the seed under ``.bench_build/runs``,
runs one JVM with one local SparkSession on every core, checks the
outputs and prints, as the last stdout line,
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer ones with ``--trace 1``. Everything
else goes to stderr; the raw timings and spans of each run are kept in
``.bench_build/artifacts``. See ``perfbench/NOTES.md``.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170

# The paper's query over a seeded corpus, through both scan paths.
CORPUS = dict(n_files=32, total_bytes=12 << 20, vocab_size=50_000)
# The registry mix over one snapshot of the ten tables: the dedup memo
# builds (charged as their own ops; `build:components` is an iterative
# label-propagation loop with a checkpoint per round), a memo consumer,
# word counts and a text re-scan over `documents`, and short TPC-H and
# events plans whose fixed cost per query dominates.
REGISTRY_SF = 0.01
REGISTRY_OPS = [
    "build:minhash_pairs", "build:components", "q_dedup_clusters",
    "wc_per_doc", "q_text_tfidf",
    "q1_pricing", "q6_forecast_revenue", "q_events_hourly",
]

# Warm-up passes over the real inputs, part of the set-up: the word
# count's few hot loops settle after one; the registry's many short plans
# keep getting faster for three (measured on 4 cores).
WORKLOADS = {
    "wordcount": dict(ops=["wc_text", "wc_lines"], warm_passes=1),
    "registry": dict(ops=REGISTRY_OPS, warm_passes=3),
}

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def fail(msg, code=1):
    log("error:", msg)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def source_fingerprint():
    """Paths, sizes and mtimes of every file the build reads."""
    files = [os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += [os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs]
    h = hashlib.sha256()
    for p in sorted(files):
        st = os.stat(p)
        h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath(env):
    """Build graft and the runner unless the cached classpath is current."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources not found under src/main/scala; run from a full checkout", 2)
    stamp = os.path.join(BUILD, "classpath.json")
    fp = source_fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    log("building graft and the runner with sbt ...")
    t0 = time.time()
    r = subprocess.run(["sbt", "-batch", "-J-XX:-UsePerfData",
                        "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": lines[-1]}, fh)
    log(f"built in {time.time() - t0:.0f}s")
    return lines[-1]


def make_inputs(workload, seed, work):
    """Generate the run's inputs; returns their directory and, for the
    word count, the expected per-file counts."""
    data = os.path.join(work, "data")
    if workload == "wordcount":
        return data, gen.write_corpus(data, seed, **CORPUS)
    gen.write_tables(data, seed, REGISTRY_SF)
    return data, None


def run_jvm(cp, wl, data, work, args, cores, env, deadline):
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"]
           + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Runner",
              "--workload", args.workload, "--data", data, "--work", work,
              "--ops", ",".join(wl["ops"]), "--warm-passes", str(wl["warm_passes"]),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores)])
    os.makedirs(f"{work}/tmp", exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail("runner timed out")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0:
        fail(f"runner exited with {rc}")
    with open(os.path.join(work, "result.json")) as fh:
        res = json.load(fh)
    spans = []
    if args.trace:
        with open(os.path.join(work, "spans.json")) as fh:
            spans = json.load(fh)
    return res, spans


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]

    env = dict(os.environ, SPARK_HOME=spark_home())
    cp = classpath(env)
    deadline = time.time() + DEADLINE_S  # the run's own budget starts after any build
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    data, expected = make_inputs(args.workload, args.seed, work)
    log(f"inputs generated in {time.time() - t0:.1f}s")

    t0 = time.time()
    res, spans = run_jvm(cp, wl, data, work, args, cores, env, deadline)
    log(f"runner done in {time.time() - t0:.1f}s")
    t0 = time.time()

    # ---- correctness, outside every timed region ----
    if args.workload == "wordcount":
        check_ok = {}
        for op in wl["ops"]:
            problems = checks.check_final_output(os.path.join(work, "out", op), expected)
            check_ok[op] = not problems
            for p in problems[:5]:
                log(f"check {op}: {p}")
    else:
        verdict = checks.check_registry(data, os.path.join(work, "out"), res["oracle"],
                                        wl["ops"])
        check_ok = {op: not v for op, v in verdict.items()}
        for op, v in sorted(verdict.items()):
            if v:
                log(f"check {op}: {v}")
    log(f"checks done in {time.time() - t0:.1f}s")
    attempted, failed, bad = metrics.count_failures(wl["ops"], res["passes"], check_ok)
    if bad:
        log("failed ops:", ", ".join(bad))

    if args.trace:
        m = metrics.per_layer(res, spans)
    else:
        m = metrics.end_to_end(res, args.workload, 1.0 - failed / attempted)

    # ---- artifact: raw timings, spans and self times; inputs dropped ----
    art = os.path.join(BUILD, "artifacts")
    os.makedirs(art, exist_ok=True)
    with open(os.path.join(art, f"{args.workload}-{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed, "result": res,
                   "failed_ops": bad, "metrics": m,
                   "self_s_by_kind": metrics.self_time_by_kind(spans) if spans else {},
                   "spans": spans}, fh)
    shutil.rmtree(work, ignore_errors=True)

    for k, (v, unit) in m.items():
        log(f"{k:34s} {v:14.6f} {unit}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}))


if __name__ == "__main__":
    main()
