#!/usr/bin/env python3
"""The repository benchmark: one command per workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the engine and the
harness from source with sbt (once per source state; later runs reuse
the build), generates the workload's inputs from the seed, runs the
workload in one JVM on `local[N]` with N = the machine's cores, checks
every output in DuckDB, and prints one JSON object as the last line of
standard output. With `--trace 0` it reports the end-to-end metrics;
with `--trace 1` it reports the per-layer metrics and writes the spans
and the per-layer table under `.bench_build/perfbench/traces/`.

Workloads:
  olhovivo-day  the reference's daily job: EP2 flattens a day of poll
                JSON into positions, EP3 writes speeds, slow points and
                accessibility CSVs
  query-mix     one query per LLM-corpus operator layer plus small,
                fixed-cost-dominated queries of other query families
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DEADLINE_S = 170          # the whole run, build excluded

WORKLOADS = {
    "olhovivo-day": {"vehicles": 45},
    "query-mix": {"sf": 0.001},
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def wait_group(proc, timeout):
    """Waits for a child started in its own session; on timeout kills its
    whole process group and returns None."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def fingerprint():
    """Hash of every build input: the engine's and the harness's sources
    and build definitions."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles the engine and the harness; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("run from the root of a checkout: no engine sources (build.sbt, src/main/scala)")
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "classpath.json")
    fp = fingerprint()
    if os.path.isfile(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true -Xmx2g")
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        code = wait_group(subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True), 840)
    with open(log_path) as f:
        lines = [l.strip() for l in f if l.strip() and not l.startswith("[")]
    if code != 0 or not lines:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        die("build failed")
    cp = lines[-1]
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp


def generate(workload, seed, work):
    """Generates the inputs into `in`. Returns the generation seconds and
    the number of EP2 rows the day must yield."""
    conf = WORKLOADS[workload]
    into = os.path.join(work, "in")
    t0 = time.perf_counter()
    if workload == "olhovivo-day":
        fixes = gen.olhovivo_day(into, conf["vehicles"], seed)
    else:
        fixes = None
        gen.tables(into, conf["sf"], seed)
    return time.perf_counter() - t0, fixes


def run_jvm(cp, args, work, budget):
    log_path = os.path.join(work, "jvm.log")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    with open(log_path, "w") as log:
        code = wait_group(subprocess.Popen(
            cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True), budget)
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        die("the run timed out" if code is None else f"the run failed with exit code {code}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def end_to_end(res, gen_s):
    """The end-to-end metrics: set-up, and medians over the timed passes
    of the pass wall time and of each stage's share of it."""
    passes = res["passes"]
    if not passes or any(not p["ops"] for p in passes):
        die("no timed pass completed")

    def stage(p, k):
        return sum(secs for (_, _, st, secs) in p["ops"] if st == k)

    return {
        "setup_s": (gen_s + res["setup_s"], "s"),
        "wall_s": (statistics.median(p["wall_s"] for p in passes), "s"),
        "stage1_s": (statistics.median(stage(p, 1) for p in passes), "s"),
        "stage2_s": (statistics.median(stage(p, 2) for p in passes), "s"),
        "retained_heap_mb": (res["heap_mb"], "MB"),
    }


PER_PASS = [("plan_s", "Driver.plan_s", "s"), ("construct_s", "Driver.construct_s", "s"),
            ("driver_gap_s", "Driver.gap_s", "s"), ("jobs", "Spark.jobs", "count"),
            ("tasks", "Spark.tasks", "count"), ("task_s", "Spark.task_s", "s"),
            ("task_max_s", "Spark.task_max_s", "s"), ("shuffle_mb", "Spark.shuffle_mb", "MB"),
            ("spill_mb", "Spark.spill_mb", "MB"), ("gc_s", "Spark.gc_s", "s")]


def per_layer(res):
    """The per-layer metrics: medians over the traced passes of the
    whole pass's figures, plus what tracing itself cost."""
    traced, untraced = res["passes"], res["untraced_passes"]
    layer_passes = res["layers"]["passes"]
    metrics = {"GraftSession.local.wall_s": (res["session_s"], "s")}
    for key, name, unit in PER_PASS:
        metrics[name] = (statistics.median(p[key] for p in layer_passes), unit)
    metrics["Caching.residue"] = (
        statistics.median(p["cached_residue"] for p in traced), "count")
    metrics["Checkpoints.residue"] = (
        statistics.median(p["persistent_residue"] for p in traced), "count")
    metrics["Trace.overhead_s"] = (
        statistics.median(p["wall_s"] for p in traced)
        - statistics.median(p["wall_s"] for p in untraced), "s")
    metrics["Trace.extra_jobs"] = (
        statistics.median(p["jobs"] for p in traced)
        - statistics.median(p["jobs"] for p in untraced), "count")
    return metrics


def verify(workload, res, fixes):
    v = res["verify"]
    if v["kind"] == "day":
        failures = [f"{n}: verification run failed" for n in v["failed"]]
        if not v["failed"]:
            failures += check.day(v["base"], v["day"], fixes)
        failures += [f"EP2 timed pass: {p['rows']} rows, generated {fixes}"
                     for p in res["passes"] + res["untraced_passes"] if p["rows"] != fixes]
        return failures, {"day_checks_failed": len(failures)}
    with open(os.path.join(v["dir"], "oracle_sql.json")) as f:
        oracle = json.load(f)
    failures, verified, skipped = check.queries(v["data"], v["dir"], oracle, v["names"])
    return failures, {"verified_queries": verified, "no_oracle": skipped}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = build()
    t_start = time.monotonic()
    work = os.path.join(BUILD, f"work-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        gen_s, fixes = generate(a.workload, a.seed, work)
        budget = DEADLINE_S - 25 - (time.monotonic() - t_start)
        # the JVM starts no optional pass that would end later than this,
        # leaving time for the heap collection, the check and the report
        deadline_ms = int((time.time() + budget - 20) * 1000)
        res = run_jvm(cp, [a.workload, str(a.seed), str(a.seconds), str(a.trace), work,
                           str(deadline_ms)], work, budget)
        failures, notes = verify(a.workload, res, fixes)
        for f in res["errors"] + failures:
            print(f"FAIL {f}")
        failed = res["failed"] + len(failures)
        attempted = res["attempted"]
        if a.trace:
            metrics = per_layer(res)
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            name = os.path.join(traces, f"{a.workload}-seed{a.seed}")
            with open(name + ".layers.json", "w") as f:
                json.dump(res["layers"], f, indent=1)
            shutil.copyfile(os.path.join(work, "spans.json"), name + ".spans.json")
            for layer, row in res["layers"]["rows"].items():
                print(f"layer {layer}: " + " ".join(
                    f"{k}={v:.4g}" for k, v in row.items()))
            print(f"decisions: {res['layers']['decisions']}")
        else:
            metrics = end_to_end(res, gen_s)
            per_op = {}
            for p in res["passes"]:
                for name, _, _, secs in p["ops"]:
                    per_op.setdefault(name, []).append(secs)
            medians = {n: statistics.median(s) for n, s in per_op.items()}
            for name, m in sorted(medians.items(), key=lambda kv: -kv[1]):
                print(f"op {name}: median {m:.3f} s of {len(per_op[name])}")
            notes["passes"] = len(res["passes"])
            if fixes:
                notes["ep2_s"] = medians.get("EP2")
                notes["ep3_s"] = medians.get("EP3")
                notes["positions_per_s"] = fixes / metrics["wall_s"][0]
            else:
                qs = sorted(medians.values())
                notes["query_p50_s"] = statistics.median(qs)
                notes["query_p90_s"] = statistics.quantiles(qs, n=10)[-1] if len(qs) > 1 else qs[0]
                notes["query_samples"] = len(qs)
        notes["setup_parts_s"] = {"generate": gen_s, "session": res["session_s"],
                                  "prepare": res["prepare_s"], "warmup": res["warmup_s"]}
        notes["nproc"] = os.cpu_count()
        notes["failed_frac"] = failed / attempted
        print("notes: " + json.dumps(notes))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
