#!/usr/bin/env python3
"""Layered benchmark of the graft query library.

    python3 perfbench/run.py --workload floor --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the library and the
harness with sbt (offline); later runs reuse the build while the sources
are unchanged. One run starts one JVM, which runs the workload's queries
in a closed loop with one query in flight (see Harness.scala for the
passes). The last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics when --trace is 0 and the per-layer metrics
when it is 1 (names, units and reasons are in BENCHMARK.json). The full
record of a run, with per-query numbers, the stamp and (traced) the spans,
goes to perfbench/.results/.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, ".build")
RESULTS_DIR = os.path.join(HERE, ".results")
WORK_DIR = os.path.join(HERE, ".work")
DATA_DIR = os.path.join(HERE, "data")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "4g"

# The flags sbt's `run` passes to a forked Spark JVM (build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def load_workloads():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def source_files():
    """The files a build depends on, relative to the checkout root."""
    out = []
    for top in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"):
        p = os.path.join(ROOT, top)
        if os.path.isfile(p):
            out.append(top)
        for d, _, files in os.walk(p):
            out.extend(os.path.relpath(os.path.join(d, f), ROOT) for f in files)
    return sorted(out)


def source_hash(files):
    h = hashlib.sha1()
    for rel in files:
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha1(f.read()).digest())
    return h.hexdigest()


def git_rev():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def check_sources():
    """Exit non-zero when the checkout holds no library to build."""
    for rel in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                "perfbench/build.sbt", "perfbench/workloads.json"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            fail("missing %s: run from the root of a graft checkout" % rel)


def build(files, src_hash):
    """Compile the library and the harness; return the runtime classpath."""
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == src_hash:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building (%d source files)" % len(files), file=sys.stderr)
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [l for l in r.stdout.splitlines() if "scala-2.13/classes" in l and ":" in l]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed (sbt exit %d)" % r.returncode)
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(src_hash)
    return lines[-1].strip()


def injected_confs():
    """Extra session confs from SPARK_GRAFT_CONF ("k=v;k=v"), as BenchSlice
    reads them. They are applied and flagged in the result."""
    out = {}
    for kv in os.environ.get("SPARK_GRAFT_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            out[k.strip()] = v.strip()
    return out


def run_harness(classpath, plan, timeout=RUN_TIMEOUT_S):
    """Run one harness JVM on `plan`; return its result record."""
    work = plan["work_dir"]
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    plan_file = os.path.join(work, "plan.json")
    with open(plan_file, "w") as f:
        json.dump(plan, f)
    cmd = (["java", "-Xmx" + HEAP, "-Xms" + HEAP, "-XX:+UseG1GC",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Harness", plan_file])
    log_path = os.path.join(work, "harness.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        fail("harness exited with %s" % rc)
    with open(plan["out"]) as f:
        return json.load(f)


def pick_queries(workload, spec, seed):
    """The workload's queries for `seed`, in the order they run."""
    rng = random.Random("%s:%d" % (workload, seed))
    if "pool" in spec:
        qs = [q["name"] for q in stats.stratified_pick(
            spec["pool"], lambda q: (q["cost_s"], q["name"]),
            spec["size"], rng)]
    else:
        qs = list(spec["queries"])
    rng.shuffle(qs)
    return qs


def result_path(workload, seed, trace):
    return os.path.join(RESULTS_DIR, "%s-seed%d-trace%d.json" % (workload, seed, trace))


def expected_fingerprints(sf, cpus):
    p = os.path.join(HERE, "expected", "%s-c%d.json" % (sf, cpus))
    if not os.path.isfile(p):
        return None
    with open(p) as f:
        return json.load(f)


def declared_s(q):
    return q["construct_s"] + q["exec_s"]


def check(record, expected):
    """Attempted and failed query executions, and one line per failure.
    A failure is a query that raised, a count() that differs from the
    declared output's row count observed in the warm-up, a fingerprint
    (warm-up, or the reload over the warm-up's artifacts) that differs from
    the one recorded for this commit at the same sf and cpus or, on reload,
    from the warm-up's, or a SQL execution that failed without any query
    of its pass raising (the library caught it)."""
    attempted, problems = 0, []
    rows, prints = {}, {}
    # the warm-up first: it observes the row counts and fingerprints the
    # other passes match
    for name, p in sorted(record["passes"].items(), key=lambda kv: kv[0] != "warmup"):
        raised = 0
        for q in p["queries"]:
            attempted += 1
            tag = "%s %s" % (name, q["query"])
            if not q["ok"]:
                raised += 1
                problems.append("%s raised: %s" % (tag, q["error"]))
            elif "fingerprint" in q:
                rows.setdefault(q["query"], q["rows"])
                first = prints.setdefault(q["query"], q["fingerprint"])
                want = (expected or {}).get(q["query"])
                if want is not None and q["fingerprint"] != want:
                    problems.append("%s: fingerprint %s, recorded %s"
                                    % (tag, q["fingerprint"], want))
                elif q["fingerprint"] != first:
                    problems.append("%s: fingerprint %s, warm-up %s"
                                    % (tag, q["fingerprint"], first))
            elif "count" in q and q["query"] in rows and q["count"] != rows[q["query"]]:
                problems.append("%s: count() %d, declared output %d rows"
                                % (tag, q["count"], rows[q["query"]]))
        # a query that raised may account for a failed SQL execution; the
        # rest were caught inside the library and count on their own
        sql = p["sql_failures"]
        for f in sql[:max(0, len(sql) - raised)]:
            problems.append("%s: SQL execution failed and was caught: %s" % (name, f))
    return attempted, problems


def spark_sum(queries, key, phases=("construct", "execute")):
    return sum(q["spark"].get(ph, {}).get(key, 0) for q in queries for ph in phases)


def passes(record, kind, traced=False):
    """The query lists of the `kind` ("cold" or "warm") pass of each round
    that is (or is not) traced."""
    return [record["passes"]["%s%d" % (kind, i + 1)]["queries"]
            for i, t in enumerate(record["round_traced"]) if t == traced]


def per_query(record, kind, value, traced=False):
    """Each query's median `value` over the matching rounds' `kind` passes."""
    vals = {}
    for qs in passes(record, kind, traced):
        for q in qs:
            if q["ok"]:
                vals.setdefault(q["query"], []).append(value(q))
    return [stats.median(v) for v in vals.values()]


def end_to_end(record):
    full = per_query(record, "cold", declared_s)
    return {
        "setup_s": (record["setup_s"], "s"),
        "full_s": (sum(full), "s"),
        "count_s": (sum(per_query(record, "cold", lambda q: q["construct_s"] + q["count_s"])),
                    "s"),
        "artifact_warm_s": (sum(per_query(record, "warm", declared_s)), "s"),
    }


def percentiles(record):
    """Per-query declared-output percentiles. Printed and recorded, not in
    the result line: over 7 to 10 queries they spread 22-25% across seeds,
    too wide to carry a bound."""
    full = per_query(record, "cold", declared_s)
    return {"full_p50_s": (stats.percentile(full, 50), "s"),
            "full_p90_s": (stats.percentile(full, 90), "s")}


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def per_layer(record, store_bytes):
    """Per-layer metrics from the traced round of a traced run. Planning
    (plan_s) runs inside the noop write, so exec_s is the write less its
    Catalyst phases. The tracing overhead compares the traced round's cold
    pass wall time with the mean of the untraced rounds just before and
    after it in the same JVM, one colder and one warmer; the first round,
    still JIT-warming, is left out."""
    cpus = record["cpus"]
    r = record["round_traced"].index(True) + 1
    cold = [q for q in record["passes"]["cold%d" % r]["queries"] if q["ok"]]
    warm = [q for q in record["passes"]["warm%d" % r]["queries"] if q["ok"]]
    walls = [record["passes"]["cold%d" % i]["wall_s"] for i in (r - 1, r + 1)]
    construct = sum(q["construct_s"] for q in cold)
    plan_s = sum(q["plan_s"] for q in cold)
    write_s = sum(q["exec_s"] for q in cold)
    run_s = spark_sum(cold, "task_run_ms") / 1e3
    phase = lambda k: sum(q["phases_ms"].get(k, 0) for q in cold)
    builds = [a for q in cold for a in q["artifacts"] if a["kind"] == "build"]
    loads = [a for q in warm for a in q["artifacts"] if a["kind"] == "load"]
    spans = [s for s in record["spans"] if s["pass"] == "cold%d" % r]
    cover = stats.coverage(spans)
    selfs = stats.self_times(spans)
    busy = construct + write_s
    m = {
        "heap_peak_mb": (record["passes"]["cold%d" % r]["heap_peak_bytes"] / 2 ** 20, "MB"),
        "construct_s": (construct, "s"),
        "construct_jobs": (spark_sum(cold, "jobs", ("construct",)), "count"),
        "plan_s": (plan_s, "s"),
        "analysis_ms": (phase("analysis"), "ms"),
        "optimization_ms": (phase("optimization"), "ms"),
        "planning_ms": (phase("planning"), "ms"),
        "optimized_nodes": (sum(q["optimized_nodes"] for q in cold), "count"),
        "exec_s": (write_s - plan_s, "s"),
        "jobs": (spark_sum(cold, "jobs"), "count"),
        "stages": (spark_sum(cold, "stages"), "count"),
        "tasks": (spark_sum(cold, "tasks"), "count"),
        "task_run_s": (run_s, "s"),
        "core_idle_ratio": (1 - run_s / (busy * cpus) if busy > 0 else 0.0, "ratio"),
        "task_cpu_s": (spark_sum(cold, "task_cpu_ns") / 1e9, "s"),
        "gc_s": (spark_sum(cold, "gc_ms") / 1e3, "s"),
        "shuffle_write_bytes": (spark_sum(cold, "shuffle_write_bytes"), "bytes"),
        "shuffle_read_bytes": (spark_sum(cold, "shuffle_read_bytes"), "bytes"),
        "spill_bytes": (spark_sum(cold, "spill_bytes"), "bytes"),
        "peak_exec_mem_bytes": (max([q["spark"].get(ph, {}).get("peak_exec_mem_bytes", 0)
                                     for q in cold for ph in ("construct", "execute")],
                                    default=0), "bytes"),
        "failed_tasks": (spark_sum(cold, "failed_tasks", ("construct", "execute", "count")),
                         "count"),
        "input_bytes": (spark_sum(cold, "input_bytes"), "bytes"),
        "input_records": (spark_sum(cold, "input_records"), "count"),
        "kernel_task_cpu_s": (spark_sum([q for q in cold if q["kernel"]], "task_cpu_ns")
                              / 1e9, "s"),
        "artifact_builds": (len(builds), "count"),
        "artifact_build_s": (sum(a["s"] for a in builds), "s"),
        "artifact_loads": (len(loads), "count"),
        "artifact_load_s": (sum(a["s"] for a in loads), "s"),
        "artifact_store_bytes": (store_bytes, "bytes"),
        "query_self_s": (sum(selfs[s["id"]] for s in spans if s["parent"] == -1) / 1e9, "s"),
        "span_coverage_min": (min(cover.values(), default=1.0), "ratio"),
        "trace_overhead_ratio": (record["passes"]["cold%d" % r]["wall_s"] * len(walls) / sum(walls) - 1,
                                 "ratio"),
    }
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    check_sources()
    workloads = load_workloads()
    if args.workload not in workloads:
        fail("unknown workload %r (have %s)" % (args.workload, ", ".join(workloads)))
    spec = workloads[args.workload]
    sf_dir = os.path.join(DATA_DIR, spec["sf"])
    if not os.path.isdir(sf_dir):
        fail("missing data directory " + sf_dir)

    files = source_files()
    src_hash = source_hash(files)
    classpath = build(files, src_hash)

    cpus = len(os.sched_getaffinity(0))
    queries = pick_queries(args.workload, spec, args.seed)
    confs = injected_confs()
    for k, v in confs.items():
        print("perfbench: SPARK_GRAFT_CONF applied: %s=%s" % (k, v), file=sys.stderr)
    os.makedirs(RESULTS_DIR, exist_ok=True)

    # a traced run brackets its traced round with untraced ones, after a
    # first round that is still JIT-warming
    work = os.path.join(WORK_DIR, "%s-seed%d-trace%d-%d"
                        % (args.workload, args.seed, args.trace, os.getpid()))
    plan = {"workload": args.workload, "sf_dir": sf_dir, "cpus": cpus,
            "queries": queries, "work_dir": work,
            "out": os.path.join(work, "result.json"), "confs": confs,
            "round_traced": [False, False, True, False] if args.trace
            else [False] * spec["rounds"]}
    try:
        record = run_harness(classpath, plan)
        # the store the traced round's cold pass wrote
        store_bytes = dir_bytes(os.path.join(
            work, "store-cold%d" % (plan["round_traced"].index(True) + 1))) if args.trace else 0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    expected = expected_fingerprints(spec["sf"], cpus)
    attempted, problems = check(record, expected)
    for p in problems:
        print("perfbench: FAILED " + p, file=sys.stderr)
    # caught SQL failures are not tied to one execution; never report
    # more failed executions than were attempted
    failed = min(len(problems), attempted)
    metrics = per_layer(record, store_bytes) if args.trace else end_to_end(record)
    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": spec["sf"], "cpus": cpus, "git_rev": git_rev(),
        "source_sha1": src_hash, "jvm": record["jvm"], "spark": record["spark"],
        "max_heap_bytes": record["max_heap_bytes"],
        "session_confs": record["session_confs"],
        "injected_conf": confs, "conf_injected": bool(confs),
        "fingerprints_checked": expected is not None,
        "queries": len(queries),
    }
    extra = percentiles(record)
    summary = {
        "failed_ratio": failed / attempted,
        "percentiles": {k: v for k, (v, _) in extra.items()},
        "failures": problems,
        "samples": len(per_query(record, "cold", declared_s)),
        "rounds": len(plan["round_traced"]),
        "sql_failures": [f for p in record["passes"].values() for f in p["sql_failures"]],
    }
    with open(result_path(args.workload, args.seed, args.trace), "w") as f:
        json.dump({"stamp": stamp, "summary": summary,
                   "metrics": {k: v for k, (v, _) in metrics.items()},
                   "record": record}, f)

    for k, (v, unit) in metrics.items():
        print("%-22s %14.6g %s" % (k, v, unit))
    for k, (v, unit) in extra.items():
        print("%-22s %14.6g %s (%d queries)" % (k, v, unit, summary["samples"]))
    print("%-22s %14.6g ratio (%d of %d executions)"
          % ("failed_ratio", summary["failed_ratio"], failed, attempted))
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
