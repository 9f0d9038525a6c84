#!/usr/bin/env python3
"""Survey the whole query surface at one scale factor, once.

    python3 perfbench/survey.py sf0.001

Runs every declared query through the harness's warm-up (checked,
fingerprinted) and one timed pass in which each query pays its own
artifact builds. Writes perfbench/survey/<sf>-c<cpus>.json with, per
query, its declared-output time, its phases, the artifact keys it uses and
its fingerprint. derive.py derives workloads.json and the recorded
fingerprints from these files.
"""
import json
import os
import shutil
import subprocess
import sys

import run

def main():
    sf = sys.argv[1]
    run.check_sources()
    files = run.source_files()
    classpath = run.build(files, run.source_hash(files))
    names = subprocess.run(
        ["java", "-cp", classpath, "graft.tools.BenchSlice", "--list"],
        capture_output=True, text=True, check=True).stdout.split()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(run.WORK_DIR, "survey-%s" % sf)
    plan = {"workload": "survey", "sf_dir": os.path.join(run.DATA_DIR, sf), "cpus": cpus,
            "queries": names, "work_dir": work,
            "out": os.path.join(work, "result.json"), "confs": {}, "survey": True,
            "round_traced": []}
    try:
        record = run.run_harness(classpath, plan, timeout=3 * 3600)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    warm = {q["query"]: q for q in record["passes"]["warmup"]["queries"]}
    out = {}
    for q in record["passes"]["cold"]["queries"]:
        w = warm[q["query"]]
        out[q["query"]] = {
            "ok": q["ok"] and w["ok"],
            "error": q.get("error") or w.get("error"),
            "declared_s": run.declared_s(q) if q["ok"] else None,
            "construct_s": q.get("construct_s"),
            "exec_s": q.get("exec_s"),
            "count_s": q.get("count_s"),
            "artifacts": sorted({a["key"] for a in q["artifacts"] + w["artifacts"]}),
            "rows": w.get("rows"),
            "count": w.get("count"),
            "fingerprint": w.get("fingerprint"),
            "construct_jobs": q["spark"].get("construct", {}).get("jobs", 0) if q["ok"] else None,
        }
    os.makedirs(os.path.join(run.HERE, "survey"), exist_ok=True)
    path = os.path.join(run.HERE, "survey", "%s-c%d.json" % (sf, cpus))
    with open(path, "w") as f:
        json.dump({"sf": sf, "cpus": cpus, "source_sha1": run.source_hash(files),
                   "setup_s": record["setup_s"], "queries": out}, f, indent=1, sort_keys=True)
    bad = [k for k, v in out.items() if not v["ok"]]
    print("%s: %d queries, %d failed %s" % (path, len(out), len(bad), bad))


if __name__ == "__main__":
    main()
