#!/usr/bin/env python3
"""Write perfbench/BASELINE.md from the run records of one seed.

    python3 perfbench/run.py --workload <w> --seed 1 --trace 0   # each workload
    python3 perfbench/run.py --workload <w> --seed 1 --trace 1   # each workload
    python3 perfbench/baseline.py 1

Tabulates, per workload, the end-to-end metrics of the untraced run and
the per-layer metrics of the traced run, then the floor per-query
decomposition, the artifacts list with how it was chosen, and the heavy
list that the benchmark does not run.
"""
import json
import os
import sys

import run

WORKLOADS = ("floor", "artifacts")

# A third workload, heavy, that the run budget leaves out (it holds two):
# its frozen list and how it was chosen.
HEAVY = [
    "## heavy: the frozen list (not run)",
    "",
    "Chosen from a full-surface survey at sf0.1 on 4 cpus: per shape, the",
    "artifact-free query with the most noop-write execution seconds that fits a",
    "ten-second pass. The benchmark does not run it: with three workloads the",
    "run budget leaves about 42 s a run, too little for medians over rounds, so",
    "the benchmark carries no sf0.1 tables.",
    "",
    "| query | shape | survey exec_s |",
    "| --- | --- | --- |",
    "| agg_repeat_purchase | wide aggregation shuffle over orders and lineitem | 2.68 |",
    "| llm_quality_repetition | graft.functions text kernels over every document | 1.735 |",
    "| llm_pii_redact | regular-expression rewriting of every document | 1.546 |",
]


def load(workload, seed, trace):
    with open(run.result_path(workload, seed, trace)) as f:
        return json.load(f)


def traced_pass(result, kind):
    """The queries of the traced round's `kind` pass."""
    rec = result["record"]
    return rec["passes"]["%s%d" % (kind, rec["round_traced"].index(True) + 1)]["queries"]


def fmt(v):
    if isinstance(v, float):
        return "%.4g" % v
    return str(v)


def table(header, rows):
    out = ["| " + " | ".join(header) + " |", "|" + " --- |" * len(header)]
    out += ["| " + " | ".join(fmt(c) for c in r) + " |" for r in rows]
    return out


def main():
    seed = int(sys.argv[1])
    untraced = {w: load(w, seed, 0) for w in WORKLOADS}
    traced = {w: load(w, seed, 1) for w in WORKLOADS}
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    specs = run.load_workloads()
    stamp = traced["floor"]["stamp"]
    lines = [
        "# perfbench baseline",
        "",
        "Recorded with `perfbench/baseline.py %d` from one untraced and one traced" % seed,
        "run per workload, seed %d, at git rev `%s` (source sha1 `%s`)."
        % (seed, stamp["git_rev"], stamp["source_sha1"]),
        "Machine: %d cpus, %s, Spark %s, heap %d MiB."
        % (stamp["cpus"], stamp["jvm"], stamp["spark"], stamp["max_heap_bytes"] >> 20),
        "One run is one JVM; each number is one run (per-query medians over its",
        "rounds), so read the tables as a profile.",
        "",
        "## End-to-end (untraced run)",
        "",
    ]
    lines += table(["metric", "unit"] + list(WORKLOADS),
                   [[m["name"], m["unit"]] + [untraced[w]["metrics"][m["name"]] for w in WORKLOADS]
                    for m in bench["end_to_end"]])
    lines += ["", "Per-query percentiles (printed, not in the result line):", ""]
    lines += table(["metric", "unit"] + list(WORKLOADS),
                   [[k, "s"] + [untraced[w]["summary"]["percentiles"][k] for w in WORKLOADS]
                    for k in ("full_p50_s", "full_p90_s")])
    lines += ["", "Failed ratio: " + ", ".join(
        "%s %s" % (w, fmt(untraced[w]["summary"]["failed_ratio"])) for w in WORKLOADS)
        + ". Percentiles are over %s per-query medians of %s rounds." % (
        "/".join(str(untraced[w]["summary"]["samples"]) for w in WORKLOADS),
        "/".join(str(untraced[w]["summary"]["rounds"]) for w in WORKLOADS))]
    lines += ["", "## Per layer (traced run)", ""]
    lines += table(["metric", "unit"] + list(WORKLOADS),
                   [[m["name"], m["unit"]] + [traced[w]["metrics"][m["name"]] for w in WORKLOADS]
                    for m in bench["per_layer"]])

    lines += ["", "## floor: per-query decomposition (traced round, cold pass)", "",
              "Seconds per call (exec_s is the noop write less its planning, plan_s);",
              "jobs are those the call started.", ""]
    rows = []
    for q in traced_pass(traced["floor"], "cold"):
        sp = q["spark"]
        rows.append([q["query"], q["construct_s"], q["plan_s"], q["exec_s"] - q["plan_s"],
                     q["count_s"],
                     sp["construct"]["jobs"], sp["execute"]["jobs"], sp["execute"]["tasks"],
                     q["optimized_nodes"]])
    lines += table(["query", "construct_s", "plan_s", "exec_s", "count_s", "construct jobs",
                    "exec jobs", "exec tasks", "optimized nodes"], rows)
    tot = [sum(r[i] for r in rows) for i in range(1, 9)]
    lines += ["", "Totals: construct %.3f s, plan %.3f s, execute %.3f s, count %.3f s; "
              "%d construction jobs, %d execution jobs." % tuple(tot[:6])]

    art = specs["artifacts"]
    lines += ["", "## artifacts: the consumers", "", art["chosen_by"] + ":", ""]
    lines += table(["query", "artifact keys"],
                   [[q, ", ".join(art["keys"][q])] for q in art["queries"]])
    lines += ["", "Artifact actions in the traced run (pass, query, key, kind, seconds):", ""]
    rows = [[p, q["query"], a["key"], a["kind"], a["s"]]
            for p in ("cold", "warm")
            for q in traced_pass(traced["artifacts"], p) for a in q["artifacts"]]
    lines += table(["pass", "query", "key", "kind", "s"], rows)
    lines += [""] + HEAVY
    with open(os.path.join(run.HERE, "BASELINE.md"), "w") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
