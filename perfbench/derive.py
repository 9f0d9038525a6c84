#!/usr/bin/env python3
"""Derive workloads.json and the recorded fingerprints from the surveys.

    python3 perfbench/derive.py

Reads perfbench/survey/<sf>-c<cpus>.json (written by survey.py) and
writes:
  - perfbench/workloads.json: the floor pool with its recorded costs and
    the artifacts list, each with how it was chosen;
  - perfbench/expected/<sf>-c<cpus>.json: the fingerprint of every query a
    workload can run at that sf, as this commit produces it.
"""
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
CPUS = 4
FLOOR_SF, FLOOR_SIZE, FLOOR_ROUNDS = "sf0.001", 10, 3
# The costliest tenth of the artifact-free queries does real work even at
# sf0.001; a sample of 10 would swing with whether it drew one of them.
FLOOR_POOL_SHARE = 0.9
ARTIFACT_SF, ARTIFACT_ROUNDS = "sf0.001", 2
ARTIFACT_KEYS = ["ann.index", "ann.angles", "pairs.near", "pairs.simhash",
                 "pairs.minhash_lsh", "tokens.unigram", "tokens.docfreq",
                 "cluster.labels"]
# The cheapest consumers that cover all eight keys, with a second consumer
# of ann.index and of pairs.near so that a build is reused within a pass.
ARTIFACT_QUERIES = [
    "llm_ann_recall", "llm_ann_ivf",             # ann.index (+ ann.angles)
    "llm_dedup_lsh_recall", "llm_jaccard_hist",  # pairs.near (+ pairs.minhash_lsh)
    "llm_dedup_cluster",                         # pairs.simhash, cluster.labels
    "llm_idf_drift",                             # tokens.docfreq
    "llm_honore_r",                              # tokens.unigram
]


def survey(sf):
    with open(os.path.join(HERE, "survey", "%s-c%d.json" % (sf, CPUS))) as f:
        return json.load(f)["queries"]


def main():
    floor_s = survey(FLOOR_SF)
    art_s = survey(ARTIFACT_SF)
    consumers = {q for q, v in floor_s.items() if v["artifacts"]}
    bad = {q for q, v in floor_s.items() if not v["ok"]}

    # a query's recorded cold-pass seconds: construct, noop write, count();
    # stratifying on it steadies both full_s and count_s across seeds
    cost = {q: v["construct_s"] + v["exec_s"] + v["count_s"] for q, v in floor_s.items()
            if q not in consumers | bad}
    free = sorted(cost, key=cost.get)
    cap = cost[free[int(FLOOR_POOL_SHARE * (len(free) - 1))]]
    pool = [{"name": q, "cost_s": round(cost[q], 4)} for q in sorted(free) if cost[q] <= cap]
    used = {k for q in ARTIFACT_QUERIES for k in art_s[q]["artifacts"]}
    assert used == set(ARTIFACT_KEYS), sorted(used)
    workloads = {
        "floor": {
            "sf": FLOOR_SF, "size": FLOOR_SIZE, "rounds": FLOOR_ROUNDS,
            "chosen_by": "the queries that use no IndexCache artifact, less the costliest "
                         "tenth (recorded construct + noop write + count seconds above "
                         "%.3f); a run takes one query from each of %d runs of the pool "
                         "sorted by those seconds (cost_s, from survey/%s-c%d.json)"
                         % (cap, FLOOR_SIZE, FLOOR_SF, CPUS),
            "pool": pool},
        "artifacts": {
            "sf": ARTIFACT_SF, "rounds": ARTIFACT_ROUNDS,
            "chosen_by": "the cheapest consumers at %s that cover all %d keys, with a "
                         "second consumer of the ann.index and pairs.near builds"
                         % (ARTIFACT_SF, len(ARTIFACT_KEYS)),
            "queries": ARTIFACT_QUERIES,
            "keys": {q: art_s[q]["artifacts"] for q in ARTIFACT_QUERIES}},
    }
    with open(os.path.join(HERE, "workloads.json"), "w") as f:
        json.dump(workloads, f, indent=1)
        f.write("\n")

    os.makedirs(os.path.join(HERE, "expected"), exist_ok=True)
    names = {}
    for sf, qs in ((FLOOR_SF, [q["name"] for q in pool]), (ARTIFACT_SF, ARTIFACT_QUERIES)):
        names.setdefault(sf, []).extend(qs)
    for sf, qs in names.items():
        s = survey(sf)
        with open(os.path.join(HERE, "expected", "%s-c%d.json" % (sf, CPUS)), "w") as f:
            json.dump({q: s[q]["fingerprint"] for q in sorted(qs)}, f, indent=1)
            f.write("\n")
    print("floor pool %d" % len(pool))


if __name__ == "__main__":
    main()
