#!/usr/bin/env python3
"""FULL-SURFACE paired ABBA bench (r12 verdict item 1).

tools/bench_ab.py made TOUCHED-SLICE deltas evidence-grade; the round
TOTAL stayed a single-basis number with the known ±15% ambient term.
This driver retires that gap: it chunks the ENTIRE declared query
surface into contiguous time-balanced slices and runs each slice
through the same fresh-JVM ABBA protocol against two revs, so the
whole-surface total becomes a PAIRED number with a band — per pair i,
total_X_i = Σ_slices slice_total_X_i; delta_i = B_i − A_i; report the
across-pair median and min–max band. Ambient drift cancels within each
pair exactly as in the per-slice protocol.

Usage:
  python3 tools/bench_ab_full.py <revA> <revB> <sfDir> <pairs> <out.json> [slices]

- slices defaults to 10. Chunks are ALPHABETICALLY CONTIGUOUS (artifact
  families — llm_dedup_*, tokens.* consumers — stay in one slice, so
  build attribution matches graft.Bench's) with boundaries placed to
  balance expected runtime using bench_out.json's last-known per-query
  seconds (queries missing there weigh 0.3 s).
- The measured surface is the INTERSECTION of the two revs' declared
  names (each listed via its own compiled BenchSlice --list); names
  unique to one rev are reported and excluded — a paired delta needs
  both sides.
- A query that fails in any run is excluded from every total and
  listed in the output under "failed" — loudly, never silently.

Worktree/housekeeping semantics are bench_ab.py's (worktrees under
.ab/, the CURRENT tree's probe, BenchSlice and its helpers, copied in);
remove worktrees after the measurement session.
"""
import json
import pathlib
import statistics
import sys

import bench_ab


def chunk_by_time(names, weights, k):
    """k alphabetically-contiguous chunks with near-equal total weight."""
    total = sum(weights[n] for n in names)
    target = total / k
    chunks, cur, acc = [], [], 0.0
    remaining = k
    for i, n in enumerate(names):
        cur.append(n)
        acc += weights[n]
        # close the chunk once it reaches the running target, keeping
        # enough names for the remaining chunks
        if (acc >= target and remaining > 1
                and len(names) - i - 1 >= remaining - 1):
            chunks.append(cur)
            cur, acc = [], 0.0
            remaining -= 1
            left = sum(weights[m] for m in names[i + 1:])
            target = left / remaining if remaining else left
    if cur:
        chunks.append(cur)
    return chunks


def main():
    rev_a, rev_b, sf_dir, pairs, out_path = sys.argv[1:6]
    k = int(sys.argv[6]) if len(sys.argv) > 6 else 10
    pairs = int(pairs)

    wt_a = bench_ab.prepare(rev_a)
    wt_b = bench_ab.prepare(rev_b)
    names_a = set(bench_ab.list_names(wt_a))
    names_b = set(bench_ab.list_names(wt_b))
    only_a, only_b = sorted(names_a - names_b), sorted(names_b - names_a)
    names = sorted(names_a & names_b)
    if only_a or only_b:
        print(f"[ab-full] excluded (single-rev): {rev_a}-only {only_a}, "
              f"{rev_b}-only {only_b}", file=sys.stderr)

    weights = {n: 0.3 for n in names}
    bo = bench_ab.REPO / "bench_out.json"
    if bo.exists():
        for n, s in json.loads(bo.read_text()).get("queries", {}).items():
            if n in weights and isinstance(s, (int, float)) and s > 0:
                weights[n] = s
    slices = chunk_by_time(names, weights, k)
    print(f"[ab-full] {len(names)} queries in {len(slices)} slices "
          f"(sizes {[len(s) for s in slices]})", file=sys.stderr)

    # per-slice ABBA: runs_a[s][i] / runs_b[s][i] = slice s, pair i
    runs_a = [[] for _ in slices]
    runs_b = [[] for _ in slices]
    for si, sl in enumerate(slices):
        for i in range(pairs):
            # Slot order balanced per pair index ACROSS slices, not just
            # per slice across pairs: an A-vs-A null run (r13) measured a
            # systematic ~+1 s second-slot penalty per slice pair on
            # IDENTICAL code (run-over-run machine drift within a slice
            # session), so a strict per-slice ABBA that always starts
            # with A biases the cross-slice SUM against B. (si + i)
            # parity puts each rev first in half the slices at every
            # pair index, cancelling the second-slot term in the
            # whole-surface statistic.
            order = [("A", wt_a, runs_a[si]), ("B", wt_b, runs_b[si])]
            if (si + i) % 2 == 1:
                order.reverse()
            for tag, wt, acc in order:
                r = bench_ab.run_slice(wt, sf_dir, sl)
                acc.append(r)
                print(f"[ab-full] slice {si + 1}/{len(slices)} "
                      f"pair {i + 1}/{pairs} {tag}: "
                      f"{r['slice_total_sec']:.2f} s", file=sys.stderr)

    # failed anywhere -> excluded everywhere, reported loudly
    failed = sorted({n for rs in runs_a + runs_b for r in rs
                     for n, v in r["queries"].items() if v < 0})
    if failed:
        print(f"[ab-full] FAILED queries excluded from totals: {failed}",
              file=sys.stderr)
    ok = [n for n in names if n not in failed]

    def pair_total(rs_by_slice, i):
        return sum(sum(v for n, v in rs[i]["queries"].items() if n in ok)
                   for rs in rs_by_slice)

    tot_a = [pair_total(runs_a, i) for i in range(pairs)]
    tot_b = [pair_total(runs_b, i) for i in range(pairs)]
    deltas = [b - a for a, b in zip(tot_a, tot_b)]

    per_query = {}
    for si, sl in enumerate(slices):
        for n in sl:
            if n in failed:
                continue
            a = [r["queries"][n] for r in runs_a[si]]
            b = [r["queries"][n] for r in runs_b[si]]
            d = [bb - aa for aa, bb in zip(a, b)]
            per_query[n] = {
                "a_median": statistics.median(a),
                "b_median": statistics.median(b),
                "paired_delta_median": statistics.median(d),
                "paired_delta_min": min(d), "paired_delta_max": max(d),
                "slice": si,
            }

    result = {
        "protocol": ("full-surface ABBA fresh-JVM paired slices; "
                     "per-pair totals summed across slices, delta = B - A"),
        "rev_a": rev_a, "rev_b": rev_b, "sf_dir": sf_dir,
        "pairs": pairs, "n_slices": len(slices),
        "n_queries": len(ok), "failed": failed,
        "excluded_single_rev": {"a_only": only_a, "b_only": only_b},
        "whole_surface": {
            "a_totals": tot_a, "b_totals": tot_b,
            "a_median": statistics.median(tot_a),
            "b_median": statistics.median(tot_b),
            "paired_delta_median": statistics.median(deltas),
            "paired_delta_min": min(deltas),
            "paired_delta_max": max(deltas),
        },
        "queries": per_query,
        "slices": [{"names": sl,
                    "a_totals": [r["slice_total_sec"] for r in runs_a[si]],
                    "b_totals": [r["slice_total_sec"] for r in runs_b[si]],
                    "artifacts_a": runs_a[si][0]["artifacts"],
                    "artifacts_b": runs_b[si][0]["artifacts"]}
                   for si, sl in enumerate(slices)],
    }
    pathlib.Path(out_path).write_text(json.dumps(result, indent=2))

    w = result["whole_surface"]
    print(f"\n| surface | {rev_a} med s | {rev_b} med s | paired Δ med | Δ band |")
    print("|---|---|---|---|---|")
    print(f"| **all {len(ok)} queries** | {w['a_median']:.1f} | "
          f"{w['b_median']:.1f} | {w['paired_delta_median']:+.2f} | "
          f"[{w['paired_delta_min']:+.2f}, {w['paired_delta_max']:+.2f}] |")
    movers = sorted(per_query.items(),
                    key=lambda kv: -abs(kv[1]["paired_delta_median"]))[:10]
    print(f"\n| top movers | {rev_a} | {rev_b} | Δ med | band |")
    print("|---|---|---|---|---|")
    for n, q in movers:
        print(f"| `{n}` | {q['a_median']:.2f} | {q['b_median']:.2f} | "
              f"{q['paired_delta_median']:+.2f} | "
              f"[{q['paired_delta_min']:+.2f}, {q['paired_delta_max']:+.2f}] |")


if __name__ == "__main__":
    main()
