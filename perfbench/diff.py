#!/usr/bin/env python3
"""Compare two benchmark reports by their counters.

    python3 perfbench/diff.py BASE NEW

BASE and NEW are reports the benchmark wrote (perfbench/work/results/
<workload>-s<seed>-t<trace>.json) for the same workload and seed, or files
holding a result line. Counters that repeat for a seed (stage counts,
shuffle and held megabytes, persisted RDDs, FitCache hits and misses,
recall@10) are compared against a tolerance that covers the jitter of
identical passes: a change in the costly direction beyond it is flagged.
Timings are noisy, so they are only reported against the bounds in
BENCHMARK.json. Exits 1 when a counter is flagged or a timing is worse than
its bound.
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

# counters where a larger value costs more; recall is the one where larger is better
COST = ("stages", "shuffle_mb", "held_mb", "persisted_rdds", "fitcache_hits", "fitcache_misses",
        "codegen_compiles")
GAIN = ("recall_at_10",)
# (absolute, relative) slack per counter. Identical passes differ by up to
# 2 stages (Dedup.minhashClusters runs 47-49), by the few classes those
# stages compile, and by a few kilobytes of shuffle and held storage; the
# other counters repeat exactly.
SLACK = {"stages": (2, 0.0), "codegen_compiles": (10, 0.0), "shuffle_mb": (0.01, 0.005),
         "held_mb": (0.01, 0.005)}


def load(path):
    with open(path) as fh:
        text = fh.read().strip()
    try:
        doc = json.loads(text)
    except json.JSONDecodeError:
        doc = json.loads(text.splitlines()[-1])
    result = doc.get("result", doc)
    counters = dict(doc.get("counters", {}))
    for name, m in result["metrics"].items():
        leaf = name.split(".")[-1]
        if leaf in COST + GAIN:
            counters[name] = m["value"]
    return doc, result, counters


def bounds():
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(path) as fh:
        bench = json.load(fh)
    return {m["name"]: m for m in bench["end_to_end"]}


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    (bdoc, bres, bcnt), (ndoc, nres, ncnt) = load(argv[1]), load(argv[2])
    for key in ("workload", "seed", "trace"):
        if key in bdoc and key in ndoc and bdoc[key] != ndoc[key]:
            print(f"note: {key} differs ({bdoc[key]} vs {ndoc[key]}); "
                  "counters only repeat within one workload, seed and trace mode")
    flagged = 0
    print("counters (beyond the jitter of identical passes):")
    for name in sorted(set(bcnt) & set(ncnt)):
        b, n = bcnt[name], ncnt[name]
        leaf = name.split(".")[-1]
        slack_abs, slack_rel = SLACK.get(leaf, (0, 0.0))
        slack = slack_abs + slack_rel * abs(b)
        worse = (n - b > slack) if leaf in COST else (b - n > slack)
        mark = "FLAG" if worse else ("changed" if n != b else "same")
        flagged += worse
        print(f"  {name:32s} {b:>14.6g} -> {n:<14.6g} {mark}")
    print("timings (against BENCHMARK.json bounds):")
    for name, spec in bounds().items():
        if name not in bres["metrics"] or name not in nres["metrics"]:
            continue
        b, n = bres["metrics"][name]["value"], nres["metrics"][name]["value"]
        if name in bcnt or b == 0:
            continue
        worse = (n - b) / b if spec["better"] == "lower" else (b - n) / b
        over = worse > spec["bound"]
        flagged += over
        print(f"  {name:32s} {b:>14.6g} -> {n:<14.6g} worse by {worse * 100:+.1f}% "
              f"(bound {spec['bound'] * 100:.0f}%){'  EXCEEDS' if over else ''}")
    print(f"correct: {bres['correct']} -> {nres['correct']}; "
          f"failed: {bres['failed']} -> {nres['failed']}")
    return 1 if flagged or not nres["correct"] else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
