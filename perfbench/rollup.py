#!/usr/bin/env python3
"""Roll up traced runs: self time per layer for each workload, the
dominant layer, and the tracing overhead.

    python3 perfbench/rollup.py [<build dir, default .bench_build>]

Reads the span files run.py writes for --trace 1 runs
(<dir>/traces/<workload>-s<seed>.spans.json) and the results of both
modes (<dir>/results/), keeping for each workload only the runs built
from the same sources as its newest traced run. Self time per layer is
the median over warm passes and seeds; the tracing overhead is the
traced runs' median pass_s over the untraced runs' median pass_s.
"""
import glob
import json
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


def pass_of(s):
    """Pass number of a span: items are traced `<item>#<pass>`, passes
    `<workload>/p<pass>`."""
    t = s["trace"]
    if "#" in t:
        return int(t.rsplit("#", 1)[1])
    if "/p" in t:
        return int(t.rsplit("/p", 1)[1])
    return None


def warm_layer_self_times(spans):
    """One {layer: seconds} per warm pass."""
    by_pass = defaultdict(list)
    for s in spans:
        p = pass_of(s)
        if p:
            by_pass[p].append(s)
    return [metrics.layer_self_times(by_pass[p]) for p in sorted(by_pass)]


def main():
    d = sys.argv[1] if len(sys.argv) > 1 else ".bench_build"
    docs = []
    for f in glob.glob(os.path.join(d, "traces", "*.spans.json")):
        with open(f) as fh:
            docs.append((os.path.getmtime(f), json.load(fh)))
    # Only runs of the sources the newest traced run of a workload was
    # built from are rolled up together.
    stamp = {}
    for _, doc in sorted(docs, key=lambda x: x[0]):
        stamp[doc["workload"]] = doc["source_stamp"]
    per_wl = defaultdict(list)
    for _, doc in docs:
        if doc["source_stamp"] == stamp[doc["workload"]]:
            per_wl[doc["workload"]] += warm_layer_self_times(doc["spans"])
    traced, plain = defaultdict(list), defaultdict(list)
    for f in glob.glob(os.path.join(d, "results", "*.json")):
        with open(f) as fh:
            r = json.load(fh)
        if r["host"]["source_stamp"] != stamp.get(r["workload"]):
            continue
        if r["trace"]:
            traced[r["workload"]].append(r["per_layer"]["trace.pass_s"])
        else:
            plain[r["workload"]].append(r["end_to_end"]["pass_s"])
    if not per_wl:
        sys.exit("no span files under %s/traces; run with --trace 1 first" % d)
    for wl in sorted(per_wl):
        passes = per_wl[wl]
        med = {l: metrics.median([p.get(l, 0.0) for p in passes]) for l in metrics.LAYERS}
        total = sum(med.values())
        print("%s (%d warm passes)" % (wl, len(passes)))
        for layer in sorted(med, key=med.get, reverse=True):
            print("  %-10s %9.3f s  %5.1f%%" % (layer, med[layer], 100 * med[layer] / total if total else 0))
        print("  dominant layer: %s" % max(med, key=med.get))
        if traced[wl] and plain[wl]:
            t, u = metrics.median(traced[wl]), metrics.median(plain[wl])
            print("  tracing overhead: traced pass_s %.3f s / untraced pass_s %.3f s = %.3f"
                  % (t, u, t / u))
        else:
            print("  tracing overhead: needs both a --trace 1 and a --trace 0 run")


if __name__ == "__main__":
    main()
