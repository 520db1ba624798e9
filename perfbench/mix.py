"""How the end-to-end figures depend on the op mix.

    python3 perfbench/mix.py .bench_build/run/harness.json [more harness.json ...]

The query weights and the pipeline's interleave are chosen, not taken
from a measured query log. This re-weights the per-template latencies of
untraced runs (pooled over the files given, all of one workload) under
other mixes and prints the p50 and the closed-loop throughput each would
give: p50 is the weighted median of the op latencies, throughput is
clients / weighted mean latency (it leaves out the time between ops and
the idle tail at the end of a run, so it reads a little above the
measured throughput, which is printed first).
"""
import json
import sys
import os

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import workloads  # noqa: E402


def weighted_median(samples):
    """samples: (value, weight) pairs."""
    xs = sorted(samples)
    half = sum(w for _, w in xs) / 2
    acc = 0.0
    for v, w in xs:
        acc += w
        if acc >= half:
            return v
    raise ValueError("empty sample")


def predict(lat, weights, clients):
    """p50 and throughput of a mix: `lat` maps template → latencies,
    `weights` maps template → ops per cycle."""
    samples = [(x, w / len(lat[t])) for t, w in weights.items() if w for x in lat[t]]
    total = sum(weights.values())
    mean = sum(w * sum(lat[t]) / len(lat[t]) for t, w in weights.items() if w) / total
    return weighted_median(samples), clients / mean


def query_mixes():
    short = {t: w for t, (_, w) in workloads.INTERACTIVE.items()}
    heavy = [t for t, _ in workloads.ANALYTIC]
    n_short = sum(short.values())

    def mix(sw, per):   # `per` short ops per heavy one
        return {**sw, **{t: n_short / per / len(heavy) for t in heavy}}
    flat = {t: n_short / len(short) for t in short}
    return [("shipped: weights 5..1, 1 heavy per 3 short", mix(short, 3)),
            ("uniform short weights, 1 heavy per 3", mix(flat, 3)),
            ("1 heavy per 2 short", mix(short, 2)),
            ("1 heavy per 6 short", mix(short, 6)),
            ("short only", short),
            ("heavy only", {t: 1 for t in heavy})]


def pipeline_mixes():
    steps = [s.split(":")[-1] for s in workloads.PIPELINE]
    llm = {t: steps.count(t) for t in steps if t in workloads.LLM_STAGES}
    streams = {t: steps.count(t) for t in steps if t not in workloads.LLM_STAGES}
    return [(f"shipped: {sum(llm.values())} LlmOps ops, {sum(streams.values())} stream ops a cycle",
             {**llm, **streams}),
            ("stream ops doubled", {**llm, **{t: 2 * w for t, w in streams.items()}}),
            ("LlmOps only", llm),
            ("stream ops only", streams)]


def main(paths):
    lat, n_ok, phase, workload = {}, 0, 0.0, None
    for p in paths:
        out = json.load(open(p))
        workload = out["workload"]
        ok = [r for r in out["ops"] if r["ok"] and not r["traced"]]
        for r in ok:
            lat.setdefault(r["template"], []).append(r["t1"] - r["t0"])
        n_ok += len(ok)
        phase += sum(x["end"] - x["start"] for x in out["phases"] if not x["traced"])
    clients = workloads.SPEC[workload]["clients"]
    mixes = query_mixes() if workload == "query" else pipeline_mixes()
    print(f"{workload}: {len(paths)} runs, measured throughput {n_ok / phase:.4g} 1/s")
    for name, weights in mixes:
        p50, tput = predict(lat, weights, clients)
        print(f"  {name:<48} p50 {p50:8.4f} s   throughput {tput:8.4f} 1/s")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    main(sys.argv[1:])
