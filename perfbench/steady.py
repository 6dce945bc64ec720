#!/usr/bin/env python3
"""Steadiness self-check: run one workload on several seeds and report each
end-to-end metric's run-to-run spread against its bound in BENCHMARK.json.

    python3 perfbench/steady.py <workload> [runs=10] [first_seed=1] [--traced=N]

Spread is the distance between the first and third quartile
(statistics.quantiles(values, n=4)) as a share of the median. A metric is
steady when its spread is below a third of its bound. With --traced=N the
first N seeds also run traced: the per-layer medians are reported, and the
tracing overhead as traced / untraced latency_p50_ms and ops_per_s.
"""
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import oracle  # noqa: E402


ROW = re.compile(r"^([a-z_0-9]+)\s+(-?[0-9.]+)\s+\S+\s+n=")


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{workload} seed {seed} failed (exit {p.returncode}):\n{p.stdout}{p.stderr[-3000:]}")
    res = json.loads(lines[-1])
    # every metric of the printed table, gated or not
    res["table"] = {m.group(1): float(m.group(2)) for m in map(ROW.match, lines) if m}
    return res


def spread(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / med if med else float("inf"), med


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_traced = int(next((a.split("=")[1] for a in sys.argv if a.startswith("--traced=")), 0))
    workload = args[0]
    runs = int(args[1]) if len(args) > 1 else 10
    first = int(args[2]) if len(args) > 2 else 1
    bench = oracle.load_json(os.path.join(ROOT, "BENCHMARK.json"))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values, traced, table = {}, {}, {}
    for seed in range(first, first + runs):
        t0 = time.perf_counter()
        r = run(workload, seed, bench["run_seconds"], 0)
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        for k, v in r["table"].items():
            table.setdefault(k, []).append(v)
        print(f"seed {seed} ({time.perf_counter() - t0:.0f}s): " + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
              flush=True)
        if seed < first + n_traced:
            t = run(workload, seed, bench["run_seconds"], 1)
            for k, v in t["metrics"].items():
                traced.setdefault(k, []).append(v["value"])
    print(f"\n{workload}: {runs} runs")
    for k, xs in values.items():
        s, med = spread(xs)
        b = bounds.get(k)
        ok = b is not None and s < b / 3
        print(f"  {k:18s} median {med:12.4f}  spread {s:6.3f}  bound {b}  "
              f"{'steady' if ok else 'NOT STEADY'}")
    overhead = {}
    for k in ("latency_p50_ms", "ops_per_s"):
        if f"trace.{k}" in traced:
            t, base = statistics.median(traced[f"trace.{k}"]), statistics.median(values[k])
            overhead[k] = t / base
            print(f"  tracing overhead {k}: traced {t:.4f} / untraced {base:.4f} = {t / base:.3f}")
    print(json.dumps({"workload": workload, "runs": runs, "first_seed": first,
                      "medians": {k: statistics.median(v) for k, v in values.items()},
                      "spreads": {k: spread(v)[0] for k, v in values.items()},
                      "printed_medians": {k: statistics.median(v) for k, v in table.items()},
                      "traced_runs": n_traced, "tracing_overhead": overhead,
                      "per_layer_medians": {k: statistics.median(v) for k, v in traced.items()}}))


if __name__ == "__main__":
    main()
