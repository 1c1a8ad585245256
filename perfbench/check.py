"""Self-checks of the benchmark itself.

    python3 perfbench/check.py steady --workload adhoc --runs 10 --seed 1
        Runs the workload with seeds seed .. seed+runs-1, each in a
        fresh process, and prints each end-to-end metric's spread (the
        distance between its first and third quartile, as a share of
        its median) beside the bound BENCHMARK.json gives it.

    python3 perfbench/check.py layers --seed 1
        Runs every workload untraced and traced and prints the
        per-layer metrics side by side, with the tracing overhead: the
        traced median operation time minus the untraced one.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stdout}")
    return json.loads(lines[-1])


def steady(args) -> int:
    spec = _spec()
    values: dict[str, list[float]] = {}
    for seed in range(args.seed, args.seed + args.runs):
        res = _run(args.workload, seed, spec["run_seconds"], 0)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed}: " + ", ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)
    worst = 0.0
    print(f"\n{args.workload}: {args.runs} runs")
    print(f"  {'metric':<22} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for m in spec["end_to_end"]:
        vals = values[m["name"]]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        if m["name"] != "setup_s":
            worst = max(worst, spread / m["bound"])
        print(
            f"  {m['name']:<22} {med:12.4f} {q1:12.4f} {q3:12.4f} "
            f"{spread:8.2%} {m['bound']:6.2f}"
        )
    print(f"  largest spread / bound (setup_s aside): {worst:.2f}")
    return 0 if worst <= 1.0 else 1


def layers(args) -> int:
    spec = _spec()
    names = [m["name"] for m in spec["per_layer"]]
    runs = {}
    for w in ("adhoc", "volume", "ingest"):
        runs[w] = (
            _run(w, args.seed, spec["run_seconds"], 0)["metrics"],
            _run(w, args.seed, spec["run_seconds"], 1)["metrics"],
        )
    print(f"  {'layer metric':<24}" + "".join(f"{w:>14}" for w in runs))
    for n in names:
        print(f"  {n:<24}" + "".join(f"{t[n]['value']:14.2f}" for _, t in runs.values()))
    print(f"  {'untraced latency_p50_ms':<24}" + "".join(
        f"{u['latency_p50_ms']['value']:14.2f}" for u, _ in runs.values()))
    print(f"  {'tracing overhead ms':<24}" + "".join(
        f"{t['bench.op_ms']['value'] - u['latency_p50_ms']['value']:14.2f}"
        for u, t in runs.values()))
    return 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("steady")
    s.add_argument("--workload", required=True)
    s.add_argument("--runs", type=int, default=10)
    s.add_argument("--seed", type=int, default=1)
    s.set_defaults(fn=steady)
    lay = sub.add_parser("layers")
    lay.add_argument("--seed", type=int, default=1)
    lay.set_defaults(fn=layers)
    args = p.parse_args()
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
