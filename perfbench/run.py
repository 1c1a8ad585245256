"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload adhoc|volume|ingest \\
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S

Each workload runs in a process of its own (``all`` starts one child
process per workload, one after another). The untraced run (``--trace
0``) reports the end-to-end metrics; the traced run (``--trace 1``)
reports the per-layer metrics and prints each layer's self time.
Results are checked against DuckDB or the generator outside the timed
window; any mismatch makes ``correct`` false and the exit code 1.
See perfbench/README.md for what each workload and metric is for.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
import traceback

sys.dont_write_bytecode = True  # leave the checkout as it was
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(1, os.path.dirname(HERE))

import harness  # noqa: E402
from harness import Step, median  # noqa: E402
from oracle import Oracle  # noqa: E402

WORKLOADS = ("adhoc", "volume", "ingest")
SETUP_REPEATS = 3
UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "ops_per_s": "1/s",
    "rows_per_s": "rows/s",
    "stored_bytes_per_row": "B/row",
}


def _workload(name: str):
    if name == "adhoc":
        from adhoc import Adhoc as cls
    elif name == "volume":
        from volume import Volume as cls
    else:
        from ingest import Ingest as cls
    return cls


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> dict:
    cls = _workload(name)
    with harness.WorkRoot() as root, harness.RssSampler() as rss:
        t = time.perf_counter()
        spark = harness.start_spark(root, trace, getattr(cls, "spark_conf", None))
        session_s = time.perf_counter() - t
        try:
            tracer = harness.Tracer(spark) if trace else harness.NullTracer()
            wl = cls(spark, root, seed, tracer)
            builds = []
            for rep in range(SETUP_REPEATS):
                t = time.perf_counter()
                wl.build_inputs(root.sub("inputs", str(rep)))
                builds.append(time.perf_counter() - t)
            t = time.perf_counter()
            wl.warm_up()
            warm_s = time.perf_counter() - t
            print(
                f"setup: session {session_s:.1f} s, inputs {median(builds):.1f} s "
                f"(median of {SETUP_REPEATS}), warm-up {warm_s:.1f} s",
                file=sys.stderr,
            )

            steps: list[Step] = []
            attempted = raised = 0
            start = time.perf_counter()
            deadline = start + seconds
            while True:
                # whole rounds only, so every run has the same op mix
                for _ in range(wl.round_size):
                    attempted += 1
                    try:
                        steps.append(wl.step(attempted - 1))
                    except Exception:
                        traceback.print_exc()
                        raised += 1
                if time.perf_counter() >= deadline:
                    break
            loop_s = time.perf_counter() - start
            by_kind: dict[str, list[float]] = {}
            for s in steps:
                by_kind.setdefault(s.kind, []).append(s.latency_s * 1000.0)
            print(
                f"timed loop {loop_s:.1f} s; median ms by kind: "
                + ", ".join(f"{k} {median(v):.0f} (n={len(v)})" for k, v in by_kind.items()),
                file=sys.stderr,
            )

            oracle = Oracle(root.sub("duckdb"))
            try:
                wrong = wl.verify(oracle, steps)
            finally:
                oracle.close()
            out = {
                "attempted": attempted,
                "failed": raised + wrong,
                "setup_s": session_s + median(builds) + warm_s,
                "latency_p50_ms": median(s.latency_s for s in steps) * 1000.0,
                "samples": len(steps),
                "ops_per_s": len(steps) / loop_s,
                "rows_per_s": sum(s.rows for s in steps) / loop_s,
                "stored_bytes_per_row": wl.stored_bytes_per_row(),
            }
            if trace:
                out["layers"] = layer_metrics(tracer, wl, steps)
        finally:
            harness.stop_spark(spark)
    out["peak_rss_mb"] = rss.peak_mb
    if trace:
        out["layers"]["process.peak_rss_mb"] = rss.peak_mb
    return out


def layer_metrics(tr: harness.Tracer, wl, steps: list[Step]) -> dict:
    """Per-layer numbers of the timed operations. Times are medians
    per span; counts are means per span over the first round, whose
    operations are the same in every run of a seed."""
    spans = [s for s in tr.spans if s.op >= 0]
    first = range(wl.round_size)
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)

    def ms(name):
        return median(s.ms for s in by_name.get(name, ()))

    def per_span(name, count):
        vals = [count(s) for s in by_name.get(name, ()) if s.op in first]
        return sum(vals) / len(vals) if vals else 0.0

    stage = tr.stage_metrics()
    per_op: dict[int, dict] = {}
    for op in sorted({s.op for s in spans}):
        jobs = [j for s in spans if s.op == op for j in s.jobs]
        m = dict.fromkeys(harness.STAGE_FIELDS, 0.0)
        for sid in tr.job_stages(jobs):
            for k, v in stage.get(sid, {}).items():
                m[k] += v
        per_op[op] = m

    def op_median(key, scale=1.0):
        return median(m[key] * scale for m in per_op.values())

    def op_first(key):
        vals = [per_op[op][key] for op in first if op in per_op]
        return sum(vals) / len(vals) if vals else 0.0

    ops = by_name["bench.op"]
    wall_ms = sum(s.ms for s in spans if s.parent is None)
    task_ms = sum(m["task_ms"] for m in per_op.values())
    out = {
        "bench.op_ms": ms("bench.op"),
        "cli.verb_ms": ms("cli.verb"),
        "cli.jobs": per_span("cli.verb", lambda s: len(s.jobs)),
        "sources.load_ms": ms("sources.load"),
        "sources.load_jobs": per_span("sources.load", lambda s: len(s.jobs)),
        "sources.files_listed": per_span("sources.load", lambda s: s.counts.get("files", 0)),
        "operators.build_ms": ms("operators.build"),
        "operators.build_jobs": per_span("operators.build", lambda s: len(s.jobs)),
        "spark.plan_ms": ms("spark.plan"),
        "spark.codegen_compiles": per_span("bench.op", lambda s: s.counts["compile_n"]),
        "spark.codegen_ms": median(s.counts["compile_sum"] for s in ops),
        "spark.codegen_bytes": per_span("bench.op", lambda s: s.counts["class_bytes_sum"]),
        "spark.task_ms": op_median("task_ms"),
        "spark.cpu_ms": op_median("cpu_ns", 1e-6),
        "spark.gc_ms": op_median("gc_ms"),
        "spark.shuffle_bytes": op_first("shuffle_write"),
        "spark.input_bytes": op_first("input_bytes"),
        "spark.tasks": op_first("tasks"),
        "spark.busy_frac": task_ms / (wall_ms * harness.cores()),
        "spark.action_ms": ms("spark.action"),
        "spark.result_rows": sum(s.result_rows for s in steps[: wl.round_size])
        / wl.round_size,
        "streaming.commit_ms": ms("streaming.commit"),
        "streaming.files_written": per_span("streaming.commit", lambda s: s.counts.get("files", 0)),
        "streaming.bytes_written": per_span("streaming.commit", lambda s: s.counts.get("bytes", 0)),
        "streaming.compact_ms": ms("streaming.compact"),
    }
    self_ms = harness.self_times(tr.spans, lambda s: s.op >= 0)
    total = sum(self_ms.values())
    print(f"self time per op, {len(ops)} timed ops (ms/op, share):")
    for name, v in sorted(self_ms.items(), key=lambda kv: -kv[1]):
        print(f"  {name:<20} {v / len(ops):10.1f}  {v / total:6.1%}")
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.workload == "all":
        return run_all(args)

    res = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    if args.trace:
        metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in res["layers"].items()}
    else:
        metrics = {k: {"value": res[k], "unit": u} for k, u in UNITS.items()}
    print(
        f"{args.workload}: {res['samples']} ops timed, error_rate "
        f"{res['failed'] / res['attempted']:.4f} ({res['failed']}/{res['attempted']}), "
        f"peak RSS {res['peak_rss_mb']:.0f} MB"
    )
    correct = res["failed"] == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


def _layer_unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_frac"):
        return "ratio"
    return "count"


def run_all(args) -> int:
    """Each workload in its own process; one table of every metric."""
    status = 0
    for name in WORKLOADS:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", name,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace),
        ]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines() or [""]
        print("\n".join(lines[:-1]))
        try:
            res = json.loads(lines[-1])
        except ValueError:
            res = {"correct": False, "metrics": {}}
        status = status or proc.returncode or (0 if res["correct"] else 1)
        for k, m in res["metrics"].items():
            print(f"  {name:<7} {k:<24} {m['value']:>16.4f} {m['unit']}")
        print(f"  {name:<7} correct={res['correct']} exit={proc.returncode}")
    return status


if __name__ == "__main__":
    sys.exit(main())
