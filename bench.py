#!/usr/bin/env python
"""Benchmark harness: runs the headline catalog queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Isolation (round 7): each headline query runs in its OWN subprocess /
fresh JVM, sequentially. Round 6 proved the shared-session design
unsound as a plan-cost signal: 25 queries in one JVM let early queries'
shuffle buffers, code-cache and GC debt inflate later queries' walls
~1.5-8x (driver BENCH_r06 recorded q35 at 2.10 s where an idle fresh-JVM
run measures 0.46 s — adjudicated as harness artifact, not regression).
The skew harness already ran isolated for exactly this reason; the
headline queries now get the same treatment. Cost: ~6-8 s JVM startup
per query, NOT counted in the reported timings (each child warms up,
then times min-of-N collects exactly as before).

Within a child: warm-up passes (JVM/JIT/code-cache, not counted;
default 3, $SPARK_GRAFT_BENCH_WARMUPS),
then N timed passes (default 3, $SPARK_GRAFT_BENCH_RUNS) of which the
MINIMUM is reported — the steady-state cost, insulated from one-off
scheduler/GC noise. The timed action is a full collect() of the query
result — scan + compute + result materialization. The executor
task-time snapshot is taken BEFORE plan-metrics collection so the
task-time delta covers exactly the N timed passes.

Set SPARK_GRAFT_BENCH_ISOLATE=0 to fall back to the legacy
single-session mode (useful for quick iteration where absolute numbers
don't matter; a System.gc() between queries limits cross-query debt).

The window-skew comparison (20M rows, 3 keys) also runs in a SEPARATE
subprocess with its own memory-bounded JVM: an unbounded heap hides the
skew pathology itself (see _skew_compare_isolated).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

_ONE_SENTINEL = "ONEJSON:"
_SKEW_SENTINEL = "SKEWJSON:"


def _executor_totals(spark) -> dict[str, int] | None:
    """Sum executor run/CPU/GC time over all completed stages via the
    Spark UI REST API. Snapshot-and-diff around a query's timed passes
    gives its cluster-side task time — the number that separates real
    plan cost from driver/env noise (same wall, more task time = plan
    got heavier; same task time, more wall = environment). Returns
    None when the UI is disabled; callers must treat that as 'no
    task-time column', never an error."""
    try:
        import urllib.request

        base = spark.sparkContext.uiWebUrl
        if not base:
            return None
        with urllib.request.urlopen(f"{base}/api/v1/applications", timeout=5) as r:
            app_id = json.load(r)[0]["id"]
        url = f"{base}/api/v1/applications/{app_id}/stages?status=complete"
        with urllib.request.urlopen(url, timeout=5) as r:
            stages = json.load(r)
        out = {"task_time_ms": 0, "cpu_time_ms": 0, "gc_time_ms": 0}
        for s in stages:
            out["task_time_ms"] += int(s.get("executorRunTime", 0))
            out["cpu_time_ms"] += int(s.get("executorCpuTime", 0)) // 1_000_000
            out["gc_time_ms"] += int(s.get("jvmGcTime", 0))
        return out
    except Exception:
        return None


def _time_one(spark, name: str, sf_dir: str, n_runs: int) -> tuple[float, dict]:
    """Warm up, then min-of-n_runs time one catalog query; returns
    (best_seconds, plan+task metrics). Shared by both the per-query
    child process and the legacy single-session loop."""
    from etsd_time_series_database_spark.plans import catalog
    from etsd_time_series_database_spark.plans.metrics import collect_plan_metrics

    q = catalog()[name]
    # Warm-up passes (not counted). A fresh JVM needs several passes
    # before whole-stage-codegen/JIT reach steady state (measured: q35
    # runs 6.1 / 1.0 / 0.8 / 0.7 / 0.6 s over passes 1-5 in a cold
    # JVM); the old shared-session harness hid this behind earlier
    # queries, which is why round <= 6 snapshots are not comparable.
    for _ in range(int(os.environ.get("SPARK_GRAFT_BENCH_WARMUPS", "3"))):
        q.build(spark, sf_dir).collect()
    best = float("inf")
    before = None
    df = None
    for i in range(n_runs):
        # Executor task time is snapshotted around the LAST timed pass
        # only: the earlier passes still carry residual JIT warm-up in
        # a fresh JVM (measured on q06: 3-pass average 680 task-ms vs
        # 507 for the final pass), which would read as phantom
        # plan-cost drift across rounds. Wall stays min-of-n.
        if i == n_runs - 1:
            before = _executor_totals(spark)
        # time build() + collect(): plan construction is ~ms for
        # declarative queries, but iterative operators (x45 BPE)
        # materialize eager checkpoints during build — timing only
        # the final collect would hide their real cost.
        t0 = time.perf_counter()
        df = q.build(spark, sf_dir)
        df.collect()
        best = min(best, time.perf_counter() - t0)
    # task-time snapshot BEFORE plan-metrics collection: the delta must
    # cover exactly the final timed pass (the plan walk below runs over
    # py4j — driver time, no executor time — but keep it unambiguous).
    after = _executor_totals(spark)
    try:
        metrics = collect_plan_metrics(df)
    except Exception:
        metrics = {}
    if before is not None and after is not None:
        for k, v in after.items():
            metrics[k] = v - before[k]
        metrics["timed_passes"] = 1
    return best, metrics


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(Path(sf_dir).name.replace("sf", "") or 0.1)
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    isolate = os.environ.get("SPARK_GRAFT_BENCH_ISOLATE", "1") != "0"

    from etsd_time_series_database_spark.plans import catalog

    names = sorted(n for n, q in catalog().items() if q.headline)
    timings: dict[str, float] = {}
    query_metrics: dict[str, dict] = {}

    if isolate:
        for name in names:
            result = _run_one_isolated(name)
            if "error" in result:
                # one retry: a child can die to transient port/temp-dir
                # races; a persistent failure is recorded, not hidden
                result = _run_one_isolated(name)
            if "error" in result:
                print(f"bench: {name} FAILED: {result['error']}", file=sys.stderr)
                query_metrics[name] = {"error": result["error"]}
                continue
            timings[name] = round(result["best"], 4)
            query_metrics[name] = result.get("metrics", {})
    else:
        from etsd_time_series_database_spark import get_spark

        spark = get_spark("etsd_spark_bench", {"spark.ui.enabled": "true"})
        for name in names:
            spark.sparkContext._jvm.System.gc()
            best, metrics = _time_one(spark, name, sf_dir, n_runs)
            timings[name] = round(best, 4)
            query_metrics[name] = metrics

    total = round(sum(timings.values()), 4)
    # Per-query shuffle bytes ride the FINAL stdout line (short-key MB
    # dict) so the committed BENCH artifact is self-evidently
    # plan-signal: a wall drift with shuffle_mb 1.00x is environment
    # noise, never plan cost — the round-10 audit burned time proving
    # exactly that from the side file. Full SQLMetrics still go to the
    # side file; the driver retains only a ~2000-char stdout tail and
    # parses the LAST JSON line, so skew_compare moved to its own
    # earlier line (still inside the retained tail at realistic sizes,
    # and mirrored into the side file) to keep the final line compact
    # (round 4 shipped parsed:null at ~5.4 KB).
    shuffle_mb = {
        name.split("_", 1)[0]: round(
            query_metrics.get(name, {}).get("shuffle_bytes", 0) / 1e6, 2
        )
        for name in timings
    }
    skew = _skew_compare_isolated()
    metrics_path = Path(
        os.environ.get("SPARK_GRAFT_BENCH_METRICS", REPO / "bench_metrics.json")
    )
    metrics_path.write_text(
        json.dumps(
            {
                "sf": sf,
                "isolated": isolate,
                "queries": timings,
                "query_metrics": query_metrics,
                "skew_compare": skew,
            },
            indent=1,
        )
    )
    print(json.dumps({"skew_compare": skew}))
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                # measurement regime, so the record is self-describing:
                # "isolated_jvm" (per-query cold subprocess, >= r7) is
                # NOT wall-comparable to "shared_jvm" (<= r6 warm
                # session) — task-time and shuffle-byte SQLMetrics are
                # the cross-regime-stable signals
                "regime": "isolated_jvm" if isolate else "shared_jvm",
                "queries": timings,
                "shuffle_mb": shuffle_mb,
                "sf": sf,
            }
        )
    )


def _run_one_isolated(name: str) -> dict:
    """Run one headline query in a fresh subprocess/JVM and parse its
    sentinel-prefixed JSON result line."""
    proc = subprocess.run(
        [sys.executable, __file__, "--one", name],
        capture_output=True,
        text=True,
        timeout=900,
        env=dict(os.environ),
    )
    if proc.returncode != 0:
        return {"error": (proc.stderr or proc.stdout)[-500:]}
    for line in reversed(proc.stdout.splitlines()):
        if line.startswith(_ONE_SENTINEL):
            try:
                return json.loads(line[len(_ONE_SENTINEL):])
            except json.JSONDecodeError as exc:
                return {"error": f"bad JSON from {name} child: {exc}"}
    return {"error": f"no result JSON in stdout: {proc.stdout[-300:]!r}"}


def _one_child(name: str) -> None:
    """Child-process entry: time one query in this fresh JVM."""
    from etsd_time_series_database_spark import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    spark = get_spark("etsd_spark_bench_one", {"spark.ui.enabled": "true"})
    best, metrics = _time_one(spark, name, sf_dir, n_runs)
    print(_ONE_SENTINEL + json.dumps({"name": name, "best": best, "metrics": metrics}))


def _skew_compare_isolated() -> dict:
    """Run the skew comparison in a fresh subprocess/JVM so its row
    generation cannot pressure the headline-timing session.

    The child runs with a DELIBERATELY bounded heap (7g default):
    at 100 TB an executor task gets a few GB at most, so the regime
    that matters is per-key sort state ~ task memory. With an
    oversized local heap the whole sort fits in RAM and the global
    form's 3-task parallelism cap costs only the n·log(n)/shuffle
    delta — a local artifact that under-reports the at-scale gap
    (and at 4g the generation itself intermittently OOMs)."""
    if int(os.environ.get("SPARK_GRAFT_BENCH_SKEW_ROWS", "20000000")) <= 0:
        return {}
    env = dict(os.environ)
    # 6g became intermittent once the harness grew to 8 forms (the
    # episodes pair, r7): the child occasionally dies mid-noop-write
    # after the 20M checkpoints + 7 forms of shuffle debt. 7g + one
    # retry is the hardened configuration; the regime argument above
    # is unchanged (per-task sort memory stays a small multiple of a
    # real executor task's share).
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "7g")
    last_err = "unknown"
    for _attempt in range(2):
        proc = subprocess.run(
            [sys.executable, __file__, "--skew-only"],
            capture_output=True,
            text=True,
            # 1800 was near the r8 ceiling; the r9 co-alarm chatter
            # pair adds ~3 passes of a deliberately-quadratic form
            timeout=2400,
            env=env,
        )
        if proc.returncode != 0:
            last_err = proc.stderr[-500:]
            continue
        # the child prefixes its one JSON line with a sentinel so
        # py4j/JVM noise on stdout (or an empty stdout) can't crash
        # the whole bench
        for line in reversed(proc.stdout.splitlines()):
            if line.startswith(_SKEW_SENTINEL):
                try:
                    return json.loads(line[len(_SKEW_SENTINEL):])
                except json.JSONDecodeError as exc:
                    return {"error": f"bad skew JSON: {exc}"}
        last_err = f"no skew JSON in stdout: {proc.stdout[-300:]!r}"
    return {"error": last_err}


def _skew_compare(spark) -> dict:
    """Measured (not prose) low-cardinality window-skew comparison:
    (a) counter rate over N synthetic rows with only 3 channels — the
    global per-channel window form (parallelism hard-capped at 3 sort
    tasks) vs the stitched (channel, day-bucket) rate_scalable form;
    (b) as-of join of the same N probes against N/10 right rows on the
    same 3 keys — asof_join (per-key union-tag window) vs
    asof_join_scalable ((key, day-bucket) stitched carry);
    (c) seeded epoch shuffle of the N keys — the naive global ordinal
    (row_number over an unpartitioned window: ONE sort task for the
    whole corpus) vs epoch_shuffle's order-aligned hash buckets
    (bounded offset table + per-bucket ranks, parallelism = 1024);
    (d) q57's cross-channel interval union under CHATTER (values
    alternate above/below every sample, so EVERY above-sample is its
    own episode — N/2 episodes ride the union) — the one-level
    global-window union (one sort task over all episodes) vs the
    bucket-split + boundary-stitch form (union window partitioned by
    day bucket; only <= 2 rows/bucket reach the global stitch);
    (e) q65's pairwise co-alarm join under the same chatter at N/10
    rows — the fixed daily join bucket (within-bucket cross-channel
    join quadratic in a hot day's segments) vs bucket_s='auto'
    (join bucket narrowed from measured episode density);
    (f) the causal z-score prefix accumulators (q71 vs q72) — three
    per-channel global windows vs one cumsum_multi stitched pass.
    Warm-up pass each, then one timed pass to a noop sink (full JVM
    evaluation, no driver materialization).
    $SPARK_GRAFT_BENCH_SKEW_ROWS overrides N (0 skips)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from etsd_time_series_database_spark.operators.asof import (
        asof_join,
        asof_join_scalable,
    )
    from etsd_time_series_database_spark.operators.sampling import (
        epoch_shuffle,
    )
    from etsd_time_series_database_spark.operators.range_stats import (
        alarm_coverage,
        co_alarm_matrix,
        hysteresis_episodes,
        rate,
    )
    from etsd_time_series_database_spark.operators.scalable_window import (
        rate_scalable,
        running_zscore_scalable,
    )
    from etsd_time_series_database_spark.operators.trends import (
        running_zscore_batch,
        tiered_rollup,
    )
    from tests.plain_windows import channel_global

    def _global(op):
        # the channel-global reference form: each stitched step swapped
        # for the same step on a window partitioned by channel alone
        def build():
            with channel_global():
                return op()

        return build

    def _naive_tiers(frozen):
        # every tier straight from the fact table: the anti-pattern
        # q75's hierarchical ladder replaces
        outs = []
        for tier in (3600, 21600, 86400):
            w = tier * 1_000_000
            outs.append(
                frozen.groupBy(
                    "event_type",
                    (F.expr(f"unix_micros(ts) div {w}") * w).alias(
                        "bucket_us"
                    ),
                )
                .agg(
                    F.count(F.lit(1)).cast("bigint").alias("n"),
                    F.round(
                        F.sum(
                            F.col("value").cast("decimal(18,6)")
                        ).cast("double")
                        / F.count(F.lit(1)),
                        6,
                    ).alias("avg_v"),
                    F.min("value").alias("min_v"),
                    F.max("value").alias("max_v"),
                )
                .select(
                    F.lit(tier).cast("bigint").alias("tier_s"), "*"
                )
            )
        res = outs[0]
        for o in outs[1:]:
            res = res.unionByName(o)
        return res

    n = int(os.environ.get("SPARK_GRAFT_BENCH_SKEW_ROWS", "20000000"))
    if n <= 0:
        return {}

    def synth(rows: int, step_s: int):
        # 1-second cadence → N seconds ≈ N/86400 daily buckets, so the
        # stitched forms actually have buckets to parallelize over
        return spark.range(rows).select(
            F.col("id").alias("event_id"),
            F.timestamp_seconds(F.lit(1704067200) + F.col("id") * step_s).alias(
                "ts"
            ),
            F.concat(F.lit("chan_"), (F.col("id") % 3).cast("string")).alias(
                "event_type"
            ),
            (F.col("id") % 100000).cast("double").alias("value"),
        )

    # freeze the inputs so each form times only the operator
    df = synth(n, 1).localCheckpoint()
    # right side: 10x sparser rows over the same time span / 3 keys
    right = synth(n // 10, 10).localCheckpoint()
    # co-alarm chatter pair (q65's hot-bucket quadratic): alternating
    # above/below so every above-sample is its own point episode — at
    # the fixed daily join bucket each day holds ~43k segments and the
    # within-bucket cross-channel join is quadratic in them;
    # bucket_s='auto' narrows the join bucket from measured density.
    # Capped at 200k rows: per-bucket cost is DENSITY-driven (samples
    # per second), not volume-driven, so the fixed-day pathology costs
    # the same per bucket at any N — more rows would only add buckets
    # (measured: 57 s day-bucket vs 1.6 s auto already at 200k).
    chat = (
        synth(min(n // 10, 200_000), 1)
        .withColumn("value", (F.col("event_id") % 2 * 100).cast("double"))
        .localCheckpoint()
    )

    forms = {
        "rate_global_s": _global(lambda: rate(df)),
        "rate_scalable_s": lambda: rate_scalable(df),
        "asof_global_s": lambda: asof_join(
            df, right, on="event_type", value_cols=["value"]
        ),
        "asof_scalable_s": lambda: asof_join_scalable(
            df, right, on="event_type", value_cols=["value"]
        ),
        # q62's state machine on 3 keys: ~20% decisive rows (hi/lo at
        # the synthetic value cycle's tails), stitched lag+prefix-sum
        # vs plain channel-global windows
        "episodes_global_s": lambda: hysteresis_episodes(
            df, hi=90000.0, lo=10000.0, scalable=False
        ),
        "episodes_scalable_s": lambda: hysteresis_episodes(
            df, hi=90000.0, lo=10000.0, scalable=True
        ),
        # round-12 default: density rollup picks plain here (1.33M
        # decisive rows/channel < AUTO_EPISODE_PLAIN_MAX) — should
        # track episodes_global_s plus the rollup's epsilon; the
        # stitched pick under a dense single channel is measured in
        # scripts/bench_episode_crossover.py
        "episodes_auto_s": lambda: hysteresis_episodes(
            df, hi=90000.0, lo=10000.0, scalable="auto"
        ),
        # q57's union under chatter: (event_id % 2) alternates per
        # consecutive id and ids interleave round-robin over the 3
        # channels, so every above-sample is an isolated episode —
        # N/2 episodes hit the union (a lazy projection over the
        # frozen df; both forms pay it identically)
        "coverage_global_s": _global(
            lambda: alarm_coverage(
                df.withColumn(
                    "value", (F.col("event_id") % 2 * 100).cast("double")
                ),
                50.0,
            )
        ),
        "coverage_scalable_s": lambda: alarm_coverage(
            df.withColumn(
                "value", (F.col("event_id") % 2 * 100).cast("double")
            ),
            50.0,
        ),
        # bucket_s=86400 is EXPLICIT since round 10: the operator
        # default flipped to 'auto', so the fixed-day pathology has to
        # be asked for to be measured
        "coalarm_day_s": lambda: co_alarm_matrix(
            chat, 50.0, bucket_s=86400
        ),
        "coalarm_auto_s": lambda: co_alarm_matrix(
            chat, 50.0, bucket_s="auto"
        ),
        # q71/q72: the causal z-score's three prefix accumulators —
        # per-channel global windows (3 sort tasks carry all N rows)
        # vs ONE cumsum_multi stitched pass (channels x days)
        # quant=1: the synthetic values reach 1e5, so milli-unit
        # quantization would overflow the int64 sum-of-squares
        # accumulator (the documented n * (value*quant)^2 < 2^63
        # bound); whole-unit quantization keeps it exact at 20M rows
        "zscore_global_s": lambda: running_zscore_batch(
            df, min_n=30, quant=1
        ),
        "zscore_scalable_s": lambda: running_zscore_scalable(
            df, min_n=30, quant=1
        ),
        # q75's ladder claim, measured: every tier straight from the
        # 20M-row fact table (three full scans + three fact-table
        # shuffles) vs the hierarchical form (ONE scan; coarser tiers
        # re-aggregate the previous tier's bucket-cardinality rows)
        "tiers_naive_s": lambda: _naive_tiers(df),
        "tiers_hier_s": lambda: tiered_rollup(
            df, tiers_s=(3600, 21600, 86400)
        ),
        "shuffle_global_s": lambda: df.select(
            "event_id",
            (
                F.row_number().over(
                    Window.orderBy(
                        F.xxhash64(F.col("event_id") + F.lit(1)), "event_id"
                    )
                )
                - 1
            ).alias("epoch_pos"),
        ),
        "shuffle_scalable_s": lambda: epoch_shuffle(
            df.select("event_id"),
            seed=1,
            n_buckets=1024,
            key="event_id",
            hash_mode="xxhash64",
            sort_output=False,  # neither form pays a presentation sort
        ),
    }
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_SKEW_RUNS", "2"))
    out = {"rows": n}
    for key, build in forms.items():
        # JVM GC between forms: the row-count-sized checkpoints + prior forms'
        # shuffle buffers otherwise make later forms pay earlier forms'
        # collection debt, which swamped single-pass timings with
        # 2-3x run-to-run noise. min-of-N for the same reason as the
        # headline queries.
        spark.sparkContext._jvm.System.gc()
        build().write.format("noop").mode("overwrite").save()  # warm-up
        best = float("inf")
        for _ in range(n_runs):
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        out[key] = round(best, 4)
    return out


if __name__ == "__main__":
    if "--skew-only" in sys.argv:
        from etsd_time_series_database_spark import get_spark

        spark = get_spark("etsd_spark_bench_skew")
        print(_SKEW_SENTINEL + json.dumps(_skew_compare(spark)))
    elif "--one" in sys.argv:
        _one_child(sys.argv[sys.argv.index("--one") + 1])
    else:
        main()
