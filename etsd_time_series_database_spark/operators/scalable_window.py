"""Skew-proof window operators for low-cardinality channel keys.

The natural Spark formulation of the reference's per-channel sequential
semantics (lag/rate/cumulative sums — reference delta encoding
code/etsdSave.c:396-398, read-side accumulation code/etsdRead.c:274,
rollover bump code/etsdQuery.c:332-336) is a window partitioned by
channel. That is correct but caps parallelism at the number of
channels: with 5 channels on a 1000-executor cluster, 995 executors
idle and 5 sort the full 100 TB history each — the classic
low-cardinality window skew.

This module re-expresses those operators with **two-level
parallelism**, preserving bit-identical results:

1. bucket every row by ``(channel, time_bucket)`` — thousands of
   independent groups, each small enough to sort in memory;
2. run the window inside each bucket (parallel across the cluster);
3. fix the bucket boundaries with a *tiny* per-bucket summary table
   (one row per (channel, bucket): first/last ts+value, bucket total),
   which is windowed per channel — cheap because it has
   n_channels x n_buckets rows, not n_rows — and joined back (AQE
   broadcasts it at runtime while it is actually tiny; no hard hint,
   so extreme channel x bucket cardinality degrades instead of OOMs).

This is the distributed prefix-sum / chained-scan pattern; the summary
table plays the role of the reference's per-block registers
(code/etsdSave.c:149-151): an absolute anchor per block so a reader
never has to scan from the beginning.

Measured (local[32], 20M rows, 3 channels, 6g heap — bench.py's
memory-bounded skew regime, min-of-2 with GC isolation): global-window
rate 15.5-18.3 s (3 sort tasks carry everything, under task-memory
pressure) vs rate_scalable 6.9-7.2 s (32-way) — ~2.4x on one box; the
ratio grows with cluster size because the global form is hard-capped
at n_channels tasks while this form scales with (channels x buckets).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etsd_time_series_database_spark.functions.exprs import epoch_us


def _bucketed(df: DataFrame, ts: str, bucket_s: int) -> DataFrame:
    return df.withColumn(
        "__bkt", (epoch_us(ts) / F.lit(bucket_s * 1_000_000)).cast("bigint")
    )


def lag_stitched(
    df: DataFrame,
    cols: list[str],
    channel: str = "event_type",
    ts: str = "ts",
    seq: str = "event_id",
    bucket_s: int = 86400,
) -> DataFrame:
    """Add ``__lag_<col>`` for each requested column == the value of the
    per-channel previous row (ordered by ts, seq) — computed with
    (channel, bucket) parallelism instead of channel parallelism.

    In-bucket rows take the ordinary in-bucket lag; each bucket's FIRST
    row takes the previous bucket's LAST row, delivered via the tiny
    boundary table.
    """
    b = _bucketed(df, ts, bucket_s)
    w_in = Window.partitionBy(channel, "__bkt").orderBy(F.col(ts), F.col(seq))

    # per-bucket last row of each column (the "register"): one row per
    # (channel, bucket) — thousands of rows, not billions.
    #
    # The struct ordering makes max_by's buffer non-mutable, so this
    # plans as SortAggregate — and that is the MEASURED right choice,
    # not an oversight (round-14 optimization pass): the ohlc-style
    # DECIMAL(38,0) packed ordering does flip it to a HashAggregate,
    # but precision-38 decimals are BigDecimal-backed (not primitive),
    # and at 20M rows / 32 cores the packed hash agg measured 2.15 s
    # vs 1.13 s for this struct form — the per-row BigDecimal
    # multiply+add costs ~2x what the partial sort (by the group key
    # the data is often already clustered on) costs. The packing also
    # broke on non-integral seq columns (lag_stitched is generic in
    # its tie column; ohlc's is pinned to an integer id).
    lasts = b.groupBy(channel, "__bkt").agg(
        *[
            F.max_by(c, F.struct(F.col(ts), F.col(seq))).alias(f"__last_{c}")
            for c in cols
        ]
    )
    # previous bucket's last row, per channel: window over the tiny table.
    w_bkt = Window.partitionBy(channel).orderBy("__bkt")
    prev = lasts.select(
        channel,
        "__bkt",
        *[
            F.lag(f"__last_{c}").over(w_bkt).alias(f"__prev_{c}")
            for c in cols
        ],
    )

    # Unhinted: prev is n_channels x n_buckets rows — tiny in practice,
    # but a hard broadcast hint OOMs instead of degrading at extreme
    # cardinality. AQE (session.py) broadcasts at runtime when small.
    out = b.join(prev, [channel, "__bkt"], "left")
    rn = F.row_number().over(w_in)
    out = out.withColumn("__rn", rn)
    for c in cols:
        in_bucket = F.lag(c).over(w_in)
        out = out.withColumn(
            f"__lag_{c}",
            F.when(F.col("__rn") == 1, F.col(f"__prev_{c}")).otherwise(in_bucket),
        )
    return out.drop("__rn", *[f"__prev_{c}" for c in cols])


def rate_scalable(
    df: DataFrame,
    channel: str = "event_type",
    value: str = "value",
    ts: str = "ts",
    seq: str = "event_id",
    bucket_s: int = 86400,
) -> DataFrame:
    """Counter -> rate with (channel, bucket) parallelism: the body of
    operators.range_stats.rate."""
    df = df.withColumn("__ts_us", epoch_us(ts))
    stitched = lag_stitched(
        df, [value, "__ts_us"], channel=channel, ts=ts, seq=seq, bucket_s=bucket_s
    )
    dv = F.col(value) - F.col(f"__lag_{value}")
    dt = F.col("__ts_us") - F.col("__lag___ts_us")
    return stitched.select(
        F.col(seq),
        F.col(channel),
        (dv * F.lit(1_000_000.0) / dt).alias("rate_per_s"),
    ).orderBy(seq)


def cumsum_scalable(
    df: DataFrame,
    col: Column,
    out_name: str,
    channel: str = "event_type",
    ts: str = "ts",
    seq: str = "event_id",
    bucket_s: int = 86400,
) -> DataFrame:
    """Per-channel running sum of ``col`` (ordered by ts, seq) as a
    distributed prefix sum: in-bucket running sum + exclusive prefix of
    per-bucket totals (computed on the tiny summary table, broadcast
    back). Equivalent to SUM() OVER (PARTITION BY channel ORDER BY ...
    ROWS UNBOUNDED PRECEDING) at any scale.

    If ``df`` already carries a ``__bkt`` column (e.g. the output of
    :func:`lag_stitched`), it is REUSED instead of recomputed: the
    incoming (channel, __bkt) hash partitioning and (ts, seq) sort
    order then satisfy this window's requirements, so Catalyst elides
    a second full-table Exchange + Sort — recomputing an identical
    bucket under a fresh attribute id defeats that reuse."""
    src = df.withColumn("__x", col)
    b = src if "__bkt" in df.columns else _bucketed(src, ts, bucket_s)
    w_in = Window.partitionBy(channel, "__bkt").orderBy(F.col(ts), F.col(seq)).rowsBetween(
        Window.unboundedPreceding, 0
    )
    totals = b.groupBy(channel, "__bkt").agg(F.sum("__x").alias("__tot"))
    w_excl = (
        Window.partitionBy(channel)
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        channel,
        "__bkt",
        F.coalesce(F.sum("__tot").over(w_excl), F.lit(0)).alias("__offset"),
    )
    return (
        b.withColumn("__run", F.sum("__x").over(w_in))
        # unhinted like lag_stitched's boundary join: AQE decides
        .join(offsets, [channel, "__bkt"])
        .withColumn(out_name, F.col("__run") + F.col("__offset"))
        .drop("__x", "__run", "__offset", "__bkt")
    )


def rollover_corrected_scalable(
    df: DataFrame,
    rollover: int = 2**32,
    channel: str = "event_type",
    value: str = "value",
    ts: str = "ts",
    seq: str = "event_id",
    bucket_s: int = 86400,
) -> DataFrame:
    """Rollover correction (the reference 'bump',
    code/etsdQuery.c:332-336) at full parallelism: stitched lag finds
    the drops, the distributed prefix sum accumulates them."""
    stitched = lag_stitched(
        df, [value], channel=channel, ts=ts, seq=seq, bucket_s=bucket_s
    )
    bump = F.when(F.col(value) < F.col(f"__lag_{value}"), F.lit(1)).otherwise(F.lit(0))
    # keep __bkt: cumsum_scalable reuses the existing (channel, __bkt)
    # partitioning + (ts, seq) order, skipping a second full shuffle
    withbump = stitched.withColumn("__bump", bump).drop(f"__lag_{value}")
    out = cumsum_scalable(
        withbump,
        F.col("__bump"),
        "__cum_bump",
        channel=channel,
        ts=ts,
        seq=seq,
        bucket_s=bucket_s,
    )
    return out.select(
        F.col(seq),
        F.col(channel),
        (F.col(value) + F.col("__cum_bump") * F.lit(float(rollover))).alias(
            "corrected_value"
        ),
    ).orderBy(seq)


def cumsum_multi(
    df: DataFrame,
    cols: dict[str, Column],
    channel: str = "event_type",
    ts: str = "ts",
    seq: str = "event_id",
    bucket_s: int = 86400,
) -> DataFrame:
    """Several per-channel running sums (ordered by ts, seq) in ONE
    stitched pass: each entry of ``cols`` (out_name -> Column) gets the
    distributed prefix-sum treatment of :func:`cumsum_scalable`, but
    the per-bucket totals aggregate, the offsets window and the
    boundary join are shared — n prefix sums cost one extra stage, not
    n. Reuses an existing ``__bkt`` column exactly like
    :func:`cumsum_scalable` (same Exchange/Sort elision)."""
    src = df
    for name, col in cols.items():
        src = src.withColumn(f"__x_{name}", col)
    b = src if "__bkt" in df.columns else _bucketed(src, ts, bucket_s)
    w_in = (
        Window.partitionBy(channel, "__bkt")
        .orderBy(F.col(ts), F.col(seq))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    totals = b.groupBy(channel, "__bkt").agg(
        *[F.sum(f"__x_{n}").alias(f"__tot_{n}") for n in cols]
    )
    w_excl = (
        Window.partitionBy(channel)
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        channel,
        "__bkt",
        *[
            F.coalesce(F.sum(f"__tot_{n}").over(w_excl), F.lit(0)).alias(
                f"__off_{n}"
            )
            for n in cols
        ],
    )
    out = b
    for n in cols:
        out = out.withColumn(f"__run_{n}", F.sum(f"__x_{n}").over(w_in))
    out = out.join(offsets, [channel, "__bkt"])
    for n in cols:
        out = out.withColumn(n, F.col(f"__run_{n}") + F.col(f"__off_{n}"))
    return out.drop(
        "__bkt",
        *[f"__x_{n}" for n in cols],
        *[f"__run_{n}" for n in cols],
        *[f"__off_{n}" for n in cols],
    )


def running_zscore_scalable(
    df: DataFrame,
    z: int = 3,
    min_n: int = 30,
    quant: int = 1000,
    channel: str = "event_type",
    ts: str = "ts",
    value: str = "value",
    seq: str = "event_id",
    bucket_s: int = 86_400,
) -> DataFrame:
    """Skew-proof twin of the causal running z-score
    (operators.trends.running_zscore_batch / the s12 live monitor):
    the three prefix accumulators (count, sum, sum-of-squares of the
    quantized reading) ride ONE :func:`cumsum_multi` stitched pass —
    in-bucket windows at (channels x buckets) parallelism plus a tiny
    per-bucket offset table — instead of a per-channel global window
    whose parallelism is the channel count. The strictly-PRECEDING
    prefix each flag decision needs is the inclusive stitched prefix
    minus the current row's own contribution (exact integers).

    Quantization, the DECIMAL(38,0) decision inequality, the output
    projection, and the NULL-channel/ts domain exclusion are the
    SHARED trends.zscore_quantized / trends.zscore_decide helpers —
    one copy, so the pinned q71==q72 bit-equality cannot drift (the
    domain filter also matters structurally here: cumsum_multi's
    boundary equi-join cannot carry NULL keys). Width bounds are
    documented on :func:`trends.zscore_decide`.
    """
    from etsd_time_series_database_spark.operators.trends import (
        zscore_decide,
        zscore_quantized,
    )

    base = df.filter(
        F.col(channel).isNotNull() & F.col(ts).isNotNull()
    ).select(
        F.col(channel), F.col(ts), F.col(seq), F.col(value)
    ).withColumn("__q", zscore_quantized(F.col(value), quant))
    cum = cumsum_multi(
        base,
        {
            "__cn": F.when(F.col("__q").isNotNull(), 1).otherwise(0),
            "__cs1": F.coalesce(F.col("__q"), F.lit(0)),
            "__cs2": F.coalesce(F.col("__q") * F.col("__q"), F.lit(0)),
        },
        channel=channel,
        ts=ts,
        seq=seq,
        bucket_s=bucket_s,
    )
    # exclusive (strictly-preceding) prefix = inclusive - own row
    own = F.when(F.col("__q").isNotNull(), 1).otherwise(0)
    staged = cum.select(
        epoch_us(F.col(ts)).alias("ts_us"),
        F.col(channel).alias("channel"),
        F.col(value).alias("value"),
        F.col("__q"),
        (F.col("__cn") - own).alias("__n"),
        (F.col("__cs1") - F.coalesce(F.col("__q"), F.lit(0)))
        .alias("__s1"),
        (
            F.col("__cs2")
            - F.coalesce(F.col("__q") * F.col("__q"), F.lit(0))
        ).alias("__s2"),
    )
    return zscore_decide(staged, z, min_n)
