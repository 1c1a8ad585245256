"""Channel-global references for the stitched window steps.

The package computes per-channel sequential semantics (lag, running
sums, value ranks, the interval union, the co-alarm overlap join) on
(channel, bucket) windows stitched at the bucket edges. Inside
:func:`channel_global` each stitched step is swapped for the same step
on a window partitioned by channel alone (or one global window), so an
equivalence test builds its reference as::

    with channel_global():
        want = op(df, ...)

The stand-ins never run the stitch code they replace. ``bench.py``
times the same forms for its ``*_global_s`` keys.
"""

from __future__ import annotations

import importlib
from contextlib import contextmanager

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etsd_time_series_database_spark.operators import scalable_window as sw

# the package re-exports the range_stats() function under the module's name
range_stats = importlib.import_module(
    "etsd_time_series_database_spark.operators.range_stats"
)


def _by_channel(channel: str, ts: str, seq: str):
    return Window.partitionBy(channel).orderBy(F.col(ts), F.col(seq))


def _running(channel: str, ts: str, seq: str):
    return _by_channel(channel, ts, seq).rowsBetween(
        Window.unboundedPreceding, 0
    )


def lag_global(df, cols, channel="event_type", ts="ts", seq="event_id",
               bucket_s=86400):
    """``lag_stitched``: the same ``__bkt`` and ``__lag_<col>``
    columns, the lag taken over the channel-wide window."""
    out = sw._bucketed(df, ts, bucket_s)
    for c in cols:
        out = out.withColumn(
            f"__lag_{c}", F.lag(c).over(_by_channel(channel, ts, seq))
        )
    return out


def cumsum_global(df, col, out_name, channel="event_type", ts="ts",
                  seq="event_id", bucket_s=86400):
    """``cumsum_scalable``: one channel-wide running sum."""
    return cumsum_multi_global(df, {out_name: col}, channel, ts, seq)


def cumsum_multi_global(df, cols, channel="event_type", ts="ts",
                        seq="event_id", bucket_s=86400):
    """``cumsum_multi``: each running sum over the channel-wide
    window; ``__bkt`` is dropped like the stitched form drops it."""
    for name, col in cols.items():
        df = df.withColumn(name, F.sum(col).over(_running(channel, ts, seq)))
    return df.drop("__bkt")


def value_ranks_global(src: DataFrame, channel, value, seq):
    """``range_stats._value_ranks``: ``row_number`` over the channel
    ordered by (value, seq); the counts are the channels' top ranks."""
    w = Window.partitionBy(channel).orderBy(F.col(value), F.col(seq))
    ranked = src.withColumn("__rn", F.row_number().over(w)).select(
        channel, value, "__rn"
    )
    return ranked, ranked.groupBy(channel).agg(F.max("__rn").alias("__n"))


def interval_union_global(eps: DataFrame, channel, bucket_s):
    """``range_stats._interval_union_stitched``: the one-level union.
    Episodes sorted by (start, end, channel); one whose start exceeds
    the running max of all previous ends opens a new interval (equal
    endpoints touch and merge)."""
    order = [F.col("start_us"), F.col("end_us"), F.col(channel)]
    w_prev = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, -1)
    w_run = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    # the first episode's preceding frame is empty: NULL, still opens
    opened = F.when(
        F.max("end_us").over(w_prev).isNull()
        | (F.col("start_us") > F.max("end_us").over(w_prev)),
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        eps.withColumn("__iv", F.sum(opened).over(w_run))
        .groupBy("__iv")
        .agg(
            F.min("start_us").alias("i_start"),
            F.max("end_us").alias("i_end"),
            F.count(F.lit(1)).alias("i_eps"),
        )
        .select("i_start", "i_end", "i_eps")
    )


def overlap_pairs_global(eps: DataFrame, channel, bucket_s, salt):
    """``range_stats._overlap_pairs``: the direct episode-level
    theta-join, no bucket split and no salt."""
    a, b = eps.alias("a"), eps.alias("b")
    return a.join(
        b,
        on=(F.col(f"a.{channel}") < F.col(f"b.{channel}"))
        & (F.col("a.start_us") < F.col("b.end_us"))
        & (F.col("b.start_us") < F.col("a.end_us")),
    ).select(
        F.col(f"a.{channel}").alias("channel_a"),
        F.col(f"b.{channel}").alias("channel_b"),
        (
            F.least(F.col("a.end_us"), F.col("b.end_us"))
            - F.greatest(F.col("a.start_us"), F.col("b.start_us"))
        ).alias("pair_ov"),
    )


_STAND_INS = [
    (sw, "lag_stitched", lag_global),
    (sw, "cumsum_scalable", cumsum_global),
    (sw, "cumsum_multi", cumsum_multi_global),
    (range_stats, "_value_ranks", value_ranks_global),
    (range_stats, "_interval_union_stitched", interval_union_global),
    (range_stats, "_overlap_pairs", overlap_pairs_global),
]


@contextmanager
def channel_global():
    """Build operators with every stitched step replaced by its
    channel-global stand-in; the originals come back on exit."""
    saved = [(mod, name, getattr(mod, name)) for mod, name, _ in _STAND_INS]
    try:
        for mod, name, stand_in in _STAND_INS:
            setattr(mod, name, stand_in)
        yield
    finally:
        for mod, name, original in saved:
            setattr(mod, name, original)
