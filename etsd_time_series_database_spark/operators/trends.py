"""Time-series analytics beyond the reference's query verbs: OHLC
consolidation bars, value histograms, z-score anomaly detection,
time-weighted averages, truncated EWMA smoothing, and regular-grid
resampling with linear interpolation.

These extend the reference's consolidation surface (RRA-style
downsampling, reference code/plugins/edoRRD.c:44-74, and the boundary
interpolation of code/etsdQuery.c:254,279) with the derived series a
monitoring/ML feature pipeline computes from the same store.

Scale notes
-----------
* ``ohlc`` and ``value_histogram`` are pure hash aggregations —
  map-side combinable, one shuffle, no window sort; they scale with
  (channel × bucket) cardinality, not row count.
* ``zscore_anomalies`` is two passes over the data with a per-channel
  stats join (AQE-broadcast at runtime) — no window, no skew.
* ``time_weighted_avg``, ``ewma_truncated`` and
  ``resample_interpolate`` need per-channel ordered state, but all
  three window on **(channel, time-bucket)** with a stitched boundary
  carry (the operators/scalable_window.py pattern), so parallelism
  scales with channels x buckets, not channel cardinality. The
  stitching costs a few fixed stages, so ``mode='auto'`` (default)
  drops to the plain channel-global window when the Catalyst size
  estimate says the input is small — both forms are bit-identical
  (tested), the choice is purely physical:
  - TWA carries a 1-row *lead* margin: the last row of each bucket
    takes the next non-empty bucket's first timestamp from a tiny
    per-bucket boundary table (exact, no density assumption);
  - EWMA carries the last k-1 rows before each bucket as explicit
    margin rows, rebuilt exactly from the previous k-1 non-empty
    buckets' tails (every non-empty bucket contributes >= 1 row, so
    k-1 buckets always cover k-1 rows — exact for any data layout);
  - resample carries the nearest data sample across bucket edges in
    both directions via the same boundary-table trick.

Determinism (engine vs oracle) follows functions/exprs.py: cross-row
sums go through DECIMAL (associative, order-independent), per-row
double math keeps an identical expression shape on both engines, and
EWMA weights are exact powers of two.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etsd_time_series_database_spark.functions.exprs import (
    DEC,
    bucket_epoch,
    epoch_us,
)

# Wide-enough decimals for value*duration products (|value| < 1e9,
# duration < 1e14 us) and for squared values.
DEC_SQ = "decimal(28,6)"
DEC_W = "decimal(14,0)"

EWMA_K = 16  # truncation depth; weights 2^(K-1-lag) are exact in binary


def _ts_us(t: str) -> Column:
    return F.unix_micros(F.lit(t).cast("timestamp"))


def ohlc(
    df: DataFrame,
    width_s: int = 3600,
    channel: str = "event_type",
    ts: str = "ts",
    value: str = "value",
    tie: str = "event_id",
) -> DataFrame:
    """Open/high/low/close consolidation bars per (channel, bucket).

    Open/close are the values at the earliest/latest (ts, tie) in the
    bucket.  A ``min(struct)``/``max(struct)`` formulation would be
    the obvious one, but struct aggregation buffers force Spark into
    SortAggregate — a full per-partition sort of the fact table.
    Instead (ts, tie) is packed into one order-preserving
    DECIMAL(38,0) key (``us * 10^19 + tie``; exact, since |us·10^19| <
    10^38 and 0 ≤ tie < 10^19 for any non-negative BIGINT id) and
    open/close become ``min_by``/``max_by`` with a primitive ordering
    — verified to plan as partial-agg HashAggregate: map-side
    combinable, one shuffle, no sort.  This is the reference's RRA
    consolidation (code/plugins/edoRRD.c:44-74) widened from avg-only
    to the four classic consolidation functions.

    Requires ``tie`` to be a non-negative integer id (the packing is
    then collision-free, so ties on ts are broken deterministically).
    """
    shift = F.expr("CAST(10000000000000000000 AS DECIMAL(20,0))")
    packed = (
        epoch_us(ts).cast("decimal(19,0)") * shift
        + F.col(tie).cast("decimal(19,0)")
    )
    return (
        df.select(
            F.col(channel),
            bucket_epoch(ts, width_s).alias("bucket_s"),
            packed.alias("ord"),
            F.col(value),
        )
        .groupBy(channel, "bucket_s")
        .agg(
            F.min_by(value, "ord").alias("open_value"),
            F.max(value).alias("high_value"),
            F.min(value).alias("low_value"),
            F.max_by(value, "ord").alias("close_value"),
            F.count(F.lit(1)).alias("n_samples"),
        )
        .orderBy(channel, "bucket_s")
    )


def value_histogram(
    df: DataFrame,
    bin_width: float = 25.0,
    channel: str = "event_type",
    value: str = "value",
) -> DataFrame:
    """Fixed-width value histogram per channel (one hash-agg shuffle).

    The bin index is ``floor(value / width)`` computed in double then
    materialized as BIGINT so Spark (whose floor(double) is LONG) and
    ANSI oracles (whose floor(double) is DOUBLE) agree bit-for-bit.
    """
    bin_idx = F.floor(F.col(value) / F.lit(bin_width)).cast("bigint")
    return (
        df.select(F.col(channel), bin_idx.alias("bin_idx"))
        .groupBy(channel, "bin_idx")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            channel,
            "bin_idx",
            (F.col("bin_idx") * F.lit(bin_width)).alias("bin_lo"),
            "n",
        )
        .orderBy(channel, "bin_idx")
    )


def value_heatmap(
    df: DataFrame,
    bucket_s: int = 86_400,
    bin_width: float = 25.0,
    channel: str = "event_type",
    ts: str = "ts",
    value: str = "value",
) -> DataFrame:
    """Time x value heatmap: per channel, per time bucket, per
    fixed-width value bin, the sample count — the 2-D density a
    monitoring dashboard renders to show a distribution DRIFTING over
    time (the cross of the q36 static histogram and the q6/q17 time
    buckets; q54 compares two windows, this shows every window).

    One map-side-combinable hash-agg keyed by (channel, bucket,
    bin) — output cardinality is channels x time-span/bucket x
    occupied bins, bounded by the time span and value range, never by
    data volume. Empty cells never materialize (render-side zeros).
    Bucket index is integer DIV on epoch micros; bin index is
    ``floor(value / width)`` in double then BIGINT (the q36
    determinism note).
    """
    bucket_us = F.lit(int(bucket_s) * 1_000_000)
    bucket = F.expr(
        f"unix_micros({ts}) div {int(bucket_s) * 1_000_000}"
    ) * bucket_us
    bin_idx = F.floor(F.col(value) / F.lit(bin_width)).cast("bigint")
    return (
        df.select(
            F.col(channel),
            bucket.alias("bucket_us"),
            bin_idx.alias("bin_idx"),
        )
        .groupBy(channel, "bucket_us", "bin_idx")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            channel,
            "bucket_us",
            "bin_idx",
            (F.col("bin_idx") * F.lit(bin_width)).alias("bin_lo"),
            "n",
        )
        .orderBy(channel, "bucket_us", "bin_idx")
    )


def zscore_anomalies(
    df: DataFrame,
    z: float = 3.0,
    channel: str = "event_type",
    ts: str = "ts",
    value: str = "value",
    tie: str = "event_id",
) -> DataFrame:
    """Events whose value deviates more than ``z`` standard deviations
    from their channel's mean.

    Two passes, no window: a per-channel moment aggregation (decimal
    sums → order-independent) joined back onto the stream side. The
    stats table is one row per channel — no broadcast hint; AQE sizes
    the post-shuffle side and picks broadcast at runtime (matching the
    convention every other trends join follows since 66e1272).
    mean/std are derived from exact sums so every engine computes the
    identical doubles; the z expression shape matches the oracle's.
    """
    v = F.col(value)
    stats = df.groupBy(channel).agg(
        F.sum(v.cast(DEC)).cast("double").alias("s"),
        F.sum((v * v).cast(DEC_SQ)).cast("double").alias("ss"),
        F.count(v).alias("n"),
    )
    mean = F.col("s") / F.col("n")
    # ss/n - mean^2 can round to a tiny negative on (near-)constant
    # channels; clamp before sqrt (Spark would emit NaN, ANSI oracles
    # raise — both wrong answers for "variance is zero").
    var = F.greatest(
        F.col("ss") / F.col("n") - mean * mean, F.lit(0.0)
    )
    # std = 0 (constant channel) has no outliers by definition; drop
    # those channels up front — under ANSI semantics (Spark 4 default)
    # the z division would otherwise raise DIVIDE_BY_ZERO.
    stats = stats.select(
        channel, mean.alias("mean"), F.sqrt(var).alias("std")
    ).filter(F.col("std") > 0)
    zcol = (v - F.col("mean")) / F.col("std")
    # Filter on the raw z; export doubles at the round-6 convention
    # (decimal->double conversions can differ by 1 ulp across engines).
    return (
        df.join(stats, channel)
        .withColumn("z", zcol)
        .filter(F.abs(F.col("z")) > F.lit(z))
        .select(
            tie,
            channel,
            epoch_us(ts).alias("ts_us"),
            value,
            F.round("mean", 6).alias("mean"),
            F.round("std", 6).alias("std"),
            F.round("z", 6).alias("z"),
        )
        .orderBy(tie)
    )


def _bucket(us_col: Column, bucket_s: int) -> Column:
    return (us_col / F.lit(bucket_s * 1_000_000)).cast("bigint")


# The stitched (channel, bucket) windows pay ~3 extra stages of fixed
# cost (boundary agg + boundary window + join). Below this estimated
# input-row count a single-channel global window sorts faster than the
# machinery costs; above it, stitching wins and keeps winning as the
# gap grows with cluster size. Both forms are bit-identical (tested),
# so the choice is purely physical.
STITCH_AUTO_MIN_ROWS = 1_000_000
_EST_ROW_BYTES = 24  # conservative bytes/row for the narrow ts+value shape


def _est_rows(df: DataFrame) -> int:
    """Driver-side input-size estimate from Catalyst statistics
    (optimizedPlan.stats.sizeInBytes / a conservative row width) —
    zero jobs, so it is free at any scale. Returns a huge number on
    any failure: when in doubt, choose the scale-safe form."""
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        return size // _EST_ROW_BYTES
    except Exception:
        return 1 << 62


def _use_stitched(df: DataFrame, mode: str) -> bool:
    if mode == "stitched":
        return True
    if mode == "global":
        return False
    if mode != "auto":
        raise ValueError(f"mode must be stitched|global|auto, got {mode!r}")
    return _est_rows(df) >= STITCH_AUTO_MIN_ROWS


def _hold_segments(
    df: DataFrame,
    start: str,
    end: str,
    channel: str,
    ts: str,
    value: str,
    tie: str,
    bucket_s: int,
    mode: str,
) -> DataFrame:
    """Carry-forward hold segments clipped to [start, end): one row per
    sample with its held value and integer-microsecond ``dur_us``.
    Shared by :func:`time_weighted_avg` and :func:`time_in_state` —
    the lead(us) is the only sequential dependency, computed at
    (channel, bucket) parallelism in stitched form via the 1-row
    boundary-table margin (see time_weighted_avg's docstring)."""
    t0, t1 = _ts_us(start), _ts_us(end)
    stitched = _use_stitched(df, mode)
    rows = df.select(
        F.col(channel),
        epoch_us(ts).alias("us"),
        F.col(value),
        F.col(tie),
    ).filter(F.col("us") < t1)
    if stitched:
        rows = rows.withColumn("__bkt", _bucket(F.col("us"), bucket_s))
        w_in = Window.partitionBy(channel, "__bkt").orderBy("us", tie)
        # tiny boundary table: first us of each non-empty (channel,
        # bucket), shifted to give every bucket its successor bucket's
        # first us
        w_bkt = Window.partitionBy(channel).orderBy("__bkt")
        nxt_first = (
            rows.groupBy(channel, "__bkt")
            .agg(F.min("us").alias("__first_us"))
            .select(
                channel,
                "__bkt",
                F.lead("__first_us").over(w_bkt).alias("__nxt_first_us"),
            )
        )
        # No broadcast hint: the boundary table is n_channels x
        # n_buckets rows — usually tiny, but a hard hint would OOM
        # instead of degrade at extreme cardinality (1e5 channels x a
        # decade of daily buckets). AQE (enabled in session.py) sees
        # the actual post-shuffle size and broadcasts at runtime
        # exactly when it is genuinely small.
        seg = rows.join(nxt_first, [channel, "__bkt"]).withColumn(
            "nxt",
            F.coalesce(F.lead("us").over(w_in), F.col("__nxt_first_us"), t1),
        )
    else:
        w = Window.partitionBy(channel).orderBy("us", tie)
        seg = rows.withColumn(
            "nxt", F.coalesce(F.lead("us").over(w), t1)
        )
    return (
        seg.withColumn("seg_start", F.greatest(F.col("us"), t0))
        .withColumn("seg_end", F.least(F.col("nxt"), t1))
        .withColumn("dur_us", F.col("seg_end") - F.col("seg_start"))
        .filter(F.col("dur_us") > 0)
    )


def time_weighted_avg(
    df: DataFrame,
    start: str,
    end: str,
    channel: str = "event_type",
    ts: str = "ts",
    value: str = "value",
    tie: str = "event_id",
    bucket_s: int = 86400,
    mode: str = "auto",
) -> DataFrame:
    """Carry-forward time-weighted average per channel over [start, end).

    Each sample holds its value until the next sample; segments are
    clipped to the query range, so a sample before ``start`` whose
    successor lies inside the range contributes its pro-rata tail —
    the reference's interval interpolation generalized from totals
    (code/etsdQuery.c:254,279) to averages.

    Weights are integer microsecond durations; value×duration products
    stay in exact DECIMAL, so the aggregation is order-independent.

    The only sequential dependency is ``lead(us)``. In stitched form it
    is computed at (channel, bucket) parallelism with a 1-row lead
    margin: a tiny per-(channel, bucket) boundary table (first us per
    bucket) is windowed per channel — n_channels x n_buckets rows, not
    n_rows — and each bucket's last row takes the next non-empty
    bucket's first us from it. Bit-identical to the global per-channel
    window at any bucket size (the boundary table skips empty buckets
    by construction), but parallelism scales with channels x buckets.

    ``mode='auto'`` (default) picks the plain channel-global window
    when the Catalyst size estimate says the input is small (<
    STITCH_AUTO_MIN_ROWS): same result, none of the boundary-machinery
    stages. 'stitched'/'global' force a form.
    """
    seg = _hold_segments(df, start, end, channel, ts, value, tie, bucket_s, mode)
    contrib = F.col(value).cast(DEC) * F.col("dur_us").cast(DEC_W)
    return (
        seg.groupBy(channel)
        .agg(
            # The decimal sum is exact but ~20 significant digits; its
            # decimal->double conversion differs by 1 ulp across engines,
            # so the quotient is pinned at 6 decimals (round6 convention).
            F.round(
                F.sum(contrib).cast("double")
                / F.sum("dur_us").cast("double"),
                6,
            ).alias("twa"),
            F.sum("dur_us").cast("bigint").alias("covered_us"),
        )
        .orderBy(channel)
    )


def _k_lag_frame(
    df: DataFrame,
    stitched: bool,
    k: int,
    channel: str,
    ts: str,
    value: str,
    tie: str,
    bucket_s: int,
):
    """Shared k-row-history scaffolding for ewma_truncated and
    rolling_stats: returns ``(u, w_in)`` where ``u`` is the input
    (tie, channel, us, value) relation — plus, in stitched mode, the
    (k-1)-row carry margin rows flagged ``__margin=1`` — and ``w_in``
    the window whose frame sees exactly the right k-row history.

    Stitched mechanics (bit-identical to the channel-global window):
    per (channel, bucket) the last min(k-1, n) rows form a bounded
    "tail" array; the k-1 rows before any bucket are rebuilt from the
    previous k-1 non-empty buckets' tails (every non-empty bucket
    contributes >= 1 row, so k-1 of them always cover k-1 rows) and
    injected as margin rows the caller drops after its window.
    """
    rows = df.select(
        F.col(tie), F.col(channel), epoch_us(ts).alias("us"), F.col(value)
    )
    if not stitched:
        w_in = Window.partitionBy(channel).orderBy("us", tie)
        return rows.withColumn("__margin", F.lit(0)), w_in
    rows = rows.withColumn("__bkt", _bucket(F.col("us"), bucket_s))
    w_in = Window.partitionBy(channel, "__bkt").orderBy("us", tie)
    w_desc = Window.partitionBy(channel, "__bkt").orderBy(
        F.col("us").desc(), F.col(tie).desc()
    )
    tails = (
        rows.withColumn("__rnd", F.row_number().over(w_desc))
        .filter(F.col("__rnd") <= k - 1)
        .groupBy(channel, "__bkt")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("us", tie, value))
            ).alias("__tail")
        )
    )
    # carry: concat the previous k-1 buckets' tails (frame order =
    # ascending bucket), keep the last k-1 entries.
    w_carry = (
        Window.partitionBy(channel)
        .orderBy("__bkt")
        .rowsBetween(-(k - 1), -1)
    )
    allprev = F.flatten(F.collect_list("__tail").over(w_carry))
    carry = tails.select(
        channel,
        "__bkt",
        F.when(F.size(allprev) <= k - 1, allprev)
        .otherwise(F.slice(allprev, -(k - 1), k - 1))
        .alias("__carry"),
    )
    margin = carry.select(
        channel, "__bkt", F.explode("__carry").alias("__s")
    ).select(
        F.col("__s")[tie].alias(tie),
        F.col(channel),
        F.col("__s")["us"].alias("us"),
        F.col("__s")[value].alias(value),
        "__bkt",
        F.lit(1).alias("__margin"),
    )
    return rows.withColumn("__margin", F.lit(0)).unionByName(margin), w_in


def ewma_truncated(
    df: DataFrame,
    channel: str = "event_type",
    ts: str = "ts",
    value: str = "value",
    tie: str = "event_id",
    k: int = EWMA_K,
    bucket_s: int = 86400,
    mode: str = "auto",
) -> DataFrame:
    """Per-channel EWMA with alpha=1/2 truncated to the last ``k``
    samples: ewma_t = Σ_{j=0..k-1} 2^(k-1-j)·x_{t-j} / Σ 2^(k-1-j).

    alpha=1/2 makes every weight an exact power of two and the
    truncation error 2^-k; numerator terms are DECIMAL×integer-weight
    products (exact, associative), so any summation order — Spark's
    partial aggregation or a sequential oracle — yields the identical
    double.

    In stitched form the k-lag window runs at (channel, bucket)
    parallelism with a (k-1)-row carry margin: each bucket's last k-1
    rows form a tiny per-bucket "tail" array; the last k-1 rows
    *before* any bucket are then rebuilt from the previous k-1
    non-empty buckets' tails (every non-empty bucket contributes >= 1
    row, so k-1 of them always cover k-1 rows, and a row in the global
    last-k-1 before a bucket is necessarily in its own bucket's last
    k-1 — exact for any layout, dense or sparse) and injected as
    margin rows that are dropped after the window. Results are
    bit-identical to the global per-channel window; parallelism scales
    with channels x buckets.

    ``mode='auto'`` (default) falls back to the plain channel-global
    window below the STITCH_AUTO_MIN_ROWS size estimate — identical
    results without the tail/carry stages.
    """
    u, w_in = _k_lag_frame(
        df, _use_stitched(df, mode), k, channel, ts, value, tie, bucket_s
    )

    num = F.lit(0).cast(DEC)
    den = F.lit(0).cast("bigint")
    for lag in range(k):
        weight = 1 << (k - 1 - lag)
        x = F.lag(value, lag).over(w_in) if lag else F.col(value)
        num = num + F.coalesce(
            x.cast(DEC) * F.lit(weight).cast(DEC_W), F.lit(0).cast(DEC)
        )
        den = den + F.when(x.isNotNull(), F.lit(weight)).otherwise(F.lit(0))
    return (
        u.withColumn(
            # The decimal numerator is exact but ~18+ significant
            # digits; its decimal->double conversion is the 1-ulp
            # cross-engine hazard, so the quotient is pinned at the
            # round-6 convention (same as time_weighted_avg).
            "ewma", F.round(num.cast("double") / den.cast("double"), 6)
        )
        .filter(F.col("__margin") == 0)
        .select(tie, channel, "us", value, "ewma")
        .orderBy(tie)
    )


def resample_interpolate(
    df: DataFrame,
    start: str,
    end: str,
    width_s: int = 3600,
    channel: str = "event_type",
    ts: str = "ts",
    value: str = "value",
    tie: str = "event_id",
    bucket_s: int = 86400,
    mode: str = "auto",
    fill: str = "linear",
) -> DataFrame:
    """Resample each channel onto a regular [start, end] grid with
    linear interpolation between the nearest samples (nearest-value at
    the edges) — gap-fill for ML feature matrices and dashboards.
    ``fill='locf'`` switches to step fill (last observation carried
    forward, the Prometheus/monitoring convention; the leading edge
    before a channel's first sample takes the next sample) — same
    carry machinery, only the closing expression differs.

    Union-tag design (same as operators/asof.py): grid points and data
    rows are unioned, then one ascending and one descending
    carry-forward window pick the surrounding samples — no range join,
    no per-grid-point scan.  The carried prev/next are single STRUCT
    columns so the timestamp and value always come from the same
    sample row.

    In stitched form both carry windows run at (channel, bucket)
    parallelism: a tiny per-(channel, bucket) boundary table holds
    each bucket's first and last data sample; carrying *those*
    forward/backward per channel (n_channels x n_buckets rows) gives
    every bucket the nearest sample beyond its own edge, and in-bucket
    carries handle the rest. Bit-identical to the channel-global
    windows at any bucket size.

    ``mode='auto'`` (default) uses the plain channel-global carry
    windows below the STITCH_AUTO_MIN_ROWS size estimate — identical
    results without the bounds/carries stages.
    """
    t0, t1 = _ts_us(start), _ts_us(end)
    stitched = _use_stitched(df, mode)
    step_us = width_s * 1_000_000
    grid = (
        df.select(channel)
        .distinct()
        .select(
            F.col(channel),
            F.explode(
                F.sequence(t0, t1, F.lit(step_us).cast("bigint"))
            ).alias("us"),
            F.lit(None).cast("double").alias(value),
            F.lit(1).alias("is_grid"),
            F.lit(0).cast("bigint").alias("t"),
        )
    )
    data = df.select(
        F.col(channel),
        epoch_us(ts).alias("us"),
        F.col(value),
        F.lit(0).alias("is_grid"),
        F.col(tie).cast("bigint").alias("t"),
    )
    u = data.unionByName(grid)
    sample = F.when(
        F.col("is_grid") == 0,
        F.struct(F.col("us").alias("u"), F.col(value).alias("v")),
    )
    # Tie order: among data rows sharing a timestamp, "prev" is the
    # largest tie ≤ grid and "next" the smallest tie ≥ grid — both
    # deterministic.  is_grid separates grid rows, so the tie column
    # never compares NULL-vs-value across engines.
    if not stitched:
        w_asc = (
            Window.partitionBy(channel)
            .orderBy("us", "is_grid", "t")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        w_desc = (
            Window.partitionBy(channel)
            .orderBy(F.col("us").desc(), F.col("is_grid"), F.col("t").desc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        u = u.withColumn(
            "prev", F.last(sample, ignorenulls=True).over(w_asc)
        ).withColumn("nxt", F.last(sample, ignorenulls=True).over(w_desc))
    else:
        u = u.withColumn("__bkt", _bucket(F.col("us"), bucket_s))
        w_asc = (
            Window.partitionBy(channel, "__bkt")
            .orderBy("us", "is_grid", "t")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        w_desc = (
            Window.partitionBy(channel, "__bkt")
            .orderBy(F.col("us").desc(), F.col("is_grid"), F.col("t").desc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        # Boundary table: per (channel, bucket) the first/last data
        # sample (grid rows carry nothing), then per-channel carries
        # over the tiny table give each bucket the nearest sample
        # beyond its edges. (us, t) is packed into one order-preserving
        # DECIMAL so min_by/max_by keep a primitive agg buffer
        # (HashAggregate, no sort — the ohlc trick); the struct is
        # reassembled after the agg.
        shift = F.expr("CAST(10000000000000000000 AS DECIMAL(20,0))")
        ordd = F.when(
            F.col("is_grid") == 0,
            F.col("us").cast("decimal(19,0)") * shift
            + F.col("t").cast("decimal(19,0)"),
        )
        data_us = F.when(F.col("is_grid") == 0, F.col("us"))
        bounds = (
            u.groupBy(channel, "__bkt")
            .agg(
                F.min(data_us).alias("__first_u"),
                F.min_by(value, ordd).alias("__first_v"),
                F.max(data_us).alias("__last_u"),
                F.max_by(value, ordd).alias("__last_v"),
            )
            .select(
                channel,
                "__bkt",
                F.when(
                    F.col("__first_u").isNotNull(),
                    F.struct(
                        F.col("__first_u").alias("u"),
                        F.col("__first_v").alias("v"),
                    ),
                ).alias("__first_s"),
                F.when(
                    F.col("__last_u").isNotNull(),
                    F.struct(
                        F.col("__last_u").alias("u"),
                        F.col("__last_v").alias("v"),
                    ),
                ).alias("__last_s"),
            )
        )
        w_b_asc = (
            Window.partitionBy(channel)
            .orderBy("__bkt")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        w_b_desc = (
            Window.partitionBy(channel)
            .orderBy(F.col("__bkt").desc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        carries = bounds.select(
            channel,
            "__bkt",
            F.last("__last_s", ignorenulls=True)
            .over(w_b_asc)
            .alias("__carry_prev"),
            F.last("__first_s", ignorenulls=True)
            .over(w_b_desc)
            .alias("__carry_nxt"),
        )
        # Unhinted for the same reason as twa's boundary join: the
        # carries table scales with channels x buckets, so let AQE
        # broadcast it at runtime when small rather than forcing it at
        # any size.
        u = u.join(carries, [channel, "__bkt"])
        u = u.withColumn(
            "prev",
            F.coalesce(
                F.last(sample, ignorenulls=True).over(w_asc),
                F.col("__carry_prev"),
            ),
        )
        u = u.withColumn(
            "nxt",
            F.coalesce(
                F.last(sample, ignorenulls=True).over(w_desc),
                F.col("__carry_nxt"),
            ),
        )
    p_u, p_v = F.col("prev.u"), F.col("prev.v")
    n_u, n_v = F.col("nxt.u"), F.col("nxt.v")
    if fill == "locf":
        interp = F.when(F.col("prev").isNull(), n_v).otherwise(p_v)
    elif fill == "linear":
        interp = (
            F.when(F.col("prev").isNull(), n_v)
            .when(F.col("nxt").isNull(), p_v)
            .when(n_u == p_u, p_v)
            .otherwise(
                p_v
                + (n_v - p_v)
                * (
                    (F.col("us") - p_u).cast("double")
                    / (n_u - p_u).cast("double")
                )
            )
        )
    else:
        raise ValueError(f"unknown fill mode {fill!r}")
    return (
        u.filter(F.col("is_grid") == 1)
        .select(
            F.col(channel),
            F.col("us").alias("grid_us"),
            interp.alias("value_interp"),
        )
        .orderBy(channel, "grid_us")
    )


def channel_correlation(
    df: DataFrame,
    width_s: int = 3600,
    channel: str = "event_type",
    value: str = "value",
    ts: str = "ts",
) -> DataFrame:
    """Pairwise Pearson correlation between channels, computed over
    their per-bucket mean series aligned on a common time grid — the
    cross-series dependence matrix a monitoring pipeline reads to find
    sensors that move together (no reference analog; the reference
    queries one channel at a time, code/etsdQuery.c:218-401).

    Shape: (1) hash-agg to (channel, bucket) means — one shuffle, scales
    with bucket-grid size, not row count; (2) equi self-join on bucket
    restricted to a < b pairs — with C channels this is C(C-1)/2 rows
    per bucket, and C is small (it is a *channel* axis, not a row axis);
    (3) hash-agg per pair to the five Pearson sums. No window, no sort,
    no cartesian: the join is keyed on bucket so AQE shards the grid.

    Determinism: bucket means use exact decimal sums; the cross/square
    sums cast each per-row double product to DECIMAL before summing
    (order-independent); the final covariance/stddev arithmetic is
    scalar double math with identical shape on both engines, rounded
    to 6 places.
    """
    b = _bucket_means(df, width_s, channel, value, ts)
    lhs = b.select(
        F.col("ch").alias("ch_a"), "bucket", F.col("m").alias("x")
    )
    rhs = b.select(
        F.col("ch").alias("ch_b"), "bucket", F.col("m").alias("y")
    )
    pairs = lhs.join(rhs, "bucket").filter(F.col("ch_a") < F.col("ch_b"))
    return (
        _pearson(pairs, ["ch_a", "ch_b"])
        .orderBy("ch_a", "ch_b")
    )


def _bucket_means(
    df: DataFrame, width_s: int, channel: str, value: str, ts: str
) -> DataFrame:
    """(ch, bucket, m): per-channel bucket-mean series on a common time
    grid — one map-side-combinable hash-agg; mean via exact decimal sum
    so the grid is engine-deterministic.

    The mean is quantized with round(·, 6) — NOT left to the decimal
    cast in the downstream Pearson sums — because the two disagree on
    exact-half ties: a mean like 55.4465625 (decimal sums divided by a
    power-of-two count land exactly on the 5e-7 boundary) goes UP
    under Spark's double→decimal cast (HALF_UP) but DOWN under
    DuckDB's (HALF_EVEN), while both engines' round() is
    half-away-from-zero. Rounding first makes the later cast exact, so
    no tie is ever taken. (Found by q47 at sf0.1: 8 of 720 view-channel
    buckets sat exactly on the boundary.)"""
    return df.groupBy(
        F.col(channel).alias("ch"),
        bucket_epoch(ts, width_s).alias("bucket"),
    ).agg(
        F.round(
            F.sum(F.col(value).cast(DEC)).cast("double") / F.count(value), 6
        ).alias("m")
    )


def _pearson(pairs: DataFrame, keys: list[str]) -> DataFrame:
    """Grouped Pearson r over (x, y) pair rows via the five decimal
    sums — order-independent, portable, one hash-agg."""
    agg = pairs.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(DEC)).alias("sx"),
        F.sum(F.col("y").cast(DEC)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(DEC_SQ)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(DEC_SQ)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(DEC_SQ)).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    cov = n * F.col("sxy").cast("double") - sx * sy
    # n*sxx - sx^2 can round to a tiny negative for (near-)constant
    # series; clamp before sqrt (NaN on Spark, an exception on ANSI
    # oracles — either aborts or corrupts the whole result set).
    vx = F.greatest(n * F.col("sxx").cast("double") - sx * sx, F.lit(0.0))
    vy = F.greatest(n * F.col("syy").cast("double") - sy * sy, F.lit(0.0))
    den = F.sqrt(vx) * F.sqrt(vy)
    # r is undefined when either series is constant: NULL, not a
    # DIVIDE_BY_ZERO error (ANSI Spark) or NaN (engine-dependent).
    return agg.select(
        *keys,
        F.col("n").alias("n_buckets"),
        F.when(den > 0, F.round(cov / den, 6)).alias("pearson"),
    )


def autocorrelation(
    df: DataFrame,
    lags: tuple[int, ...] = (1, 2, 3),
    width_s: int = 3600,
    channel: str = "event_type",
    value: str = "value",
    ts: str = "ts",
) -> DataFrame:
    """Autocorrelation function per channel: Pearson r between each
    channel's bucket-mean series and itself shifted by k buckets, for
    each lag k — the periodicity probe (daily/weekly cycles) a
    capacity-planning pipeline runs over every sensor.

    Shape: bucket-mean hash-agg (one shuffle), explode the lag list on
    the left side, equi-join on (ch, bucket+k·W = bucket) — a keyed
    join, NOT a window: no per-channel sort, so parallelism scales
    with the bucket grid rather than channel cardinality (contrast the
    lag() formulation, which caps at #channels like q07's headline
    form). Determinism matches channel_correlation (decimal Pearson
    sums, round-6 finish).
    """
    b = _bucket_means(df, width_s, channel, value, ts)
    lhs = (
        b.withColumn("lag_k", F.explode(F.array(*[F.lit(k) for k in lags])))
        .select(
            "ch",
            "lag_k",
            (F.col("bucket") + F.col("lag_k") * F.lit(width_s)).alias("bucket"),
            F.col("m").alias("x"),
        )
    )
    rhs = b.select("ch", "bucket", F.col("m").alias("y"))
    pairs = lhs.join(rhs, ["ch", "bucket"])
    return _pearson(pairs, ["ch", "lag_k"]).orderBy("ch", "lag_k")


def seasonal_profile(
    df: DataFrame,
    period_buckets: int = 24,
    bucket_s: int = 3600,
    channel: str = "event_type",
    ts: str = "ts",
    value: str = "value",
) -> DataFrame:
    """Seasonal profile: fold the series onto a repeating phase grid —
    hour-of-day by default (24 x 3600s phases) — and aggregate per
    (channel, phase). The RRD/monitoring "daily shape" view: baseline
    load per hour, min/max envelope, sample count.

    Phase is pure integer arithmetic on epoch microseconds
    ((epoch // bucket) mod period — UTC, engine-portable, no calendar
    functions), the aggregate is one map-side-combinable hash agg with
    a DECIMAL-exact mean; output cardinality is channels x period, so
    the rollup is scan-bound at any history length and the shuffle
    carries only partial aggregates.
    """
    phase = F.pmod(
        (epoch_us(ts) / F.lit(bucket_s * 1_000_000)).cast("bigint"),
        F.lit(period_buckets),
    )
    v = F.col(value)
    return (
        df.select(F.col(channel), phase.alias("phase"), v.alias("__v"))
        .groupBy(channel, "phase")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.col("__v").cast(DEC)).cast("double") / F.count(F.lit(1))).alias(
                "avg_value"
            ),
            F.min("__v").alias("min_value"),
            F.max("__v").alias("max_value"),
        )
        .orderBy(channel, "phase")
    )


def burstiness_profile(
    df: DataFrame,
    bucket_s: int = 3600,
    channel: str = "event_type",
    ts: str = "ts",
) -> DataFrame:
    """Traffic-burstiness profile per channel: bucket the stream into
    fixed windows, count arrivals per bucket, and report the Fano
    factor (variance-to-mean of bucket counts — 1.0 for a Poisson
    process, >1 bursty, <1 metronomic) and the coefficient of
    variation, plus the raw ingredients (total events, active vs
    total buckets, peak bucket). The capacity-planning view of the
    reference's fixed-interval ingest contract (code/etsdSave.c: one
    reading per interval per channel gives Fano ~ 0): which feeds
    arrive on a clock and which arrive in bursts.

    Scale shape: ONE hash-agg reduces the scan to (channel, bucket)
    counts; everything after rides that tiny table (per-channel
    integer sums + a one-row global bucket-span join that AQE
    broadcasts). Moments come from exact integer sums folded through
    an identical double expression on both engines, rounded at 6;
    empty buckets inside the observed span count as zeros via the
    span length, never materialized.
    """
    bk = F.expr("__us DIV " + str(int(bucket_s) * 1_000_000))
    base = df.select(F.col(channel), epoch_us(ts).alias("__us"))
    counts = (
        base.select(F.col(channel), bk.alias("__bk"))
        .groupBy(channel, "__bk")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # span bounds ride the (channel, bucket) COUNTS pipeline, never a
    # second raw scan: per-channel bk min/max fold in the same hash-agg
    # as the moments (a bare counts.agg(min/max) would be collapsed by
    # Catalyst into a separate scan of the source), then one global agg
    # over the channels-sized table yields the span
    per = counts.groupBy(channel).agg(
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
        F.count(F.lit(1)).cast("bigint").alias("active_buckets"),
        F.max("c").cast("bigint").alias("peak_bucket"),
        F.min("__bk").alias("__bk_min"),
        F.max("__bk").alias("__bk_max"),
    )
    # per feeds both the span agg and the final join; checkpoint the
    # channels-sized table so the scan + two shuffles run exactly once
    per = per.localCheckpoint()
    bounds = per.agg(
        (F.max("__bk_max") - F.min("__bk_min") + F.lit(1)).alias("nb")
    )
    mean = F.col("s1").cast("double") / F.col("nb")
    # population variance over ALL span buckets (absent buckets are
    # exact zeros); clamp at 0 against float round-off before sqrt
    var = F.greatest(
        F.col("s2").cast("double") / F.col("nb") - mean * mean, F.lit(0.0)
    )
    return (
        per.crossJoin(bounds)
        .select(
            F.col(channel),
            F.col("nb").alias("n_buckets"),
            F.col("s1").alias("n_events"),
            "active_buckets",
            "peak_bucket",
            F.round(var / mean, 6).alias("fano"),
            F.round(F.sqrt(var) / mean, 6).alias("cv"),
        )
        .orderBy(channel)
    )


def mad_anomaly(
    df: DataFrame,
    k: float = 3.5,
    channel: str = "event_type",
    value: str = "value",
    tie: str = "event_id",
) -> DataFrame:
    """Robust per-channel anomaly accounting via the median absolute
    deviation: a value is anomalous when |v - median| exceeds
    ``k * 1.4826 * MAD`` (1.4826 scales MAD to sigma under normality).
    The robust complement of ``zscore_anomalies`` — a handful of wild
    outliers inflate mean/std and mask themselves, while the median
    and MAD stay put.

    Output is the per-channel report (channel cardinality rows):
    sample count, median, MAD, anomaly count/fraction, max deviation.

    Plan shape: two rank-window passes (median of values, then median
    of deviations) built on the q33 explicit rank arithmetic — the
    same expression shape runs on any engine, so medians are bit-exact
    where builtin quantile implementations drift by ulps. Each pass
    sorts per channel partition and joins back only the straddling
    order statistics; the per-channel summary joins are AQE-sized (no
    hard broadcast). Exact medians are the verifiable form; swap the
    first pass for approx_percentile when a 100 TB corpus can accept
    sketched medians — the accounting after the join is unchanged.
    """
    from etsd_time_series_database_spark.operators.range_stats import (
        exact_percentiles,
    )

    med = exact_percentiles(df, (0.5,), channel, value, tie).select(
        channel, F.col("pct_value").alias("median")
    )
    dev = (
        df.filter(F.col(value).isNotNull())
        .join(med, channel)
        .withColumn("__d", F.abs(F.col(value) - F.col("median")))
    )
    mad = exact_percentiles(dev, (0.5,), channel, "__d", tie).select(
        channel, F.col("pct_value").alias("mad")
    )
    # Flag on the raw doubles: median/mad are bit-identical across
    # engines (same rank-arithmetic expression shape), so the strict >
    # agrees everywhere; constant folding of k*1.4826 is one IEEE
    # multiply in both engines.
    thr = F.lit(k * 1.4826) * F.col("mad")
    flagged = dev.join(mad, channel).withColumn(
        "__a", F.when(F.col("__d") > thr, 1).otherwise(0)
    )
    return (
        flagged.groupBy(channel)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("median"), 6).alias("median"),
            F.round(F.min("mad"), 6).alias("mad"),
            F.sum("__a").cast("bigint").alias("n_anomalies"),
            F.round(F.sum("__a") / F.count(F.lit(1)), 6).alias("anomaly_frac"),
            F.round(F.max("__d"), 6).alias("max_abs_dev"),
        )
        .orderBy(channel)
    )


def cusum_changepoint(
    df: DataFrame,
    channel: str = "event_type",
    ts: str = "ts",
    value: str = "value",
    seq: str = "event_id",
    bucket_s: int = 86400,
) -> DataFrame:
    """CUSUM changepoint detection per channel: the running sum of
    deviations from the channel mean drifts fastest at a level shift,
    so the |CUSUM| argmax is the classic changepoint estimate (Page
    1954). Report per channel: sample count, mean, the changepoint
    timestamp, the CUSUM value there, and the |CUSUM| maximum.

    Scale shape: one moment aggregation (decimal-exact mean, AQE-sized
    join back), then the running sum rides
    ``scalable_window.cumsum_scalable`` — the distributed prefix sum
    (in-bucket running sum + broadcast per-bucket offsets), so
    parallelism is channels x buckets, never a per-channel global
    sort. Deviations accumulate as DECIMAL(18,6), making the prefix
    sum order-exact and the argmax comparison engine-portable (no
    float drift); the argmax itself is a max_by with a TOTAL
    (|cusum| DESC, ts, seq) order, so ties are engine-independent.
    """
    from etsd_time_series_database_spark.operators.scalable_window import (
        cumsum_scalable,
    )

    v = F.col(value)
    src = df.filter(v.isNotNull())
    stats = src.groupBy(channel).agg(
        (F.sum(v.cast(DEC)).cast("double") / F.count(v)).alias("__mean")
    )
    dev = src.join(stats, channel).withColumn(
        "__dev", (v - F.col("__mean")).cast(DEC)
    )
    run = cumsum_scalable(
        dev,
        F.col("__dev"),
        "__cusum",
        channel=channel,
        ts=ts,
        seq=seq,
        bucket_s=bucket_s,
    )
    a = F.abs(F.col("__cusum"))
    pick = F.max_by(
        F.struct(
            epoch_us(ts).alias("cp_ts_us"),
            F.col("__cusum").cast("double").alias("cp_cusum"),
        ),
        F.struct(
            a.alias("__a"),
            (-epoch_us(ts)).alias("__nts"),
            (-F.col(seq)).alias("__nseq"),
        ),
    )
    return (
        run.groupBy(channel)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("__mean"), 6).alias("mean"),
            pick.alias("__cp"),
            F.max(a).cast("double").alias("__maxabs"),
        )
        .select(
            channel,
            "n",
            "mean",
            F.col("__cp.cp_ts_us").alias("cp_ts_us"),
            F.round(F.col("__cp.cp_cusum"), 6).alias("cp_cusum"),
            F.round(F.col("__maxabs"), 6).alias("max_abs_cusum"),
        )
        .orderBy(channel)
    )


def rolling_stats(
    df: DataFrame,
    k: int = 16,
    channel: str = "event_type",
    ts: str = "ts",
    value: str = "value",
    tie: str = "event_id",
    bucket_s: int = 86400,
    mode: str = "auto",
) -> DataFrame:
    """Per-channel rolling statistics over the last ``k`` samples
    (current row inclusive): count, DECIMAL-exact mean, min, max —
    the moving-window smoother/envelope every monitoring dashboard
    draws, as frame aggregates in ONE window pass.

    Same scale machinery as :func:`ewma_truncated` (shared
    ``_k_lag_frame``): stitched mode windows on (channel, bucket)
    with a (k-1)-row carry margin, bit-identical to the channel-global
    window with parallelism = channels x buckets; ``mode='auto'``
    drops to the global form below the size estimate. The mean's
    decimal numerator makes the result order-exact; the quotient is
    rounded at the round-6 export convention.
    """
    u, w_in = _k_lag_frame(
        df, _use_stitched(df, mode), k, channel, ts, value, tie, bucket_s
    )
    frame = w_in.rowsBetween(-(k - 1), 0)
    v = F.col(value)
    return (
        u.withColumn("roll_n", F.count(v).over(frame).cast("bigint"))
        .withColumn(
            "roll_mean",
            # try_divide: an all-NULL frame (possible when value has
            # nulls) yields NULL, not an ANSI divide-by-zero
            F.round(
                F.try_divide(
                    F.sum(v.cast(DEC)).over(frame).cast("double"),
                    F.count(v).over(frame),
                ),
                6,
            ),
        )
        .withColumn("roll_min", F.min(v).over(frame))
        .withColumn("roll_max", F.max(v).over(frame))
        .filter(F.col("__margin") == 0)
        .select(
            tie, channel, "us", value, "roll_n", "roll_mean",
            "roll_min", "roll_max",
        )
        .orderBy(tie)
    )


def median_filter(
    df: DataFrame,
    k: int = 5,
    spike_t: float = 100.0,
    channel: str = "event_type",
    ts: str = "ts",
    value: str = "value",
    tie: str = "event_id",
    bucket_s: int = 86400,
    mode: str = "auto",
) -> DataFrame:
    """Hampel-style despiking: per-channel rolling MEDIAN over the
    last ``k`` samples (current inclusive) plus a spike flag where the
    reading deviates from that median by more than ``spike_t`` — the
    robust cleaner for telemetry glitches that a mean smoother
    (x55 rolling_stats) smears instead of isolating.

    Spark has no frame-capable ``median``, so the median comes from
    ``array_sort(collect_list(value))`` over the frame with an
    element-pick that handles odd and even counts in ONE formula:
    ``(arr[(n+1) div 2] + arr[n div 2 + 1]) / 2`` (odd n averages the
    middle element with itself — exact in floating point). The DuckDB
    oracle uses the *same* sorted-list element picks, so both engines
    run an identical expression shape — no interpolation-formula
    drift. NULL readings are dropped up front (both engines), so the
    collected frames are null-free by construction.

    Scale: same stitched (channel, bucket) machinery as
    x55/:func:`ewma_truncated` (shared ``_k_lag_frame``); the k-row
    array per row is bounded and never leaves the executor.
    """
    src = df.filter(F.col(value).isNotNull())
    u, w_in = _k_lag_frame(
        src, _use_stitched(src, mode), k, channel, ts, value, tie, bucket_s
    )
    frame = w_in.rowsBetween(-(k - 1), 0)
    v = F.col(value)
    return (
        u.withColumn("__arr", F.array_sort(F.collect_list(v).over(frame)))
        .withColumn("__n", F.size("__arr"))
        .withColumn(
            "__med",
            (
                F.element_at("__arr", F.expr("CAST((__n + 1) DIV 2 AS INT)"))
                + F.element_at("__arr", F.expr("CAST(__n DIV 2 + 1 AS INT)"))
            )
            / F.lit(2.0),
        )
        .filter(F.col("__margin") == 0)
        .select(
            tie,
            channel,
            value,
            F.round(F.col("__med"), 6).alias("roll_med"),
            (F.abs(v - F.col("__med")) > F.lit(spike_t))
            .cast("int")
            .alias("is_spike"),
        )
        .orderBy(tie)
    )


def _trend_sums(
    df: DataFrame, origin_s: int, channel: str, value: str, ts: str
) -> DataFrame:
    """Six regression sums per channel (n, Σx, Σy, Σxy, Σx², Σy²) with
    x = integer seconds since origin_s — ONE map-side-combinable hash
    agg, DECIMAL-exact; shared by linear_trend and seasonal_decompose."""
    x = F.expr(f"unix_micros({ts}) div 1000000") - F.lit(origin_s)
    y = F.col(value)
    return (
        df.filter(y.isNotNull())
        .select(F.col(channel), x.alias("__x"), y.alias("__y"))
        .groupBy(channel)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("__x").cast(DEC)).alias("sx"),
            F.sum(F.col("__y").cast(DEC)).alias("sy"),
            F.sum((F.col("__x") * F.col("__y")).cast(DEC_SQ)).alias("sxy"),
            F.sum((F.col("__x") * F.col("__x")).cast(DEC_SQ)).alias("sxx"),
            F.sum((F.col("__y") * F.col("__y")).cast(DEC_SQ)).alias("syy"),
        )
    )


def linear_trend(
    df: DataFrame,
    origin_s: int = 1705363200,  # 2024-01-16 00:00:00 UTC
    channel: str = "event_type",
    value: str = "value",
    ts: str = "ts",
) -> DataFrame:
    """Per-channel least-squares linear trend of value against time:
    slope (units/day), intercept at ``origin``, and R² — the drift
    estimator a capacity/degradation pipeline fits over every sensor
    (no reference analog: the reference reports range aggregates,
    code/etsdQuery.c:218-401, never a fitted model).

    Shape: ONE map-side-combinable hash aggregation to the six
    regression sums (n, Σx, Σy, Σxy, Σx², Σy²) per channel — no
    window, no join, no second pass; output cardinality = channels.
    At 100 TB this is the cheapest possible statistic: partial
    aggregation reduces each task to six numbers per channel before
    the (KB-sized) shuffle.

    Determinism: x is INTEGER seconds since ``origin_s`` (floor-div
    of epoch micros — exact on both engines; the origin is an integer
    epoch constant, not a timestamp literal, so no engine-side literal
    parsing is involved); cross-row sums go through DECIMAL
    (order-independent); the closing slope/intercept/R² arithmetic is
    scalar double math with identical expression shape on both
    engines, rounded to 6 places. ``origin_s`` is centred in the
    data's time span to keep |x| small, which bounds the decimal
    products and the double cancellation in n·Σx² − (Σx)².
    """
    agg = _trend_sums(df, origin_s, channel, value, ts)
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    cov = n * F.col("sxy").cast("double") - sx * sy
    vx = n * F.col("sxx").cast("double") - sx * sx
    vy = n * F.col("syy").cast("double") - sy * sy
    # slope undefined for a single sample / zero time spread; R²
    # additionally undefined for a constant series: NULL, not an ANSI
    # divide-by-zero (mirrors _pearson's guard convention).
    slope = F.when(vx > 0, cov / vx)
    return agg.select(
        F.col(channel),
        F.col("n").alias("n_samples"),
        F.round(slope * F.lit(86400.0), 6).alias("slope_per_day"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.when((vx > 0) & (vy > 0), F.round(cov * cov / (vx * vy), 6)).alias(
            "r_squared"
        ),
    ).orderBy(channel)


def lttb_downsample(
    df: DataFrame,
    width_s: int = 21600,
    channel: str = "event_type",
    value: str = "value",
    ts: str = "ts",
    tie: str = "event_id",
) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling per channel — the
    shape-preserving decimation a dashboard uses to draw a million
    points as a few hundred, keeping peaks the plain bucket-average
    consolidation (q17/edoRRD.c:44-74) flattens away.

    This is the parallel LTTB variant (Steinarsson 2013, §4.2: fixed
    buckets, neighbour *averages* as triangle anchors instead of the
    sequentially-chosen previous point), which drops the sequential
    dependency so every bucket's argmax is independent:

    1. bucket means (one hash-agg; grid = channels × buckets);
    2. lag/lead over the GRID (not the rows) for neighbour anchors —
       the per-channel window sorts only the tiny bucket grid — then
       each grid row explodes into its applicable role rows
       ('first' for a channel's first bucket, 'last' for its last,
       'peak' for interior buckets);
    3. every raw point joins its bucket's role rows (grid side is
       KB-sized → AQE broadcast; raw side never shuffles) and computes
       a role-dependent sort key: triangle area for 'peak', time
       position for the endpoints;
    4. ONE per-(channel, bucket, role) rank-1 filter — Catalyst
       rewrites it to WindowGroupLimit (partial top-1 per task before
       the exchange, no full sort), so shuffle bytes scale with the
       grid, not the row count.

    The single-window form exists because a per-role UNION of three
    rank filters re-scans the fact table once per branch (Catalyst
    does not share scans across union branches): folding the role
    into the window key cuts the plan from 6 fact scans to 2 (points
    + grid) while producing the identical row set.

    First/last buckets of each channel keep their first/last point
    (the fixed endpoints of classic LTTB). A single-bucket channel
    emits its endpoints under both roles (same point twice when it
    has one sample — documented, deterministic).

    Determinism: bucket means via DECIMAL sums; the area is per-row
    double math with identical expression shape on both engines (no
    cross-row float sums), so the argmax — including float ties,
    broken by (us, tie) — is engine-identical. The endpoint sort keys
    use us as an exact double (epoch micros < 2^53).
    """
    us = epoch_us(ts)
    pts = df.filter(F.col(value).isNotNull()).select(
        F.col(channel).alias("ch"),
        bucket_epoch(ts, width_s).alias("bucket"),
        us.alias("us"),
        F.col(value).alias("y"),
        F.col(tie).alias("tie"),
    )
    grid = pts.groupBy("ch", "bucket").agg(
        # epoch-micros sums need ~20 digits (1.7e15 per row x bucket
        # row count) — DEC_W (14,0) would overflow
        (
            F.sum(F.col("us").cast("decimal(28,0)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mx"),
        (F.sum(F.col("y").cast(DEC)).cast("double") / F.count(F.lit(1))).alias("my"),
    )
    w = Window.partitionBy("ch").orderBy("bucket")
    grid = grid.select(
        "ch",
        "bucket",
        F.lag("mx").over(w).alias("pmx"),
        F.lag("my").over(w).alias("pmy"),
        F.lead("mx").over(w).alias("nmx"),
        F.lead("my").over(w).alias("nmy"),
    )
    roles = grid.withColumn(
        "role",
        F.explode(
            F.concat(
                F.when(F.col("pmx").isNull(), F.array(F.lit("first"))).otherwise(
                    F.array().cast("array<string>")
                ),
                F.when(
                    F.col("pmx").isNotNull() & F.col("nmx").isNotNull(),
                    F.array(F.lit("peak")),
                ).otherwise(F.array().cast("array<string>")),
                F.when(F.col("nmx").isNull(), F.array(F.lit("last"))).otherwise(
                    F.array().cast("array<string>")
                ),
            )
        ),
    )
    j = pts.join(roles, ["ch", "bucket"])
    area = (
        F.abs(
            (F.col("pmx") - F.col("nmx"))
            * (F.col("y") - F.col("pmy"))
            - (F.col("pmx") - F.col("us").cast("double"))
            * (F.col("nmy") - F.col("pmy"))
        )
        * F.lit(0.5)
    )
    usd = F.col("us").cast("double")
    k1 = (
        F.when(F.col("role") == "peak", -area)
        .when(F.col("role") == "first", usd)
        .otherwise(-usd)
    )
    k2 = F.when(F.col("role") == "last", -F.col("us")).otherwise(F.col("us"))
    k3 = F.when(F.col("role") == "last", -F.col("tie")).otherwise(F.col("tie"))
    wr = Window.partitionBy("ch", "bucket", "role").orderBy(k1, k2, k3)
    return (
        j.withColumn("__rn", F.row_number().over(wr))
        .filter(F.col("__rn") == 1)
        .select("ch", "bucket", "us", F.col("y").alias("value"), "role")
        .orderBy("ch", "bucket", "role", "us")
    )


def seasonal_decompose(
    df: DataFrame,
    origin_s: int = 1705363200,
    period_buckets: int = 24,
    bucket_s: int = 3600,
    channel: str = "event_type",
    value: str = "value",
    ts: str = "ts",
) -> DataFrame:
    """Classical additive decomposition per channel — value = linear
    trend + seasonal phase mean + residual — reporting, per (channel,
    phase-of-period): sample count, the seasonal component, and the
    residual RMS. The STL-lite view a capacity dashboard shows for
    every sensor (daily-profile-with-drift), composing the q43 trend
    fit with the x33 phase-fold machinery in one verified plan.

    Channels where the trend is undefined (single sample / zero time
    spread: vx == 0) fall back to slope 0 with the plain mean as
    intercept, so decomposition still reports their seasonal fold.

    Shape: TWO fact passes, each one map-side-combinable hash-agg —
    (1) the six regression sums per channel (KB output, broadcast
    back); (2) per-(channel, phase) DECIMAL sums of the detrended
    first and second moments, from which seasonal = E[det] and
    residual RMS = sqrt(E[det²] − E[det]²) close without a join-back.
    No window, no sort; the only join carries the KB-sized fit table.
    All statistics shuffle as a few numbers per (channel, phase).

    Determinism: trend arithmetic matches linear_trend (DECIMAL sums,
    fixed-shape double math); detrended values and residuals are
    per-row doubles with identical expression shape on both engines,
    quantized to DECIMAL at every cross-row sum.
    """
    agg = _trend_sums(df, origin_s, channel, value, ts)
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    cov = n * F.col("sxy").cast("double") - sx * sy
    vx = n * F.col("sxx").cast("double") - sx * sx
    slope = F.when(vx > 0, cov / vx).otherwise(F.lit(0.0))
    fit = agg.select(
        F.col(channel),
        slope.alias("__m"),
        ((sy - slope * sx) / n).alias("__b"),
    )
    x = F.expr(f"unix_micros({ts}) div 1000000") - F.lit(origin_s)
    phase = (
        F.expr(f"unix_micros({ts}) div {bucket_s * 1_000_000}")
        % period_buckets
    )
    det = (
        df.filter(F.col(value).isNotNull())
        .select(F.col(channel), x.alias("__x"), phase.alias("phase"), F.col(value))
        .join(F.broadcast(fit), channel)
        .select(
            channel,
            "phase",
            (
                F.col(value) - (F.col("__b") + F.col("__m") * F.col("__x"))
            ).alias("__det"),
        )
    )
    # One agg carries both moments: seasonal = E[det], residual RMS =
    # sqrt(E[det²] − E[det]²) — no join-back, no third fact scan.
    agg2 = det.groupBy(channel, "phase").agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.sum(F.col("__det").cast(DEC)).alias("__sd"),
        F.sum((F.col("__det") * F.col("__det")).cast(DEC_SQ)).alias("__sd2"),
    )
    nn = F.col("n_samples").cast("double")
    smean = F.col("__sd").cast("double") / nn
    # E[det²] − mean² can round to a tiny negative for near-constant
    # residuals; clamp before sqrt (the _pearson convention)
    var = F.greatest(F.col("__sd2").cast("double") / nn - smean * smean,
                     F.lit(0.0))
    return agg2.select(
        channel,
        "phase",
        "n_samples",
        F.round(smean, 6).alias("seasonal"),
        F.round(F.sqrt(var), 6).alias("resid_rms"),
    ).orderBy(channel, "phase")


def cross_correlation(
    df: DataFrame,
    lags: tuple[int, ...] = (0, 1, 2),
    width_s: int = 3600,
    channel: str = "event_type",
    value: str = "value",
    ts: str = "ts",
) -> DataFrame:
    """Cross-correlation function between channel pairs: Pearson r of
    channel a's bucket-mean series shifted k buckets against channel
    b's, for each ordered pair and lag — the lead/lag probe that finds
    which sensor MOVES FIRST (q41 gives the zero-lag dependence,
    q42 each channel's own periodicity; this closes the triangle).
    Directional: (a, b, k) correlates a at t−k·W with b at t, so a
    peak at k>0 means a leads b.

    Shape matches autocorrelation: one bucket-mean hash-agg, explode
    the lag list on the left, keyed equi-join on (bucket) restricted
    to a != b — parallelism scales with the bucket grid; with C
    channels and L lags the output is C·(C−1)·L rows. Determinism:
    decimal Pearson sums, round-6 finish.
    """
    b = _bucket_means(df, width_s, channel, value, ts)
    lhs = b.withColumn(
        "lag_k", F.explode(F.array(*[F.lit(k) for k in lags]))
    ).select(
        F.col("ch").alias("ch_a"),
        "lag_k",
        (F.col("bucket") + F.col("lag_k") * F.lit(width_s)).alias("bucket"),
        F.col("m").alias("x"),
    )
    rhs = b.select(F.col("ch").alias("ch_b"), "bucket", F.col("m").alias("y"))
    pairs = lhs.join(rhs, "bucket").filter(F.col("ch_a") != F.col("ch_b"))
    return _pearson(pairs, ["ch_a", "ch_b", "lag_k"]).orderBy(
        "ch_a", "ch_b", "lag_k"
    )


def time_in_state(
    df: DataFrame,
    threshold: float,
    start: str,
    end: str,
    channel: str = "event_type",
    ts: str = "ts",
    value: str = "value",
    tie: str = "event_id",
    bucket_s: int = 86400,
    mode: str = "auto",
) -> DataFrame:
    """Alarm/SLO duration accounting per channel over [start, end):
    how long each channel's carry-forward value sat ABOVE the
    threshold — total microseconds, covered time, and the fraction.
    The "time in alarm" number every SLO dashboard reports, with the
    reference's pro-rata boundary treatment (code/etsdQuery.c:254,279)
    applied to state durations instead of totals.

    Shares :func:`time_weighted_avg`'s hold-segment machinery
    (stitched (channel, bucket) lead with the 1-row boundary margin —
    scale notes there); the closing aggregation is a two-term
    conditional integer sum, map-side combinable. Integer microsecond
    durations make every output exact except the final fraction
    (round-6 convention).
    """
    seg = _hold_segments(df, start, end, channel, ts, value, tie, bucket_s, mode)
    above = F.when(F.col(value) > threshold, F.col("dur_us")).otherwise(F.lit(0))
    return (
        seg.groupBy(channel)
        .agg(
            F.sum(above).cast("bigint").alias("us_above"),
            F.sum("dur_us").cast("bigint").alias("covered_us"),
            F.round(
                F.sum(above).cast("double") / F.sum("dur_us").cast("double"), 6
            ).alias("frac_above"),
        )
        .orderBy(channel)
    )


def moment_profile(
    df: DataFrame,
    channel: str = "event_type",
    value: str = "value",
) -> DataFrame:
    """Higher-moment statistical profile per channel: mean, stddev
    (population), skewness g1 = m3/m2^1.5 and excess kurtosis
    g2 = m4/m2² − 3 — the distribution-shape battery a monitoring
    pipeline uses to pick anomaly detectors (z-score assumes g1≈0,
    g2≈0; heavy tails send you to the MAD/CUSUM family instead).

    Shape matches q43: ONE map-side-combinable hash agg to the five
    power sums (n, Σy, Σy², Σy³, Σy⁴ — all DECIMAL, order-exact),
    output cardinality = channels. Central moments close from the
    power sums in fixed-shape double arithmetic (the standard
    E[(y−μ)^k] expansions), with the m2 > 0 guard emitting NULL for
    constant channels instead of an ANSI divide-by-zero; tiny negative
    m2 from double rounding clamps at 0 (the _pearson convention).
    """
    y = F.col(value)
    agg = (
        df.filter(y.isNotNull())
        .groupBy(channel)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(y.cast(DEC)).alias("s1"),
            F.sum((y * y).cast(DEC_SQ)).alias("s2"),
            F.sum((y * y * y).cast(DEC_SQ)).alias("s3"),
            F.sum((y * y * y * y).cast(DEC_SQ)).alias("s4"),
        )
    )
    n = F.col("n").cast("double")
    m = F.col("s1").cast("double") / n
    e2 = F.col("s2").cast("double") / n
    e3 = F.col("s3").cast("double") / n
    e4 = F.col("s4").cast("double") / n
    m2 = F.greatest(e2 - m * m, F.lit(0.0))
    m3 = e3 - F.lit(3.0) * m * e2 + F.lit(2.0) * m * m * m
    m4 = (
        e4
        - F.lit(4.0) * m * e3
        + F.lit(6.0) * m * m * e2
        - F.lit(3.0) * m * m * m * m
    )
    return agg.select(
        F.col(channel),
        F.col("n").alias("n_samples"),
        F.round(m, 6).alias("mean"),
        F.round(F.sqrt(m2), 6).alias("stddev_pop"),
        F.when(m2 > 0, F.round(m3 / (F.sqrt(m2) * F.sqrt(m2) * F.sqrt(m2)), 6)).alias(
            "skewness"
        ),
        F.when(m2 > 0, F.round(m4 / (m2 * m2) - F.lit(3.0), 6)).alias(
            "kurtosis_excess"
        ),
    ).orderBy(channel)


def daily_coverage(
    df: DataFrame,
    start: str,
    end: str,
    channel: str = "event_type",
    ts: str = "ts",
    value: str = "value",
    tie: str = "event_id",
    bucket_s: int = 86400,
    mode: str = "auto",
) -> DataFrame:
    """Per-(channel, day) data-coverage report over [start, end): the
    fraction of each UTC day covered by carry-forward hold segments —
    the uptime/availability view an operations dashboard renders as a
    calendar heatmap (q49 gives one number per channel; this is its
    per-day breakdown).

    A hold segment can span multiple days, so each segment explodes
    into its day range (sequence over integer day indices — bounded by
    the segment's span in days, i.e. by the data's largest gap, never
    by row count) and contributes its clipped overlap to every day it
    touches. Shares :func:`time_weighted_avg`'s segment machinery; the
    closing aggregation is one integer-microsecond hash-agg keyed
    (channel, day).
    """
    day_us = 86_400_000_000
    seg = _hold_segments(df, start, end, channel, ts, value, tie, bucket_s, mode)
    d0 = (F.col("seg_start") / F.lit(day_us)).cast("bigint")
    d1 = ((F.col("seg_end") - 1) / F.lit(day_us)).cast("bigint")
    days = seg.select(
        F.col(channel),
        "seg_start",
        "seg_end",
        F.explode(F.sequence(d0, d1)).alias("day_idx"),
    )
    ov = F.least(F.col("seg_end"), (F.col("day_idx") + 1) * day_us) - F.greatest(
        F.col("seg_start"), F.col("day_idx") * day_us
    )
    return (
        days.withColumn("__ov", ov)
        .groupBy(channel, "day_idx")
        .agg(F.sum("__ov").cast("bigint").alias("covered_us"))
        .select(
            channel,
            (F.col("day_idx") * 86400).alias("day_epoch_s"),
            "covered_us",
            F.round(F.col("covered_us").cast("double") / F.lit(float(day_us)), 6).alias(
                "coverage_frac"
            ),
        )
        .orderBy(channel, "day_epoch_s")
    )


def seasonal_strength(
    df: DataFrame,
    origin_s: int = 1705363200,
    period_buckets: int = 24,
    bucket_s: int = 3600,
    channel: str = "event_type",
    value: str = "value",
    ts: str = "ts",
) -> DataFrame:
    """Seasonal-strength score per channel: the fraction of detrended
    variance explained by the phase fold, 1 − SS_resid/SS_total — the
    forecastability feature (tsfeatures' seasonal_strength) that
    decides whether a seasonal model is worth fitting at all. 0 = the
    daily profile explains nothing; → 1 = the series IS its profile.

    Closes algebraically from :func:`seasonal_decompose`'s phase
    aggregates without a join-back:
    SS_resid = Σdet² − Σ_phases n_p·mean_p², SS_total = Σdet² −
    (Σdet)²/n — so the plan is the q45 two-pass shape plus ONE extra
    rollup of the (channels × phases) table (KB-sized). NULL when the
    detrended series is constant (SS_total ≤ 0 after the clamp).
    """
    agg = _trend_sums(df, origin_s, channel, value, ts)
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    cov = n * F.col("sxy").cast("double") - sx * sy
    vx = n * F.col("sxx").cast("double") - sx * sx
    slope = F.when(vx > 0, cov / vx).otherwise(F.lit(0.0))
    fit = agg.select(
        F.col(channel),
        slope.alias("__m"),
        ((sy - slope * sx) / n).alias("__b"),
    )
    x = F.expr(f"unix_micros({ts}) div 1000000") - F.lit(origin_s)
    phase = (
        F.expr(f"unix_micros({ts}) div {bucket_s * 1_000_000}")
        % period_buckets
    )
    det = (
        df.filter(F.col(value).isNotNull())
        .select(F.col(channel), x.alias("__x"), phase.alias("phase"), F.col(value))
        .join(F.broadcast(fit), channel)
        .select(
            channel,
            "phase",
            (
                F.col(value) - (F.col("__b") + F.col("__m") * F.col("__x"))
            ).alias("__det"),
        )
    )
    ph = det.groupBy(channel, "phase").agg(
        F.count(F.lit(1)).alias("np"),
        F.sum(F.col("__det").cast(DEC)).alias("sd"),
        F.sum((F.col("__det") * F.col("__det")).cast(DEC_SQ)).alias("sd2"),
    )
    npd = F.col("np").cast("double")
    mean_p = F.col("sd").cast("double") / npd
    ch = ph.groupBy(channel).agg(
        F.sum("np").cast("double").alias("nn"),
        F.sum(F.col("sd").cast(DEC)).alias("ssd"),
        F.sum(F.col("sd2").cast(DEC_SQ)).alias("ssd2"),
        F.sum((npd * mean_p * mean_p).cast(DEC_SQ)).alias("sexp"),
    )
    ss_tot = F.greatest(
        F.col("ssd2").cast("double")
        - F.col("ssd").cast("double") * F.col("ssd").cast("double") / F.col("nn"),
        F.lit(0.0),
    )
    ss_res = F.greatest(
        F.col("ssd2").cast("double") - F.col("sexp").cast("double"), F.lit(0.0)
    )
    return ch.select(
        F.col(channel),
        F.col("nn").cast("bigint").alias("n_samples"),
        F.when(
            ss_tot > 0,
            F.round(
                F.greatest(F.lit(1.0) - ss_res / ss_tot, F.lit(0.0)), 6
            ),
        ).alias("seasonal_strength"),
    ).orderBy(channel)


def distribution_drift(
    df: DataFrame,
    split_epoch_s: int,
    bin_width: float = 25.0,
    channel: str = "event_type",
    value: str = "value",
    ts: str = "ts",
) -> DataFrame:
    """Value-distribution drift per channel: total-variation distance
    0.5·Σ|p_early(bin) − p_late(bin)| between the histograms BEFORE
    and AFTER ``split_epoch_s`` — the drift monitor that catches a
    sensor whose mean never moved but whose distribution did (TV is
    the bounded, log-free alternative to PSI/KL, so it stays inside
    the house rational-arithmetic rules — the x50 precedent).

    Shape: ONE conditional hash-agg to (channel, bin, n_early,
    n_late) — a single pass, both windows counted in the same
    map-side-combinable aggregate; per-channel totals roll up from
    that KB-sized bin table and join back (AQE broadcast); one final
    per-channel agg of DECIMAL-quantized |Δp| terms. Output
    cardinality = channels; 0 ≤ tv ≤ 1, NULL when either window is
    empty for the channel.
    """
    side_early = (
        F.expr(f"unix_micros({ts}) div 1000000") < F.lit(split_epoch_s)
    )
    bins = (
        df.filter(F.col(value).isNotNull())
        .select(
            F.col(channel),
            F.floor(F.col(value) / F.lit(bin_width)).alias("bin"),
            side_early.alias("__early"),
        )
        .groupBy(channel, "bin")
        .agg(
            F.sum(F.when(F.col("__early"), 1).otherwise(0)).alias("ne"),
            F.sum(F.when(~F.col("__early"), 1).otherwise(0)).alias("nl"),
        )
    )
    tot = bins.groupBy(channel).agg(
        F.sum("ne").alias("te"), F.sum("nl").alias("tl")
    )
    j = bins.join(tot, channel)
    # try_divide: a channel entirely inside one window has te or tl =
    # 0 — NULL terms (skipped by the sum) instead of an ANSI
    # divide-by-zero; the closing guard emits NULL tv for that channel
    dp = F.abs(
        F.try_divide(F.col("ne").cast("double"), F.col("te").cast("double"))
        - F.try_divide(F.col("nl").cast("double"), F.col("tl").cast("double"))
    )
    return (
        j.groupBy(channel)
        .agg(
            F.any_value("te").cast("bigint").alias("n_early"),
            F.any_value("tl").cast("bigint").alias("n_late"),
            F.count(F.lit(1)).cast("bigint").alias("n_bins"),
            F.when(
                (F.any_value("te") > 0) & (F.any_value("tl") > 0),
                F.round(
                    F.lit(0.5)
                    # round(·, 9) before the cast: integer-ratio
                    # probabilities sit exactly on decimal-cast tie
                    # boundaries (the _bucket_means exact-half rule)
                    * F.sum(
                        F.round(dp, 9).cast("decimal(18,9)")
                    ).cast("double"),
                    6,
                ),
            ).alias("tv_distance"),
        )
        .orderBy(channel)
    )


def lag_estimate(
    df: DataFrame,
    lags: tuple[int, ...] = (0, 1, 2, 3),
    width_s: int = 3600,
    channel: str = "event_type",
    value: str = "value",
    ts: str = "ts",
) -> DataFrame:
    """Estimated lead time between channel pairs: the lag (in buckets)
    at which :func:`cross_correlation` peaks, with the peak value —
    the closing read on the CCF ("b follows a by k hours"), which is
    what an operator actually wants from q47's full matrix.

    One KB-sized rollup over the CCF output (channel-pair × lag rows):
    argmax by (pearson, −lag) via the packed-decimal max_by (q35/x56
    packing; pearson quantized at round-6 already, shifted past a
    signed 4-digit lag field — ties take the SMALLEST lag, i.e. the
    least-delayed explanation). Pairs whose pearson is NULL at every
    lag (a constant channel) drop out.
    """
    ccf = cross_correlation(df, lags, width_s, channel, value, ts)
    # pearson ∈ [−1, 1] at 6 decimals; pack (pearson, −lag) into one
    # decimal. The shift must clear the FULL 4-digit lag field
    # including pearson's own 6 decimals: pearson's quantum is 1e-6,
    # so a 10^10 shift makes one quantum worth 1e4 — strictly more
    # than the lag term's whole range (0..9999). (A 10^4 shift scales
    # the quantum to only 0.01, so two lags whose pearsons differ by
    # < ~1e-4 — routine for smooth CCFs at adjacent lags — would let
    # the lag tiebreak override the pearson ordering and pick the
    # wrong best_lag.)
    packed = (
        F.col("pearson").cast("decimal(8,6)")
        * F.expr("CAST(10000000000 AS DECIMAL(11,0))")
        + (F.lit(5000) - F.col("lag_k")).cast("decimal(5,0)")
    )
    return (
        ccf.filter(F.col("pearson").isNotNull())
        .withColumn("__pk", packed)
        .groupBy("ch_a", "ch_b")
        .agg(
            F.max_by("lag_k", "__pk").alias("best_lag"),
            F.max("pearson").alias("peak_pearson"),
        )
        .orderBy("ch_a", "ch_b")
    )


def monotone_runs(
    df: DataFrame,
    channel: str = "event_type",
    ts: str = "ts",
    value: str = "value",
    seq: str = "event_id",
    bucket_s: int = 86400,
) -> DataFrame:
    """Longest strictly-rising and strictly-falling run per channel
    (sample count, endpoints, total rise/fall) — the ramp detector
    behind "how long did the counter climb before it turned": runs of
    consecutive positive (negative) deltas, longest wins, EARLIEST on
    ties.

    Construction mirrors q56's islands: delta rows come from the
    stitched lag; an up-run's island id is the running count of
    NON-positive deltas at or before it (constant within the run,
    bumped by every run breaker) — one prefix sum per direction, both
    computed in a single
    :func:`~etsd_time_series_database_spark.operators.scalable_window.cumsum_multi`
    pass that reuses the lag's (channel, bucket) partitioning. Run
    rollups are hash-aggs; the per-channel argmax packs
    (n, −start) into an order-preserving DECIMAL max_by. Rises
    accumulate as DECIMAL(18,6) (order-independent, oracle-exact).
    """
    from etsd_time_series_database_spark.operators.scalable_window import (
        cumsum_multi,
        lag_stitched,
    )

    src = df.filter(F.col(value).isNotNull()).withColumn(
        "__ts_us", epoch_us(ts)
    )
    st = lag_stitched(
        src, [value, "__ts_us"], channel=channel, ts=ts, seq=seq,
        bucket_s=bucket_s,
    )
    d = st.filter(F.col(f"__lag_{value}").isNotNull()).select(
        F.col(channel),
        F.col(ts),
        F.col(seq),
        "__bkt",
        F.col("__ts_us").alias("__us"),
        F.col(f"__lag___ts_us").alias("__pus"),
        (F.col(value) - F.col(f"__lag_{value}")).alias("__dv"),
    )
    d = cumsum_multi(
        d,
        {
            "__isl_up": (F.col("__dv") <= 0).cast("int"),
            "__isl_dn": (F.col("__dv") >= 0).cast("int"),
        },
        channel=channel,
        ts=ts,
        seq=seq,
        bucket_s=bucket_s,
    )

    # ONE role-keyed pipeline instead of separate up/down branches
    # (which would each recompute the scan + stitched lag + prefix-sum
    # lineage — the q44 lesson): every delta row takes its direction
    # role and that direction's island id; a single rollup + packed
    # argmax per (channel, role) then folds to one row per channel.
    role = F.when(F.col("__dv") > 0, F.lit("u")).when(
        F.col("__dv") < 0, F.lit("d")
    )
    r = (
        d.withColumn("__role", role)
        .filter(F.col("__role").isNotNull())
        .withColumn(
            "__isl",
            F.when(F.col("__role") == "u", F.col("__isl_up")).otherwise(
                F.col("__isl_dn")
            ),
        )
        .groupBy(channel, "__role", "__isl")
        .agg(
            (F.count(F.lit(1)) + 1).cast("bigint").alias("n"),
            F.min("__pus").alias("start_us"),
            F.max("__us").alias("end_us"),
            F.round(F.sum(F.col("__dv").cast(DEC)).cast("double"), 6).alias(
                "amt"
            ),
        )
    )
    shift = F.expr("CAST(10000000000000000000 AS DECIMAL(20,0))")
    pk = F.col("n").cast("decimal(19,0)") * shift + (
        F.expr("CAST(9999999999999999999 AS DECIMAL(19,0))")
        - F.col("start_us").cast("decimal(19,0)")
    )
    arg = (
        r.withColumn("__pk", pk)
        .groupBy(channel, "__role")
        .agg(
            F.max_by("n", "__pk").alias("n"),
            F.max_by("start_us", "__pk").alias("start_us"),
            F.max_by("end_us", "__pk").alias("end_us"),
            F.max_by("amt", "__pk").alias("amt"),
        )
    )
    u = F.col("__role") == "u"
    return (
        arg.groupBy(channel)
        .agg(
            F.max(F.when(u, F.col("n"))).alias("up_n"),
            F.max(F.when(u, F.col("start_us"))).alias("up_start_us"),
            F.max(F.when(u, F.col("end_us"))).alias("up_end_us"),
            F.max(F.when(u, F.col("amt"))).alias("rise"),
            F.max(F.when(~u, F.col("n"))).alias("down_n"),
            F.max(F.when(~u, F.col("start_us"))).alias("down_start_us"),
            F.max(F.when(~u, F.col("end_us"))).alias("down_end_us"),
            F.max(F.when(~u, F.col("amt"))).alias("fall"),
        )
        .orderBy(channel)
    )


def sax_symbols(
    df: DataFrame,
    bucket_s: int = 3600,
    channel: str = "event_type",
    ts: str = "ts",
    value: str = "value",
) -> DataFrame:
    """SAX symbolization (Lin et al., "A Symbolic Representation of
    Time Series", DMKD 2003): per-channel z-normalization, piecewise
    aggregate approximation (PAA) over fixed time buckets, and a
    4-symbol alphabet cut at the standard-normal quartile breakpoints
    (-0.6745, 0, 0.6745) — the discretization motif/novelty pipelines
    index on. Extends the reference's RRA consolidation verbs
    (code/plugins/edoRRD.c:44-74) with a shape-preserving symbolic
    output.

    ONE scan, plan-verified: a (channel, bucket) hash agg to decimal
    power sums (the PAA layer), then the per-channel moments close as
    an unbounded WINDOW over the tiny bucket table (decimal + decimal
    is order-exact) — no re-aggregation branch, so Spark never plans
    a second events scan, and the channel-only window is legal
    because it runs over channels x buckets rows, not the fact table
    (the stitched-boundary-table convention). Constant channels
    (std = 0) symbolize as 'c' via the z = 0 convention rather than
    dividing by zero. Breakpoint comparisons use doubles derived from
    exact decimal sums with the identical expression shape as the
    oracle (the zscore_anomalies convention).
    """
    v = F.col(value)
    b = df.filter(v.isNotNull()).select(
        F.col(channel),
        _bucket(epoch_us(ts), bucket_s).alias("__bkt"),
        v.alias("__v"),
    )
    paa = b.groupBy(channel, "__bkt").agg(
        F.sum(F.col("__v").cast(DEC)).alias("__s"),
        F.sum((F.col("__v") * F.col("__v")).cast(DEC_SQ)).alias("__ss"),
        F.count(F.lit(1)).alias("__n"),
    )
    w = Window.partitionBy(channel)
    enriched = paa.select(
        F.col(channel),
        "__bkt",
        "__s",
        "__n",
        F.sum("__s").over(w).alias("__cs"),
        F.sum("__ss").over(w).alias("__css"),
        F.sum("__n").over(w).alias("__cn"),
    )
    mean = F.col("__cs").cast("double") / F.col("__cn")
    var = F.greatest(
        F.col("__css").cast("double") / F.col("__cn") - mean * mean,
        F.lit(0.0),
    )
    std = F.sqrt(var)
    paa_v = F.col("__s").cast("double") / F.col("__n")
    z = F.when(std > 0, (paa_v - mean) / std).otherwise(F.lit(0.0))
    sym = (
        F.when(z < -0.6745, F.lit("a"))
        .when(z < 0, F.lit("b"))
        .when(z < 0.6745, F.lit("c"))
        .otherwise(F.lit("d"))
    )
    return (
        enriched.select(
            F.col(channel),
            (F.col("__bkt") * F.lit(bucket_s * 1_000_000))
            .cast("bigint")
            .alias("bucket_us"),
            F.col("__n").cast("bigint").alias("n_samples"),
            F.round(paa_v, 6).alias("paa"),
            sym.alias("symbol"),
        )
        .orderBy(channel, "bucket_us")
    )


def sax_transitions(
    df: DataFrame,
    bucket_s: int = 3600,
    channel: str = "event_type",
    ts: str = "ts",
    value: str = "value",
) -> DataFrame:
    """Symbol-transition profile over the q60 SAX stream: counts and
    probabilities of (from_symbol -> to_symbol) between consecutive
    PRESENT buckets per channel — the first-order Markov signature of
    the channel's dynamics (a mostly-diagonal matrix = slow regimes; a
    hot a<->d anti-diagonal = oscillation; heavy '->d' column = spike
    habit).

    Rides :func:`sax_symbols` (one events scan); the lead() and the
    per-channel probability normalization run over the TINY bucket
    table (channels x buckets rows), the stitched-boundary-table
    convention for channel-only windows.
    """
    sax = sax_symbols(
        df, bucket_s=bucket_s, channel=channel, ts=ts, value=value
    )
    w = Window.partitionBy(channel).orderBy("bucket_us")
    t = (
        sax.select(F.col(channel), "bucket_us", "symbol")
        .withColumn("__to", F.lead("symbol").over(w))
        .filter(F.col("__to").isNotNull())
    )
    counts = t.groupBy(
        F.col(channel),
        F.col("symbol").alias("from_symbol"),
        F.col("__to").alias("to_symbol"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w_tot = Window.partitionBy(channel)
    return (
        counts.withColumn(
            "p",
            F.round(
                F.col("n").cast("double") / F.sum("n").over(w_tot), 6
            ),
        )
        .orderBy(channel, "from_symbol", "to_symbol")
    )


def zscore_quantized(value_col: Column, quant: int) -> Column:
    """Quantize a reading for the causal z-score family: NULL for
    NULL/NaN/inf (such readings join neither stats nor flags in the
    stream, batch and stitched forms alike), else
    ``floor(value * quant)`` as BIGINT — floor of a double product,
    identical on any IEEE engine."""
    finite = (
        value_col.isNotNull()
        & ~F.isnan(value_col)
        & (F.abs(value_col) < float("inf"))
    )
    return F.when(finite, F.floor(value_col * F.lit(quant)).cast("bigint"))


def zscore_decide(staged: DataFrame, z: int, min_n: int) -> DataFrame:
    """Shared decision + projection for the q71/q72 causal z-score
    twins: given the staged columns ``(ts_us, channel, value, __q,
    __n, __s1, __s2)``, apply the cross-multiplied integer test

        (q*n - s1)^2 * (n-1)  >  z^2 * n * (n*s2 - s1^2)

    in DECIMAL(38,0). Scale 0 means no rounding path exists; the
    width bound is JOINT: beyond the int64 accumulator limit
    (n * (value*quant)^2 < 2^63 per channel) the decision products
    must also fit 38 digits — z^2 * n^2 * s2 < 1e38, i.e. with s2 at
    its int64 cap roughly n <= ~1e8 rows per channel at z=3. Past
    that, reduce ``quant`` (shrinks s2 quadratically) or split the
    history; the s12 Python-int stream has no such ceiling. ONE copy
    of this arithmetic exists so the q71==q72 pinned equivalence
    cannot drift."""
    DEC38 = "decimal(38,0)"
    d = (F.col("__q") * F.col("__n") - F.col("__s1")).cast(DEC38)
    lhs = d * d * (F.col("__n") - 1).cast(DEC38)
    rhs = (
        F.lit(z * z).cast(DEC38)
        * F.col("__n").cast(DEC38)
        * (
            F.col("__n").cast(DEC38) * F.col("__s2").cast(DEC38)
            - F.col("__s1").cast(DEC38) * F.col("__s1").cast(DEC38)
        )
    )
    return (
        staged.filter(
            (F.col("__n") >= min_n) & F.col("__q").isNotNull() & (lhs > rhs)
        )
        .select(
            "ts_us",
            F.lit("events").alias("source"),
            "channel",
            "value",
            F.col("__n").cast("bigint").alias("n_prev"),
        )
        .orderBy("channel", "ts_us")
    )


def running_zscore_batch(
    df: DataFrame,
    z: int = 3,
    min_n: int = 30,
    quant: int = 1000,
    channel: str = "event_type",
    ts: str = "ts",
    value: str = "value",
    tie: str = "event_id",
) -> DataFrame:
    """Batch (bulk-replay) form of the live running z-score monitor
    (streaming.stateful.running_zscore_stream / s12): flag each
    reading more than ``z`` running standard deviations from its
    channel's strictly-PRECEDING mean — same quantization, same
    all-integer decision (see :func:`zscore_decide` for the width
    bounds), executed as JVM window functions instead of a per-key
    Python fold (the throughput path for history: scales with cores,
    not channel count).

    Domain: rows with NULL channel or NULL ts are EXCLUDED before the
    analysis — engines disagree on where NULL keys sort (Spark
    windows put NULL ts first, ANSI oracles last) and the stitched
    twin's boundary join cannot carry NULL keys, so the family
    defines them out of scope rather than out-diverging. Non-finite
    readings stay in the row stream but join neither stats nor flags.

    Scale: one shuffle on the channel key; the prefix window is
    sequential per channel (same profile as the plain q07 rate —
    :func:`scalable_window.running_zscore_scalable` is the stitched
    decomposition when channels are few).
    """
    from pyspark.sql import Window

    from etsd_time_series_database_spark.functions.exprs import epoch_us

    base = df.filter(
        F.col(channel).isNotNull() & F.col(ts).isNotNull()
    ).select(
        epoch_us(F.col(ts)).alias("ts_us"),
        F.col(channel).alias("channel"),
        F.col(value).alias("value"),
        F.col(tie).alias("__tie"),
        zscore_quantized(F.col(value), quant).alias("__q"),
    )
    w = (
        Window.partitionBy("channel")
        .orderBy("ts_us", "__tie")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    staged = base.select(
        "ts_us", "channel", "value", "__q",
        F.count("__q").over(w).alias("__n"),
        F.coalesce(F.sum("__q").over(w), F.lit(0)).alias("__s1"),
        F.coalesce(
            F.sum(F.col("__q") * F.col("__q")).over(w), F.lit(0)
        ).alias("__s2"),
    )
    return zscore_decide(staged, z, min_n)


def m4_downsample(
    df: DataFrame,
    bucket_s: int = 86_400,
    channel: str = "event_type",
    ts: str = "ts",
    value: str = "value",
    tie: str = "event_id",
) -> DataFrame:
    """M4 visualization downsampling: per channel, per time bucket,
    the (first, min, max, last) tuple plus their sample count — the
    four values a pixel-width bucket needs to render a line chart
    without visual error, and the OHLC bar when values are prices.
    The reference's viewer path downsamples the same way a dashboard
    over the store would (one summary row per display bucket); this
    is that rollup over the historical table.

    The q35 :func:`ohlc` sibling returns the four VALUES; M4 also
    needs the first/last TIMESTAMPS so the renderer can place the
    bucket's entry/exit segments. Same physical discipline as ohlc:
    ONE map-side-combinable hash-agg keyed by (channel, bucket) — a
    ``min(struct)`` formulation would force SortAggregate (struct
    buffers aren't hash-mutable), so the (ts, tie) order is packed
    into one DECIMAL(38,0) key (``us * 10^19 + tie``, exact and
    collision-free for non-negative ids) and first/last values ride
    ``min_by``/``max_by`` on that primitive; first/last timestamps
    are plain min/max of us. Output cardinality is channels x
    span/bucket, never data volume. Integer timestamps; values pass
    through — hash-exact.
    """
    w_us = int(bucket_s) * 1_000_000
    shift = F.expr("CAST(10000000000000000000 AS DECIMAL(20,0))")
    packed = (
        epoch_us(ts).cast("decimal(19,0)") * shift
        + F.col(tie).cast("decimal(19,0)")
    )
    return (
        df.select(
            F.col(channel),
            (F.expr(f"unix_micros({ts}) div {w_us}") * w_us).alias(
                "bucket_us"
            ),
            epoch_us(ts).alias("__us"),
            F.col(value).alias("__v"),
            packed.alias("__ord"),
        )
        .groupBy(channel, "bucket_us")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("__us").alias("first_us"),
            F.min_by("__v", "__ord").alias("first_v"),
            F.min("__v").alias("min_v"),
            F.max("__v").alias("max_v"),
            F.max("__us").alias("last_us"),
            F.max_by("__v", "__ord").alias("last_v"),
        )
        .orderBy(channel, "bucket_us")
    )


def bucketed_time_weighted_avg(
    df: DataFrame,
    bucket_s: int = 86_400,
    channel: str = "event_type",
    ts: str = "ts",
    value: str = "value",
    tie: str = "event_id",
) -> DataFrame:
    """BUCKET-LOCAL time-weighted average per channel per bucket:
    each sample's value holds (LOCF) until the next sample in the
    bucket, the last sample holds to the bucket's end, and the span
    before the bucket's first sample is unobserved — the per-bucket
    rollup convention (each bucket weighted from its own samples
    only; no carry-in across the bucket edge). The RANGE-scoped
    :func:`time_weighted_avg` (q38) is the other convention: one
    window over [start, end) with pro-rata carry-in at the start
    edge. Use this one for calendar rollups (daily energy/billing
    means), q38 for an ad-hoc range query.

    Scale shape: ONE window — lead(ts) over (channel, bucket) — at
    (channels x buckets) parallelism (never a channel-global sort),
    then a hash-agg. Weights are integer microseconds; the weighted
    sum accumulates in DECIMAL(38,6) (value DECIMAL(18,6) x BIGINT
    weight — exact, order-independent), and the final division
    rounds at 6 — both engines fold identically.
    """
    w_us = int(bucket_s) * 1_000_000
    base = df.select(
        F.col(channel),
        (F.expr(f"unix_micros({ts}) div {w_us}") * w_us).alias(
            "bucket_us"
        ),
        epoch_us(F.col(ts)).alias("__us"),
        F.col(value).alias("__v"),
        F.col(tie).alias("__tie"),
    )
    w = Window.partitionBy(channel, "bucket_us").orderBy("__us", "__tie")
    weighted = base.select(
        channel,
        "bucket_us",
        "__v",
        (
            F.coalesce(
                F.lead("__us").over(w),
                F.col("bucket_us") + F.lit(w_us),
            )
            - F.col("__us")
        ).alias("__w_us"),
    )
    return (
        weighted.groupBy(channel, "bucket_us")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("__w_us").cast("bigint").alias("observed_us"),
            F.sum(
                F.col("__v").cast(DEC) * F.col("__w_us")
            ).alias("__wv"),
        )
        .select(
            channel,
            "bucket_us",
            "n",
            "observed_us",
            # both sums are exact (decimal / integer); divide as
            # DOUBLES — decimal-division scale rules differ between
            # engines, IEEE double division does not
            F.round(
                F.col("__wv").cast("double")
                / F.col("observed_us").cast("double"),
                6,
            ).alias("twa"),
        )
        .orderBy(channel, "bucket_us")
    )


# ---- RRA consolidation ------------------------------------------------
# The reference consolidates readings into RRAs: fixed-width buckets, a
# retention ladder of coarser widths and the xfiles-factor validity
# rule (code/plugins/edoRRD.c:44-74, `ECM-1240 storage format
# 2.txt:127-148`). Every tier operator (tiered_rollup, route_range_query,
# fetch_from_tier, materialize_tier_ladder, range_stats.xff_consolidate,
# the s20 replay) takes those rules from the helpers below. Sums ride
# DECIMAL, which is exact and order-independent, so a bucket composed
# from finer ones equals aggregating raw directly; only avg_v is a
# double.


def _coarsest_dividing(widths, width_s: int) -> int:
    """RRA-fetch routing: the coarsest tier width that divides the
    requested ``width_s``, as rrdtool's fetch picks the best-resolution
    RRA. Raises when none does: a mis-sized request must not fall back
    to a raw scan."""
    eligible = [int(w) for w in widths if int(width_s) % int(w) == 0]
    if not eligible:
        raise ValueError(
            f"no tier in {sorted({int(w) for w in widths})} divides the "
            f"requested width {width_s}s — answering it would need a raw "
            "scan; add a finer tier or change the request"
        )
    return max(eligible)


def _rra_fold(
    df: DataFrame, keys: list, ts: str, value: str, width_s: int,
    count_all: bool,
) -> DataFrame:
    """Raw rows -> one row per (``keys``, ``width_s`` bucket):
    ``bucket_us`` (epoch micros), ``n``, the exact DECIMAL
    ``sum_value``, ``min_v`` and ``max_v``. ``n`` is ``count(*)`` with
    ``count_all``, else ``count(value)`` (the downsample sinks' n)."""
    w = int(width_s) * 1_000_000
    v = F.col("__v")
    return (
        df.select(
            *keys,
            (F.expr(f"unix_micros({ts}) div {w}") * w).alias("bucket_us"),
            F.col(value).alias("__v"),
        )
        .groupBy(*keys, "bucket_us")
        .agg(
            F.count(F.lit(1) if count_all else v).cast("bigint").alias("n"),
            F.sum(v.cast(DEC)).alias("sum_value"),
            F.min(v).alias("min_v"),
            F.max(v).alias("max_v"),
        )
    )


def _rra_compose(tier: DataFrame, keys: list, width_s: int) -> DataFrame:
    """Re-aggregate fold rows (:func:`_rra_fold`'s shape) to the
    coarser ``width_s``: n and the exact sums add, min/max fold."""
    w = int(width_s) * 1_000_000
    return tier.groupBy(
        *keys, (F.expr(f"bucket_us div {w}") * w).alias("bucket_us")
    ).agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("sum_value").cast(DEC_SQ).alias("sum_value"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    )


def _rra_finish(
    tier: DataFrame, head: list, xff: tuple | None = None
) -> DataFrame:
    """Fold rows -> served rows: ``head`` columns, then bucket_us, n,
    avg_v, min_v, max_v. ``avg_v`` is sum_value/n rounded to 6 places
    the way DuckDB rounds, ``x * 1e6`` rounded half away from zero in
    floating point; Spark's ``round(x, 6)`` rounds x's shortest decimal
    repr instead and disagrees just below a tie (267.5369105 ->
    267.536911, DuckDB 267.53691).

    ``xff=(width_s, step_s, xff_pct)`` applies the xfiles-factor rule:
    a bucket expects ``width_s/step_s`` readings and is valid iff
    ``(expected - n) * 100 <= xff_pct * expected`` (integer arithmetic,
    so the decision is the same on any engine). ``expected`` and
    ``is_valid`` follow n, and an invalid bucket keeps n but NULLs its
    aggregates, rrdtool's UNKNOWN consolidated point."""
    aggs = {
        "avg_v": F.round(
            F.col("sum_value").cast("double") / F.col("n") * 1_000_000
        ) / 1_000_000,
        "min_v": F.col("min_v"),
        "max_v": F.col("max_v"),
    }
    if xff is None:
        return tier.select(
            *head, "bucket_us", "n", *(c.alias(k) for k, c in aggs.items())
        )
    width_s, step_s, xff_pct = (int(x) for x in xff)
    if width_s % step_s != 0:
        raise ValueError(
            f"step_s={step_s} does not divide width_s={width_s} — "
            "expected-interval accounting needs whole steps per bucket"
        )
    expected = width_s // step_s
    valid = (F.lit(expected) - F.col("n")) * 100 <= F.lit(xff_pct * expected)
    return tier.select(
        *head,
        "bucket_us",
        "n",
        F.lit(expected).cast("bigint").alias("expected"),
        valid.alias("is_valid"),
        *(F.when(valid, c).alias(k) for k, c in aggs.items()),
    )


def _rra_cascade(
    df: DataFrame, tiers_s, keys: list, ts: str, value: str,
    count_all: bool,
) -> DataFrame:
    """The retention ladder from ONE raw scan: the finest tier is
    folded from ``df`` and localCheckpoint-ed (bucket-cardinality rows,
    KB to MB) so no coarser tier re-scans raw, and each coarser tier
    composes from the previous one, a shuffle of keys x buckets rows.
    ``tiers_s`` must be non-empty and each width an integer multiple of
    the previous one, so that a coarse bucket is an exact union of fine
    ones (ValueError otherwise). Returns every tier's fold rows under a
    leading ``tier_s``."""
    if not tiers_s:
        raise ValueError("tier ladder is empty: give at least one width")
    for a, b in zip(tiers_s, tiers_s[1:]):
        if int(b) % int(a) != 0:
            raise ValueError(f"tier {b}s is not a multiple of {a}s")
    tiers = [
        _rra_fold(df, keys, ts, value, tiers_s[0], count_all)
        .localCheckpoint()
    ]
    for w in tiers_s[1:]:
        tiers.append(_rra_compose(tiers[-1], keys, w))
    return reduce(
        DataFrame.unionByName,
        (
            t.select(F.lit(int(w)).cast("bigint").alias("tier_s"), "*")
            for w, t in zip(tiers_s, tiers)
        ),
    )


def tiered_rollup(
    df: DataFrame,
    tiers_s: tuple = (3600, 21600, 86400),
    channel: str = "event_type",
    ts: str = "ts",
    value: str = "value",
) -> DataFrame:
    """Multi-resolution consolidation tiers in one raw scan: the
    RRD-style retention ladder a dashboard's zoom level indexes by
    ``tier_s``. Each ``tiers_s[k+1]`` must be an integer multiple of
    ``tiers_s[k]`` (ValueError otherwise); n is ``count(*)``. Output:
    one row per (tier_s, channel, bucket) with n/avg_v/min_v/max_v.
    Cascade, avg_v rounding: :func:`_rra_cascade`, :func:`_rra_finish`.
    """
    return _rra_finish(
        _rra_cascade(df, tiers_s, [channel], ts, value, count_all=True),
        ["tier_s", channel],
    ).orderBy("tier_s", channel, "bucket_us")


def route_range_query(
    df: DataFrame,
    width_s: int,
    tiers_s: tuple = (3600, 21600, 86400),
    channel: str = "event_type",
    ts: str = "ts",
    value: str = "value",
) -> DataFrame:
    """Answer a range-aggregate request at ``width_s`` from the
    coarsest tier of ``tiers_s`` that divides it (raises if none does),
    computing that tier inline from ``df`` and composing it to the
    request; when the request equals the tier width the compose step is
    skipped. n is ``count(*)``. :func:`fetch_from_tier` is the form that
    reads materialized tiers instead of raw. Output one row per
    (channel, request bucket): (tier_s = routed tier, channel,
    bucket_us, n, avg_v, min_v, max_v). Routing, compose and avg_v:
    :func:`_coarsest_dividing`, :func:`_rra_compose`,
    :func:`_rra_finish`.
    """
    routed = _coarsest_dividing(tiers_s, width_s)
    tier = _rra_fold(df, [channel], ts, value, routed, count_all=True)
    if int(width_s) != routed:
        tier = _rra_compose(tier, [channel], width_s)
    return _rra_finish(
        tier, [F.lit(routed).cast("bigint").alias("tier_s"), channel]
    ).orderBy(channel, "bucket_us")


def route_tier(spark, tier_paths, width_s: int) -> tuple[str, int]:
    """The routing half of :func:`fetch_from_tier`: among the ladder's
    sinks, pick the COARSEST whose build width (per its
    ``_downsample_meta.json`` sidecar) divides the requested width.
    Pure driver-side metadata — only the KB sidecars are read, no
    parquet is listed or opened. Raises when a sink lacks its sidecar
    or no width divides the request."""
    from etsd_time_series_database_spark.sources.store import (
        read_meta_sidecar,
    )

    if isinstance(tier_paths, str):
        tier_paths = [tier_paths]
    options: list[tuple[int, str]] = []  # (width, path)
    for p in tier_paths:
        lmeta = read_meta_sidecar(spark, p, "_ladder_meta.json")
        if lmeta is not None:
            # a materialized tier LADDER (materialize_tier_ladder):
            # one table, every tier a partition — contributes all its
            # widths to the route
            options.extend((int(t), p) for t in lmeta["tiers_s"])
            continue
        meta = read_meta_sidecar(spark, p, "_downsample_meta.json")
        if meta is None:
            raise ValueError(
                f"fetch_from_tier: {p} has no _downsample_meta.json "
                "or _ladder_meta.json sidecar — not a downsample sink "
                "or tier ladder (or built before sidecars); rebuild "
                "it with `recover --partitioned` or "
                "materialize_tier_ladder"
            )
        options.append((int(meta["width_s"]), p))
    w = _coarsest_dividing([w for w, _ in options], width_s)
    return max(p for ww, p in options if ww == w), w


def fetch_from_tier(
    spark,
    tier_paths,
    width_s: int,
    start_us: int | None = None,
    end_us: int | None = None,
    routed: tuple[str, int] | None = None,
    step_s: int | None = None,
    xff_pct: int = 50,
) -> DataFrame:
    """RRA fetch against MATERIALIZED consolidation tiers: the form of
    :func:`route_range_query` that never touches raw history.
    ``tier_paths`` is the ladder: any mix of downsample sinks
    (``recover --partitioned`` output, one width each,
    ``_downsample_meta.json``) and :func:`materialize_tier_ladder`
    tables (every tier a ``tier_s=`` partition of one table,
    ``_ladder_meta.json``). Routing (:func:`route_tier`) reads only the
    sidecars, so tiers that lose the route are never listed, opened or
    scanned (plan-pinned: the executed scan reads exactly the routed
    tier's files). The answer composes from the routed tier's carried
    ``sum_value``; a sink built before that column existed raises with
    a rebuild hint instead of degrading to a float-composed average.

    With ``step_s`` (the deployment's polling cadence) the xfiles-factor
    rule applies at the request width: ``expected``/``is_valid`` per
    bucket and NULL aggregates on invalid ones (q82's rule, at fetch
    time).

    ``start_us``/``end_us`` (epoch micros, half-open) prune the read:
    a conservative ±1-day ``dt`` partition filter (immune to the
    session-timezone skew of ``to_date``) plus the exact bucket
    predicate. Compose, avg_v and the xff rule: :func:`_rra_compose`,
    :func:`_rra_finish`.
    """
    from etsd_time_series_database_spark.sources.store import (
        read_meta_sidecar,
    )

    # callers that already routed (the CLI prints the decision before
    # fetching) pass it through instead of re-reading every sidecar
    routed_path, routed_w = (
        routed
        if routed is not None
        else route_tier(spark, tier_paths, width_s)
    )
    bounded = start_us is not None or end_us is not None
    lo = start_us if start_us is not None else 0
    hi = end_us if end_us is not None else 4_102_444_800_000_000
    lmeta = read_meta_sidecar(spark, routed_path, "_ladder_meta.json")
    if lmeta is not None:
        # ladder table: tier_s is a PARTITION column, so selecting the
        # routed tier is directory pruning; columns are already the
        # fold shape (bucket_us, n, sum_value, min_v, max_v)
        keys = [lmeta["channel"]]
        tier = (
            spark.read.parquet(routed_path)
            .filter(F.col("tier_s") == int(routed_w))
            .select(
                *keys, "bucket_us", "n", "sum_value", "min_v", "max_v"
            )
        )
        if bounded:
            # bucket_us is the sort column inside each tier file, so
            # this predicate prunes at parquet row-group level
            tier = tier.filter(
                (F.col("bucket_us") >= lo) & (F.col("bucket_us") < hi)
            )
    else:
        tier = spark.read.parquet(routed_path)
        if "sum_value" not in tier.columns:
            raise ValueError(
                f"fetch_from_tier: {routed_path} predates the carried "
                "exact sums (no sum_value column) — rebuild it with "
                "`recover --partitioned` to enable exact fetch"
            )
        keys = [
            c for c in ("source", "channel", "event_type")
            if c in tier.columns
        ]
        if bounded:
            tier = tier.filter(
                (F.col("dt") >= F.date_sub(
                    F.to_date(F.timestamp_micros(F.lit(lo))), 1))
                & (F.col("dt") <= F.date_add(
                    F.to_date(F.timestamp_micros(F.lit(hi))), 1))
                & (F.unix_micros("bucket_ts") >= lo)
                & (F.unix_micros("bucket_ts") < hi)
            )
        tier = tier.select(
            *keys,
            F.unix_micros("bucket_ts").alias("bucket_us"),
            "n",
            "sum_value",
            F.col("min_value").alias("min_v"),
            F.col("max_value").alias("max_v"),
        )
    return _rra_finish(
        _rra_compose(tier, keys, width_s),
        [F.lit(routed_w).cast("bigint").alias("tier_s"), *keys],
        None if step_s is None else (width_s, step_s, xff_pct),
    ).orderBy(*keys, "bucket_us")


def materialize_tier_ladder(
    df: DataFrame,
    path: str,
    tiers_s: tuple = (3600, 21600, 86400),
    channel: str = "event_type",
    ts: str = "ts",
    value: str = "value",
) -> dict:
    """Persist the whole consolidation ladder as one ``tier_s``-
    partitioned table: :func:`tiered_rollup`'s cascade with the exact
    sums kept as ``sum_value`` instead of folded into a display
    average, so :func:`fetch_from_tier` can route INTO the table
    (selecting the routed tier is partition pruning) and compose
    coarser answers. n is ``count(value)``, the downsample sinks' n, so
    fetch's answer does not depend on which tier kind wins the route.
    The rrdtool analog is the multi-RRA file: every retention level in
    one artifact.

    Layout per row: (tier_s=, channel, bucket_us, n, sum_value
    decimal(28,6), min_v, max_v), sorted by (channel, bucket_us) within
    each tier so a bounded fetch prunes at parquet row-group level. The
    root carries a ``_ladder_meta.json`` sidecar ({tiers_s, channel}),
    the routing metadata read before any parquet is listed. The table
    is staged and swapped in (:func:`sources.store.install_staged`), so
    a failed rebuild leaves the previous ladder readable. Returns
    {tier_s: n_buckets}.
    """
    from etsd_time_series_database_spark.sources.store import (
        install_staged,
        write_meta_sidecar,
    )

    spark = df.sparkSession
    ladder = _rra_cascade(df, tiers_s, [channel], ts, value, count_all=False)

    def write(tmp: str) -> None:
        # led by tier_s, or the planned write's tier_s sort drops it
        ladder.repartition("tier_s").sortWithinPartitions(
            "tier_s", channel, "bucket_us"
        ).write.partitionBy("tier_s").parquet(tmp)
        write_meta_sidecar(
            spark, tmp, "_ladder_meta.json",
            {"tiers_s": [int(t) for t in tiers_s], "channel": channel},
        )

    install_staged(spark, path, "ladder", write)
    return {
        int(r.tier_s): r.n
        for r in spark.read.parquet(path)
        .groupBy("tier_s").count().withColumnRenamed("count", "n")
        .collect()
    }


def percentile_profile(
    df: DataFrame,
    percentiles: tuple = (0.5, 0.9, 0.99),
    bucket_s: int = 86_400,
    channel: str = "event_type",
    ts: str = "ts",
    value: str = "value",
) -> DataFrame:
    """EXACT interpolated percentiles per channel per bucket (p50/p90/
    p99 by default) — the latency/SLO profile view. Exact (not
    percentile_approx) is affordable BECAUSE the group is (channel,
    day): group size is bounded by one channel's daily cadence, never
    corpus volume, so the per-group sort stays in-task at any total
    scale. An unbounded grouping (whole-history percentiles) is the
    one place approx sketches would be required instead — that query
    shape is deliberately not this operator.

    Spark's ``percentile`` and DuckDB's ``quantile_cont`` share the
    same linear-interpolation definition; the outputs round at 6 (the
    double-artifact convention), making the entry hash-exact.
    """
    w_us = int(bucket_s) * 1_000_000
    pct_sql = "array(" + ", ".join(
        f"CAST({p} AS DOUBLE)" for p in percentiles
    ) + ")"
    agged = (
        df.select(
            F.col(channel),
            (F.expr(f"unix_micros({ts}) div {w_us}") * w_us).alias(
                "bucket_us"
            ),
            F.col(value).alias("__v"),
        )
        .groupBy(channel, "bucket_us")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.expr(f"percentile(__v, {pct_sql})").alias("__p"),
        )
    )
    cols = [channel, "bucket_us", "n"]
    for i, p in enumerate(percentiles):
        name = f"p{str(p)[2:].ljust(2, '0')}" if p < 1 else f"p{int(p*100)}"
        cols.append(
            F.round(F.col("__p")[i], 6).alias(name)
        )
    return agged.select(*cols).orderBy(channel, "bucket_us")
