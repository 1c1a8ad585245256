"""Time-series range operators — the query surface of the reference.

Each function takes a long-format DataFrame
``(ts timestamp, <channel> string, <value> double, <seq> bigint)`` and
returns a DataFrame (never collects). They re-express the reference's
single-channel C aggregation loop (``etsdAMT``/``ETSD_KS``, reference
code/etsdQuery.c:218-401 and code/etsdQuery.h:25-55) as declarative
plans over *all* channels at once: on a cluster one pass computes what
the reference needs one full file scan per channel for.

Scale notes (100 TB):
  * every operator keeps its filter on ``ts`` as a raw column
    predicate so Catalyst pushes it into the Parquet scan (partition
    pruning + row-group skipping == the reference's block-skip search,
    code/etsdRead.c:300-353);
  * grouped aggregations are plain hash aggregates with map-side
    partial combine — one shuffle keyed by channel (or channel+bucket,
    which also breaks low-cardinality-channel skew for downsampling);
  * window functions partition by channel; for few huge channels,
    callers should pre-bucket by (channel, day) when the window frame
    allows it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etsd_time_series_database_spark.functions.exprs import (
    DEC,
    bucket_epoch,
    davg,
    dsum,
    epoch_us,
    with_sortable_bits,
)
from etsd_time_series_database_spark.operators import scalable_window as sw


def _in_range(ts: str, start, end) -> Column:
    return (F.col(ts) >= F.lit(start).cast("timestamp")) & (
        F.col(ts) <= F.lit(end).cast("timestamp")
    )


def range_stats(
    df: DataFrame,
    start,
    end,
    channel: str = "event_type",
    value: str = "value",
    ts: str = "ts",
) -> DataFrame:
    """Per-channel min/max/avg/sum/count over [start, end] — the
    reference's ``etsdCmd query q=min|max|ave|tot`` (code/etsdCmd.c:455,
    loop code/etsdQuery.c:316-340) for every channel in one scan.

    Invalid samples (NULL here; 0xFFFFFFFF sentinel in the reference,
    code/etsd.h:77) are excluded from min/max/avg exactly as the
    reference excludes them (code/etsdQuery.c:320-331).
    """
    return (
        df.filter(_in_range(ts, start, end))
        .groupBy(channel)
        .agg(
            F.count(value).alias("n"),
            F.min(value).alias("min_value"),
            F.max(value).alias("max_value"),
            davg(value, "avg_value"),
            dsum(value, "total_value"),
        )
        .orderBy(channel)
    )


def value_at(
    df: DataFrame,
    at,
    channel: str = "event_type",
    value: str = "value",
    ts: str = "ts",
) -> DataFrame:
    """As-of point lookup: latest reading per channel with ts <= at —
    reference ``etsdVAT`` (code/etsdQuery.c:206-215; the C version is
    incomplete and returns uninitialized data on the found path — the
    intended semantics are implemented here).

    Deterministic under ts ties: join-back on the max ts and collapse
    duplicates with max(value); no reliance on engine-specific
    max_by tie-breaking.
    """
    filtered = df.filter(F.col(ts) <= F.lit(at).cast("timestamp"))
    f = filtered.alias("f")
    m = filtered.groupBy(channel).agg(F.max(ts).alias("__mts")).alias("m")
    return (
        f.join(
            F.broadcast(m),
            on=(F.col(f"f.{channel}") == F.col(f"m.{channel}"))
            & (F.col(f"f.{ts}") == F.col("m.__mts")),
        )
        .groupBy(F.col(f"f.{channel}").alias(channel))
        .agg(
            F.max(epoch_us(F.col(f"f.{ts}"))).alias("asof_ts_us"),
            F.max(F.col(f"f.{value}")).alias("asof_value"),
        )
        .orderBy(channel)
    )


def downsample(
    df: DataFrame,
    width_s: int,
    how: str = "avg",
    start=None,
    end=None,
    channel: str = "event_type",
    value: str = "value",
    ts: str = "ts",
    seq: str = "event_id",
) -> DataFrame:
    """RRA-style consolidation: tumbling ``width_s`` buckets with
    AVERAGE/MIN/MAX/LAST — the reference's RRD export consolidation
    (code/plugins/edoRRD.c:44-74; RRA spec 'ECM-1240 storage format
    2.txt:127-148').

    ``last`` uses row_number over (ts desc, seq desc) — fully
    deterministic, unlike bare max_by under ts ties. The shuffle key is
    (channel, bucket): high cardinality, skew-free at any scale.
    """
    if start is not None:
        df = df.filter(_in_range(ts, start, end))
    b = df.withColumn("bucket_s", bucket_epoch(ts, width_s))
    if how == "avg":
        out = b.groupBy(channel, "bucket_s").agg(davg(value, "avg_value"))
    elif how == "minmax":
        out = b.groupBy(channel, "bucket_s").agg(
            F.min(value).alias("min_value"), F.max(value).alias("max_value")
        )
    elif how == "last":
        w = Window.partitionBy(channel, "bucket_s").orderBy(
            F.col(ts).desc(), F.col(seq).desc()
        )
        out = (
            b.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(channel, "bucket_s", F.col(value).alias("last_value"))
        )
    else:
        raise ValueError(f"unknown consolidation {how!r}")
    return out.orderBy(channel, "bucket_s")


def rate(
    df: DataFrame,
    channel: str = "event_type",
    value: str = "value",
    ts: str = "ts",
    seq: str = "event_id",
    bucket_s: int = 86400,
) -> DataFrame:
    """Counter -> rate: (v - lag(v)) / Δt per channel — the query-time
    equivalent of the reference's ingest-side delta encoding
    (code/etsdSave.c:396-398) re-derived from raw stored readings.

    Computed in the stitched (channel, time-bucket) form: channel
    cardinality is typically tiny (the reference tops out at 16
    channels), so a window partitioned by channel alone caps cluster
    parallelism at n_channels.
    """
    return sw.rate_scalable(
        df, channel=channel, value=value, ts=ts, seq=seq, bucket_s=bucket_s
    )


def rollover_corrected(
    df: DataFrame,
    rollover: int = 2**32,
    channel: str = "event_type",
    value: str = "value",
    ts: str = "ts",
    seq: str = "event_id",
    bucket_s: int = 86400,
) -> DataFrame:
    """Rollover-corrected monotone counter: whenever a reading drops
    below its predecessor, add one rollover span — the reference's
    'bump' logic (code/etsdQuery.c:332-336,383) generalized to a
    cumulative correction column.

    Computed with the stitched lag + distributed prefix sum (see
    operators.scalable_window): parallelism (channels x buckets), not
    n_channels.
    """
    return sw.rollover_corrected_scalable(
        df,
        rollover=rollover,
        channel=channel,
        value=value,
        ts=ts,
        seq=seq,
        bucket_s=bucket_s,
    )


def first_crossing(
    df: DataFrame,
    threshold: float,
    channel: str = "event_type",
    value: str = "value",
    ts: str = "ts",
) -> DataFrame:
    """First time each channel crosses above/below/equal a constant —
    the reference's fOver/fUnder/fEqual (ETSD_KS,
    code/etsdQuery.h:39-44). Conditional MIN aggregates: one scan, one
    shuffle, no window needed."""
    k = F.lit(threshold)
    v, t = F.col(value), epoch_us(ts)
    return (
        df.groupBy(channel)
        .agg(
            F.min(F.when(v > k, t)).alias("first_over_us"),
            F.min(F.when(v < k, t)).alias("first_under_us"),
            F.min(F.when(v == k, t)).alias("first_equal_us"),
        )
        .orderBy(channel)
    )


def time_of_extreme(
    df: DataFrame,
    channel: str = "event_type",
    value: str = "value",
    ts: str = "ts",
) -> DataFrame:
    """Timestamp of each channel's min and max value — ETSD_KS tMin/tMax
    (code/etsdQuery.h:37-38). Deterministic under value ties (earliest
    ts wins) via join-back on the extreme value, not max_by."""
    ext = df.groupBy(channel).agg(
        F.min(value).alias("__minv"), F.max(value).alias("__maxv")
    )
    j = df.join(F.broadcast(ext), channel)
    return (
        j.groupBy(channel)
        .agg(
            F.min(F.when(F.col(value) == F.col("__minv"), epoch_us(ts))).alias(
                "t_min_us"
            ),
            F.min(F.when(F.col(value) == F.col("__maxv"), epoch_us(ts))).alias(
                "t_max_us"
            ),
            F.min("__minv").alias("min_value"),
            F.max("__maxv").alias("max_value"),
        )
        .orderBy(channel)
    )


def gaps(
    df: DataFrame,
    gap_s: int,
    channel: str = "event_type",
    value: str = "value",
    ts: str = "ts",
    seq: str = "event_id",
) -> DataFrame:
    """Data-quality accounting: NULL sample count + number of inter-
    sample gaps exceeding ``gap_s`` — the reference's invalid-interval
    counting and short-block accounting (errCnt code/etsdQuery.h:36;
    valid-interval word code/etsdSave.c:58-66)."""
    w = Window.partitionBy(channel).orderBy(F.col(ts), F.col(seq))
    dt_us = epoch_us(ts) - F.lag(epoch_us(ts)).over(w)
    return (
        df.withColumn("__gap", F.when(dt_us > gap_s * 1_000_000, 1).otherwise(0))
        .groupBy(channel)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col(value).isNull(), 1).otherwise(0)).alias("n_null"),
            F.sum("__gap").alias("n_gaps"),
        )
        .orderBy(channel)
    )


def interpolated_total(
    df: DataFrame,
    start,
    end,
    interval_s: int = 3600,
    channel: str = "event_type",
    value: str = "value",
    ts: str = "ts",
) -> DataFrame:
    """Pro-rata boundary-interpolated total over [start, end).

    The reference's head/tail partial-interval interpolation
    (code/etsdQuery.c:254 ``data*tail/intervalTime`` and :279
    ``data*head/intervalTime``) — an interval only partially covered by
    the query range contributes proportionally. Here: consolidate to
    ``interval_s`` buckets (exact decimal totals), then weight each
    bucket by overlap_seconds/interval_s.

    Two-level aggregation = two narrow shuffles; the bucket totals are
    tiny after the first combine, so this scales to arbitrary range
    lengths.
    """
    s_ts = F.lit(start).cast("timestamp")
    e_ts = F.lit(end).cast("timestamp")
    b = (
        df.filter(
            (F.col(ts) >= F.lit(start).cast("timestamp") - F.expr(f"INTERVAL {interval_s} SECOND"))
            & (F.col(ts) < F.lit(end).cast("timestamp") + F.expr(f"INTERVAL {interval_s} SECOND"))
        )
        .withColumn("bucket_s", bucket_epoch(ts, interval_s))
        .groupBy(channel, "bucket_s")
        .agg(F.sum(F.col(value).cast(DEC)).alias("__tot"))
    )
    # Overlap weight at MICROSECOND resolution, exact decimal all the
    # way: a sub-second-aligned boundary keeps its fractional pro-rata
    # contribution (the reference divides data*head by intervalTime in
    # integer micro-units too, code/etsdQuery.c:254,279). The narrow
    # decimal(18,6) x decimal(13,0) product stays within decimal(38,_)
    # so no precision-loss rounding kicks in, and one single
    # decimal->double cast at the end keeps DuckDB bit-parity.
    a_us = F.unix_micros(s_ts)
    b_us = F.unix_micros(e_ts)
    lo_us = F.col("bucket_s") * F.lit(1_000_000)
    hi_us = (F.col("bucket_s") + interval_s) * F.lit(1_000_000)
    overlap_us = F.least(hi_us, b_us) - F.greatest(lo_us, a_us)
    return (
        b.filter((hi_us > a_us) & (lo_us < b_us))
        .withColumn(
            "__contrib",
            F.col("__tot").cast("decimal(18,6)")
            * overlap_us.cast("decimal(13,0)"),
        )
        .groupBy(channel)
        .agg(
            (
                F.sum("__contrib").cast("double")
                / F.lit(float(interval_s) * 1_000_000.0)
            ).alias("interp_total")
        )
        .orderBy(channel)
    )


def reconstruct_from_deltas(
    df: DataFrame,
    channel: str = "event_type",
    value: str = "value",
    ts: str = "ts",
    seq: str = "event_id",
    tolerance: float = 1e-9,
) -> DataFrame:
    """Round-trip check: delta-encode then cumulative-sum reconstruct,
    count mismatches vs the raw series — the read-path re-accumulation
    of the reference's counter deltas (encode code/etsdSave.c:396-398,
    decode cumsum code/etsdRead.c:274)."""
    w = Window.partitionBy(channel).orderBy(F.col(ts), F.col(seq))
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    delta = F.col(value) - F.lag(value).over(w)
    recon = F.sum(F.coalesce(delta, F.col(value))).over(cum)
    return (
        df.withColumn("__recon", recon)
        .groupBy(channel)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(F.abs(F.col("__recon") - F.col(value)) > tolerance, 1).otherwise(0)
            ).alias("n_mismatch"),
        )
        .orderBy(channel)
    )


# Mantissa bits below the exponent field in q33's value buckets:
# 2^bits sub-buckets per binade. 4 measured the best local cost at an
# unchanged fan-out class; every power of two in [2..8] gave 100-2000
# buckets per channel on the sf0.1 value spread.
VALUE_BUCKET_BITS = 4


def _value_ranks(
    src: DataFrame, channel: str, value: str, seq: str
) -> tuple[DataFrame, DataFrame]:
    """Rank each row of ``src`` within its channel by (value, seq):
    returns ``ranked`` (channel, value, ``__rn``) and ``counts``
    (channel, ``__n``).

    Stitched (channel, value-bucket) form (round 14; the
    lag_stitched/cumsum_scalable pattern applied to VALUE order
    instead of time order): a window partitioned by channel alone
    caps parallelism at n_channels — at 100 TB a handful of tasks
    would each sort the full history by value. The bucket is the HIGH
    BITS of the IEEE-754 sortable-bits image of the value (round 15:
    exponent field plus the top :data:`VALUE_BUCKET_BITS` mantissa
    bits) — an order-preserving split of the value axis that is
    data-adaptive BY CONSTRUCTION: buckets follow the value
    distribution's floating-point neighborhoods, so a channel whose
    values concentrate in [0, 1) still fans out across ~2^bits
    buckets per binade where the round-14 fixed ``floor(value /
    100.0)`` width collapsed it to ONE bucket. No pre-pass, no join:
    the bucket is a per-row projection. The image is taken of
    ``value + 0.0``, which maps -0.0 to +0.0: the rank window's sort
    treats the two as equal and breaks their tie by ``seq``, so they
    must share a bucket. NaN lands above +Inf in the bits image —
    exactly the rank window's value order. Global rank = in-bucket
    row_number + the exclusive running count of lower buckets,
    computed on a (channels x present-buckets)-row summary; the
    per-channel counts close from that summary too, so the ranked
    pipeline is NOT evaluated for them. The one irreducible
    degeneracy is a channel whose values are all EQUAL (a constant
    has one floating-point neighborhood); its rank order is then pure
    ``seq`` order inside one bucket, which no value-axis split can
    spread."""
    # projection-chain form of the bits image: the intermediates
    # materialize once per row (11x the nested single expression —
    # see exprs.with_sortable_bits)
    b = (
        with_sortable_bits(src, F.col(value) + 0.0, "__dsb_o")
        .withColumn("__vb", F.shiftright(F.col("__dsb_o"), 52 - VALUE_BUCKET_BITS))
        .drop("__dsb_o")
    )
    w_in = Window.partitionBy(channel, "__vb").orderBy(F.col(value), F.col(seq))
    sizes = b.groupBy(channel, "__vb").agg(F.count(F.lit(1)).alias("__bn"))
    w_excl = (
        Window.partitionBy(channel)
        .orderBy("__vb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sizes.select(
        channel,
        "__vb",
        F.coalesce(F.sum("__bn").over(w_excl), F.lit(0)).alias("__off"),
    )
    ranked = (
        b.withColumn("__rin", F.row_number().over(w_in))
        # unhinted boundary join, same rationale as lag_stitched
        .join(offsets, [channel, "__vb"])
        .select(
            channel,
            value,
            (F.col("__rin") + F.col("__off")).cast("int").alias("__rn"),
        )
    )
    counts = sizes.groupBy(channel).agg(F.sum("__bn").cast("int").alias("__n"))
    return ranked, counts


def exact_percentiles(
    df: DataFrame,
    ps: tuple[float, ...] = (0.5, 0.9, 0.99),
    channel: str = "event_type",
    value: str = "value",
    seq: str = "event_id",
) -> DataFrame:
    """Exact linear-interpolated percentiles per channel, computed with
    explicit rank arithmetic (pos = p*(n-1); lerp between the two
    straddling order statistics) rather than an engine-builtin — the
    identical expression shape runs on any SQL engine, so results are
    bit-exact cross-engine where builtin percentile implementations
    drift by ulps.

    Plan: the stitched (channel, value-bucket) rank of
    :func:`_value_ranks` + a tiny broadcast of the percentile spec +
    one join on (channel, rank) — the joined side carries only the
    straddling rows, not the full series."""
    ranked, counts = _value_ranks(
        df.filter(F.col(value).isNotNull()), channel, value, seq
    )
    spec = F.explode(F.array(*[F.lit(p) for p in ps])).alias("p")
    pos = F.col("p") * (F.col("__n") - 1)
    targets = counts.select(channel, "__n", spec).select(
        channel,
        "p",
        F.floor(pos).cast("int").alias("__lo"),
        (pos - F.floor(pos)).alias("__frac"),
        F.least(F.floor(pos).cast("int") + 1, F.col("__n") - 1).alias("__hi"),
    )
    # BOTH straddling order statistics come from ONE broadcast join
    # against ONE evaluation of ranked (round 15): the needed ranks
    # (channels x ps x 2 rows — driver-scale) broadcast, each matches
    # exactly one ranked row, and the lo/hi columns pivot back out of
    # the (channel, p) group. Replaces two separate corpus-subtree
    # joins; results identical (same rows, same lerp arithmetic).
    need = targets.select(
        F.col(channel).alias("__c"),
        "p",
        "__frac",
        F.explode(
            F.array(
                F.struct(
                    F.lit("lo").alias("__role"),
                    (F.col("__lo") + 1).alias("__need"),
                ),
                F.struct(
                    F.lit("hi").alias("__role"),
                    (F.col("__hi") + 1).alias("__need"),
                ),
            )
        ).alias("__nh"),
    ).select(
        "__c",
        "p",
        "__frac",
        F.col("__nh.__role").alias("__role"),
        F.col("__nh.__need").alias("__need"),
    )
    sel = ranked.join(
        F.broadcast(need),
        (F.col(channel) == F.col("__c")) & (F.col("__rn") == F.col("__need")),
    )
    return (
        sel.groupBy(channel, "p")
        .agg(
            F.max(F.when(F.col("__role") == "lo", F.col(value))).alias(
                "__vlo"
            ),
            F.max(F.when(F.col("__role") == "hi", F.col(value))).alias(
                "__vhi"
            ),
            F.max("__frac").alias("__frac"),
        )
        .select(
            channel,
            "p",
            (
                F.col("__vlo") + (F.col("__vhi") - F.col("__vlo")) * F.col("__frac")
            ).alias("pct_value"),
        )
        .orderBy(channel, "p")
    )


def counter_total(
    df: DataFrame,
    start,
    end,
    rollover: int = 2**32,
    channel: str = "event_type",
    value: str = "value",
    ts: str = "ts",
    seq: str = "event_id",
) -> DataFrame:
    """Counter-mode range total and rate (SURVEY §2.1 semantic detail
    #1; reference code/etsdQuery.c:374-396): over [start, end] the
    counter's consumption is ``last − first + rollover·n_wraps`` and
    its 'ave' is that total divided by wall seconds — a rate — unlike
    gauge channels whose ave divides by the sample count
    (code/etsdQuery.c:388-394).

    first/last are picked by (ts, seq) struct extremes — deterministic
    under ts ties; wraps counted by a lag window inside the range.
    """
    ranged = df.filter(_in_range(ts, start, end))
    w = Window.partitionBy(channel).orderBy(F.col(ts), F.col(seq))
    wraps = F.when(F.col(value) < F.lag(value).over(w), 1).otherwise(0)
    span_s = (
        F.lit(end).cast("timestamp").cast("double")
        - F.lit(start).cast("timestamp").cast("double")
    )
    return (
        ranged.withColumn("__wrap", wraps)
        .groupBy(channel)
        .agg(
            F.min_by(value, F.struct(F.col(ts), F.col(seq))).alias("__first"),
            F.max_by(value, F.struct(F.col(ts), F.col(seq))).alias("__last"),
            F.sum("__wrap").alias("__wraps"),
        )
        .select(
            channel,
            (
                F.col("__last")
                - F.col("__first")
                + F.col("__wraps") * F.lit(float(rollover))
            ).alias("counter_total"),
            (
                (
                    F.col("__last")
                    - F.col("__first")
                    + F.col("__wraps") * F.lit(float(rollover))
                )
                / span_s
            ).alias("rate_per_s"),
        )
        .orderBy(channel)
    )


def etsd_ks(
    df: DataFrame,
    threshold: float,
    start,
    end,
    channel: str = "event_type",
    value: str = "value",
    ts: str = "ts",
) -> DataFrame:
    """The full ETSD_KS composite record per channel over [start, end]
    (reference struct code/etsdQuery.h:25-55; etsdAMT fills the
    min/max/ave/total members, code/etsdQuery.c:316-396; the
    threshold members were declared but stubbed in C,
    code/etsdQuery.c:403-413 — implemented for real here).

    One scan -> one grouped aggregate with conditional branches, plus a
    broadcast join-back for the deterministic time-of-extreme members.
    """
    k = F.lit(threshold)
    v, t = F.col(value), epoch_us(ts)
    ranged = df.filter(_in_range(ts, start, end))
    base = ranged.groupBy(channel).agg(
        F.count(F.lit(1)).alias("intv_cnt"),
        F.sum(F.when(v.isNull(), 1).otherwise(0)).alias("err_cnt"),
        F.min(value).alias("min_value"),
        F.max(value).alias("max_value"),
        davg(value, "avg_value"),
        dsum(value, "total_value"),
        F.sum(F.when(v > k, 1).otherwise(0)).alias("n_over"),
        F.sum(F.when(v < k, 1).otherwise(0)).alias("n_under"),
        F.sum(F.when(v == k, 1).otherwise(0)).alias("n_equal"),
        F.min(F.when(v > k, t)).alias("first_over_us"),
        F.min(F.when(v < k, t)).alias("first_under_us"),
        F.min(F.when(v == k, t)).alias("first_equal_us"),
        (
            F.sum(F.when(v > k, v.cast(DEC))).cast("double")
            / F.sum(F.when(v > k, 1))
        ).alias("avg_when_over"),
        (
            F.sum(F.when(v < k, v.cast(DEC))).cast("double")
            / F.sum(F.when(v < k, 1))
        ).alias("avg_when_under"),
    )
    tx = time_of_extreme(ranged, channel=channel, value=value, ts=ts).select(
        channel, "t_min_us", "t_max_us"
    )
    return base.join(F.broadcast(tx), channel).orderBy(channel)


def longest_gaps(
    df: DataFrame,
    k: int = 3,
    channel: str = "event_type",
    ts: str = "ts",
    seq: str = "event_id",
    bucket_s: int = 86400,
) -> DataFrame:
    """Top-k LONGEST inter-sample gaps per channel with their
    endpoints — the outage report behind q14's gap *counts* (which
    silence was worst, when did it start/end). Rank per channel by
    (duration DESC, gap start, seq): Catalyst rewrites the rank-1..k
    filter to WindowGroupLimit, so each task keeps k rows per channel
    before the exchange — the q44 pruning shape, never a full sort of
    the fact.

    The lag() is where channel-keyed skew lives (the rank is
    WindowGroupLimit-bounded either way): it is computed with the
    stitched (channel, time-bucket) form (q07's
    operators/scalable_window.py machinery), so parallelism is bounded
    by buckets, not channels."""
    st = sw.lag_stitched(
        df.withColumn("__ts_us", epoch_us(ts)),
        ["__ts_us"],
        channel=channel,
        ts=ts,
        seq=seq,
        bucket_s=bucket_s,
    )
    d = (
        st.filter(F.col("__lag___ts_us").isNotNull())
        .select(
            F.col(channel),
            F.col("__ts_us").alias("__us"),
            F.col(seq).alias("__seq"),
            F.col("__lag___ts_us").alias("__prev_us"),
        )
        .withColumn("gap_us", F.col("__us") - F.col("__prev_us"))
    )
    wr = Window.partitionBy(channel).orderBy(
        F.col("gap_us").desc(), "__prev_us", "__seq"
    )
    return (
        d.withColumn("__rn", F.row_number().over(wr))
        .filter(F.col("__rn") <= k)
        .select(
            F.col(channel),
            F.col("__rn").alias("rank"),
            "gap_us",
            F.col("__prev_us").alias("gap_start_us"),
            F.col("__us").alias("gap_end_us"),
        )
        .orderBy(channel, "rank")
    )


def episode_table(
    df: DataFrame,
    threshold: float,
    channel: str = "event_type",
    value: str = "value",
    ts: str = "ts",
    seq: str = "event_id",
    bucket_s: int = 86400,
) -> DataFrame:
    """One row per alarm episode: consecutive samples above
    ``threshold`` form an episode (gaps-and-islands), reduced to
    (channel, island id, n_samples, start_us, end_us, span_us). The
    shared reduction under :func:`alarm_episodes` (per-channel worst
    incident) and :func:`alarm_coverage` (cross-channel interval
    union).

    Island id: for an above-threshold row, rn_all − rn_above equals
    the running count of NOT-above rows at or before it (each below
    row increments it, separating runs; it is constant within a run).
    That is a single per-channel prefix sum of the not-above
    indicator, computed with the distributed prefix-sum machinery
    (operators/scalable_window.cumsum_scalable, q08's shape) —
    (channel, bucket) parallelism instead of the channel-capped
    double-row_number window. The per-island rollup is a
    map-side-combinable hash-agg.
    """
    us = epoch_us(ts)
    base = df.filter(F.col(value).isNotNull()).select(
        F.col(channel),
        F.col(ts),
        us.alias("__us"),
        F.col(seq),
        (F.col(value) > threshold).alias("__above"),
    )
    marked = sw.cumsum_scalable(
        base,
        F.when(F.col("__above"), F.lit(0)).otherwise(F.lit(1)),
        "__island",
        channel=channel,
        ts=ts,
        seq=seq,
        bucket_s=bucket_s,
    )
    episodes = (
        marked.filter(F.col("__above"))
        .groupBy(channel, "__island")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.min("__us").alias("start_us"),
            F.max("__us").alias("end_us"),
        )
        .withColumn("span_us", F.col("end_us") - F.col("start_us"))
    )
    return episodes


def alarm_episodes(
    df: DataFrame,
    threshold: float,
    channel: str = "event_type",
    value: str = "value",
    ts: str = "ts",
    seq: str = "event_id",
    bucket_s: int = 86400,
) -> DataFrame:
    """Alarm-episode accounting per channel over the
    :func:`episode_table`: episode count plus the LONGEST episode's
    span/start/samples (packed-decimal argmax, EARLIEST on ties) —
    which incident was worst, completing the alarm family (q49: total
    time above; q51: longest silences). See :func:`episode_table` for
    the stitched island construction."""
    episodes = episode_table(
        df,
        threshold,
        channel=channel,
        value=value,
        ts=ts,
        seq=seq,
        bucket_s=bucket_s,
    )
    # pack (span, −start) for the argmax: spans fit decimal(19,0),
    # start epochs fit the low 19 digits (the q35 packing)
    shift = F.expr("CAST(10000000000000000000 AS DECIMAL(20,0))")
    packed = F.col("span_us").cast("decimal(19,0)") * shift + (
        F.expr("CAST(9999999999999999999 AS DECIMAL(19,0))")
        - F.col("start_us").cast("decimal(19,0)")
    )
    return (
        episodes.withColumn("__pk", packed)
        .groupBy(channel)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_episodes"),
            F.max("span_us").cast("bigint").alias("longest_span_us"),
            F.max_by("start_us", "__pk").alias("longest_start_us"),
            F.max_by("n_samples", "__pk").cast("bigint").alias(
                "longest_n_samples"
            ),
        )
        .orderBy(channel)
    )


def _bucket_merged_segments(
    eps: DataFrame,
    channel: str,
    bucket_s: int,
) -> DataFrame:
    """Shared first stage of the distributed interval union: split
    episodes at ``bucket_s`` boundaries, merge touching/overlapping
    segments per bucket (window PARTITIONED by bucket). Returns one
    row per merged within-bucket interval: (__b, m_s, m_e, m_eps
    [episodes whose FIRST segment lies in it], __lt/__rt [touches the
    bucket's left/right edge]). After the merge at most one interval
    per bucket touches each edge — the property both consumers
    (:func:`_interval_union_stitched`'s cross-bucket stitch and
    :func:`coverage_timeline`'s per-bucket rollup) rely on.

    Domain note: bucket assignment uses integer ``DIV`` (truncation
    toward zero), which equals floor division only for NON-NEGATIVE
    microsecond epochs — the system's domain (the reference stores
    unix epochs, code/etsd.h). Pre-1970 timestamps would mis-bucket
    here and in the DuckDB oracles' ``//`` (floor) inconsistently."""
    w_us = int(bucket_s) * 1_000_000
    seg = eps.withColumn(
        "__b",
        F.explode(
            F.sequence(
                F.expr(f"start_us DIV {w_us}"),
                F.expr(f"end_us DIV {w_us}"),
            )
        ),
    ).select(
        F.col("__b"),
        F.greatest(F.col("start_us"), F.col("__b") * w_us).alias("__s"),
        F.least(
            F.col("end_us"), (F.col("__b") + F.lit(1)) * w_us
        ).alias("__e"),
        F.when(
            F.col("__b") == F.expr(f"start_us DIV {w_us}"), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("__w"),
        F.col(channel),
    )
    order = [F.col("__s"), F.col("__e"), F.col(channel)]
    wb_prev = (
        Window.partitionBy("__b")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wb_run = (
        Window.partitionBy("__b")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    opened = F.when(
        F.max("__e").over(wb_prev).isNull()
        | (F.col("__s") > F.max("__e").over(wb_prev)),
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        seg.withColumn("__iv", F.sum(opened).over(wb_run))
        .groupBy("__b", "__iv")
        .agg(
            F.min("__s").alias("m_s"),
            F.max("__e").alias("m_e"),
            F.sum("__w").alias("m_eps"),
        )
        .withColumn("__lt", F.col("m_s") == F.col("__b") * w_us)
        .withColumn(
            "__rt", F.col("m_e") == (F.col("__b") + F.lit(1)) * w_us
        )
    )


def _interval_union_stitched(
    eps: DataFrame,
    channel: str,
    bucket_s: int,
) -> DataFrame:
    """Distributed interval union over an episode table
    (``start_us``/``end_us`` + a ``channel`` tiebreak column): returns
    one row per merged interval (``i_start``, ``i_end``, ``i_eps``)
    without ever globally sorting the episode table.

    Two-level union: (1) split every episode at ``bucket_s``-wide
    boundaries so each segment lies inside one bucket, then merge
    touching/overlapping segments with a window PARTITIONED by bucket
    (per-task sort state = one bucket's segments, however chattery the
    data); (2) after the merge, at most one interval per bucket can
    touch each bucket edge (two touching intervals would already have
    merged), so intervals that reach an edge form a boundary table of
    <= 2 rows per bucket — bounded by time-span / bucket_s, not by
    data volume — and the classic one-level union over THAT table
    coalesces chains that cross bucket(s). Interior intervals (touching
    neither edge) cannot touch anything outside their bucket and pass
    through unchanged. Splitting preserves coverage and endpoints
    (pieces of one episode touch at the cut and re-merge by the
    touch-merges rule) and episode counts (only the FIRST segment of
    each episode carries weight 1).
    """
    merged = _bucket_merged_segments(eps, channel, bucket_s)
    interior = merged.filter(~F.col("__lt") & ~F.col("__rt")).select(
        F.col("m_s").alias("i_start"),
        F.col("m_e").alias("i_end"),
        F.col("m_eps").alias("i_eps"),
    )
    boundary = merged.filter(F.col("__lt") | F.col("__rt"))
    g_order = [F.col("m_s"), F.col("m_e"), F.col("__b")]
    g_prev = Window.orderBy(*g_order).rowsBetween(
        Window.unboundedPreceding, -1
    )
    g_run = Window.orderBy(*g_order).rowsBetween(
        Window.unboundedPreceding, 0
    )
    g_opened = F.when(
        F.max("m_e").over(g_prev).isNull()
        | (F.col("m_s") > F.max("m_e").over(g_prev)),
        F.lit(1),
    ).otherwise(F.lit(0))
    stitched = (
        boundary.withColumn("__giv", F.sum(g_opened).over(g_run))
        .groupBy("__giv")
        .agg(
            F.min("m_s").alias("i_start"),
            F.max("m_e").alias("i_end"),
            F.sum("m_eps").alias("i_eps"),
        )
        .select("i_start", "i_end", "i_eps")
    )
    return interior.unionByName(stitched)


def alarm_coverage(
    df: DataFrame,
    threshold: float,
    channel: str = "event_type",
    value: str = "value",
    ts: str = "ts",
    seq: str = "event_id",
    bucket_s: int = 86400,
) -> DataFrame:
    """Cross-channel alarm coverage: merge every channel's alarm
    episodes (:func:`episode_table`) into the union of time intervals
    where ANY channel was above ``threshold`` — "how much wall-clock
    was the site in alarm", the fleet-level view the per-channel q56
    rollup can't answer (overlapping episodes must not double-count).

    Classic interval union: episodes sorted by (start, end, channel);
    an episode whose start exceeds the running max of all previous
    ends opens a NEW merged interval (equal endpoints touch and
    merge); the interval id is the running count of such openings;
    per-interval min(start)/max(end) then reduce to ONE summary row:
    episode count, merged-interval count, total covered microseconds,
    the longest merged interval, and the overall first/last bounds.

    Scale shape: the raw scan reduces to
    the episode table first (one row per episode); episodes are then
    SPLIT at coarse time-bucket boundaries (``bucket_s``) and the
    union runs per bucket — a window partitioned by bucket, never a
    global sort, so a channel chattering around the threshold (every
    sample its own episode) still spreads across time buckets instead
    of funnelling into one sort task. Merged per-bucket intervals are
    then stitched across boundaries: after the within-bucket merge at
    most ONE interval per bucket touches each bucket edge, so the
    boundary table is <= 2 rows per bucket — its cardinality is set
    by the time span / bucket_s, INDEPENDENT of data volume or skew —
    and only that tiny table rides a global ordered window (interval
    chains crossing many buckets coalesce there). Splitting leaves
    coverage/endpoints unchanged because the pieces of one episode
    touch at the boundary and touching intervals merge by definition;
    episode counting survives splitting by weighting only the FIRST
    segment of each episode (:func:`_interval_union_stitched`).
    Single-sample episodes cover zero microseconds by construction (span = 0).
    All outputs are integers — engine/oracle hashing is exact.
    """
    eps = episode_table(
        df,
        threshold,
        channel=channel,
        value=value,
        ts=ts,
        seq=seq,
        bucket_s=bucket_s,
    )
    merged = _interval_union_stitched(eps, channel, bucket_s)
    return merged.agg(
        F.sum("i_eps").cast("bigint").alias("n_episodes"),
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        F.sum(F.col("i_end") - F.col("i_start")).cast("bigint").alias(
            "covered_us"
        ),
        F.max(F.col("i_end") - F.col("i_start")).cast("bigint").alias(
            "longest_interval_us"
        ),
        F.min("i_start").alias("first_start_us"),
        F.max("i_end").alias("last_end_us"),
    )


def coverage_timeline(
    df: DataFrame,
    threshold: float,
    channel: str = "event_type",
    value: str = "value",
    ts: str = "ts",
    seq: str = "event_id",
    bucket_s: int = 86400,
) -> DataFrame:
    """Fleet alarm-coverage TIMELINE: per time bucket (default: day),
    how many microseconds ANY channel was above ``threshold`` — the
    downsampled health series behind q57's single-row total ("which
    days were bad", chartable). Per bucket: covered microseconds, the
    covered fraction of the bucket, the number of distinct alarm
    stretches intersecting it (a stretch crossing midnight counts in
    each day it touches), and the number of episodes STARTING in it.
    Sparse: alarm-free buckets emit no row.

    This is the q57 machinery stopped one stage early: episodes split
    at bucket boundaries and merge per bucket
    (:func:`_bucket_merged_segments` — window partitioned by bucket,
    never a global sort), then a per-bucket hash-agg closes the
    rollup; no cross-bucket stitch is needed because the timeline
    WANTS per-bucket clipping. Output cardinality <= time-span /
    bucket_s. All counts/sums integer; the fraction is one division.
    """
    eps = episode_table(
        df,
        threshold,
        channel=channel,
        value=value,
        ts=ts,
        seq=seq,
        bucket_s=bucket_s,
    )
    merged = _bucket_merged_segments(eps, channel, bucket_s)
    # drop split ARTIFACTS: an episode ending exactly on a boundary
    # leaves a zero-length piece at the next bucket's start (needed by
    # q57's cross-bucket stitch, phantom here) — zero length AND no
    # episode starting in it means pure artifact; genuine point
    # episodes keep their bucket via m_eps > 0
    merged = merged.filter(
        ~((F.col("m_e") == F.col("m_s")) & (F.col("m_eps") == 0))
    )
    w_us = int(bucket_s) * 1_000_000
    return (
        merged.groupBy("__b")
        .agg(
            F.sum(F.col("m_e") - F.col("m_s")).cast("bigint").alias(
                "covered_us"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_stretches"),
            F.sum("m_eps").cast("bigint").alias("n_episode_starts"),
        )
        .select(
            (F.col("__b") * w_us).cast("bigint").alias("bucket_start_us"),
            "covered_us",
            F.round(F.col("covered_us") / F.lit(w_us), 6).alias(
                "pct_covered"
            ),
            "n_stretches",
            "n_episode_starts",
        )
        .orderBy("bucket_start_us")
    )


def _overlap_pairs(
    eps: DataFrame, channel: str, bucket_s: int, salt: int
) -> DataFrame:
    """One row per overlapping episode pair of two channels
    (``channel_a < channel_b``; episodes strictly straddle): the
    columns ``channel_a``, ``channel_b`` and ``pair_ov``, the shared
    microseconds. Episodes split at ``bucket_s`` boundaries and meet
    in an EQUI-join on the bucket; with ``salt`` > 1, side ``b`` is
    keyed by ``hash(island) % salt`` and side ``a`` replicates over
    every salt, so each pair still meets exactly once. The bucket
    join of :func:`co_alarm_matrix`."""
    w_us = int(bucket_s) * 1_000_000
    # pieces carry the ORIGINAL episode bounds: the straddle test
    # must run on originals, not pieces — a point episode sitting
    # exactly on a bucket boundary inside another channel's
    # episode yields pieces that never strictly straddle each
    # other even though the episodes do (the cut lands exactly on
    # the only intersection point). Piece overlaps then clamp at
    # zero: buckets where the pair's pieces coexist without
    # intersecting contribute nothing, and the per-bucket clamped
    # sums add up to the exact total (bucket cuts partition the
    # intersection).
    seg = eps.withColumn(
        "__b",
        F.explode(
            F.sequence(
                F.expr(f"start_us DIV {w_us}"),
                F.expr(f"end_us DIV {w_us}"),
            )
        ),
    ).select(
        "__b",
        F.col(channel),
        F.col("__island"),
        F.col("start_us"),
        F.col("end_us"),
        F.greatest(F.col("start_us"), F.col("__b") * w_us).alias("__s"),
        F.least(
            F.col("end_us"), (F.col("__b") + F.lit(1)) * w_us
        ).alias("__e"),
    )
    if salt > 1:
        a = seg.withColumn(
            "__salt",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.lit(salt - 1))
            ),
        ).alias("a")
        b = seg.withColumn(
            "__salt",
            F.pmod(
                F.xxhash64(F.col("__island"), F.col(channel)),
                F.lit(salt),
            ),
        ).alias("b")
    else:
        a, b = seg.alias("a"), seg.alias("b")
    cond = (
        (F.col("a.__b") == F.col("b.__b"))
        & (F.col(f"a.{channel}") < F.col(f"b.{channel}"))
        & (F.col("a.start_us") < F.col("b.end_us"))
        & (F.col("b.start_us") < F.col("a.end_us"))
    )
    if salt > 1:
        cond = (F.col("a.__salt") == F.col("b.__salt")) & cond
    pieces = a.join(b, on=cond).select(
        F.col(f"a.{channel}").alias("channel_a"),
        F.col(f"b.{channel}").alias("channel_b"),
        F.col("a.__island").alias("ia"),
        F.col("b.__island").alias("ib"),
        F.greatest(
            F.lit(0),
            F.least(F.col("a.__e"), F.col("b.__e"))
            - F.greatest(F.col("a.__s"), F.col("b.__s")),
        ).alias("ov"),
    )
    return pieces.groupBy("channel_a", "channel_b", "ia", "ib").agg(
        F.sum("ov").alias("pair_ov")
    )


def co_alarm_matrix(
    df: DataFrame,
    threshold: float,
    channel: str = "event_type",
    value: str = "value",
    ts: str = "ts",
    seq: str = "event_id",
    bucket_s="auto",
    auto_target: int = 256,
    salt="auto",
) -> DataFrame:
    """Pairwise co-alarm accounting: for every channel pair, how many
    episode pairs overlap in time and for how many total microseconds
    — "which feeds fail TOGETHER", the correlation view q57's union
    (any-channel coverage) and q56's per-channel rollup both erase.
    An episode pair counts when the intervals strictly straddle each
    other (``a.start < b.end AND b.start < a.end``); touching
    endpoints share zero microseconds and do not count.

    Scale shape: per-channel episodes are already DISJOINT
    (islands are separated by below-threshold rows), so no union pass
    is needed — episodes split at ``bucket_s`` boundaries (the q57
    machinery) and the overlap join becomes an EQUI-join on the
    bucket: only segments in the same time bucket ever meet, so the
    shuffle key is time, never a channel, and per-task join work is
    one bucket's segments across channels. Split pieces of one
    episode pair re-aggregate by (island_a, island_b) before the
    per-pair rollup, so overlap sums exactly and pairs never double
    count (:func:`_overlap_pairs`). Outputs are integers —
    engine/oracle hashing exact.

    Within one bucket the cross-channel segment join is quadratic in
    that bucket's segments, so a channel CHATTERING around the
    threshold (every sample its own episode) makes a hot bucket the
    bottleneck at a fixed ``bucket_s`` — the harness measured a fixed
    daily bucket at 38x the auto plan under chatter (60.65 s vs
    1.60 s at 20M rows), which is why ``"auto"`` is the DEFAULT.
    ``bucket_s="auto"`` sizes the
    join bucket from the data instead: one tiny rollup of the episode
    table (per-day episode counts + mean span) picks the width so the
    HOTTEST day's episodes spread to ~``auto_target`` per bucket,
    floored at the mean episode span (finer would only multiply split
    segments) and clamped to [1 s, 86400 s]. Episode DETECTION keeps
    the daily stitch either way; only the join split narrows.

    Time-splitting alone cannot spread a SINGLE pathological instant
    (thousands of point episodes inside one second: the auto width is
    already clamped at 1 s and floored at the mean span, so they all
    land in one bucket = one quadratic join task). ``salt`` is the
    second axis: side ``b`` of the overlap join gets
    ``hash(island) % S`` and side ``a`` replicates across all ``S``
    salts, so each episode pair still meets exactly once but the hot
    bucket's pairs spread over ``S`` reducer tasks. ``salt="auto"``
    (default) measures the hottest bucket's segment count from the
    already-checkpointed episode table and salts only when it exceeds
    ``4 * auto_target`` (S = hottest // auto_target, capped at 32) —
    data without a hot spot pays nothing beyond an episode-scale
    rollup, and outside auto-bucket mode ``"auto"`` resolves to 1 (no
    extra detection scan). An int forces a factor; ``1`` disables.
    Salting never changes output (forced-hot-bucket property pin in
    ``tests/test_interval_union_property.py``).

    Evaluation note: the default (``bucket_s="auto"``, ``salt="auto"``)
    is EAGER at DataFrame-construction time — the episode table is
    localCheckpoint-ed and up to two small driver aggregates run to
    size the bucket and the salt factor, so building the plan triggers
    Spark jobs before any action on the result. Callers composing the
    result lazily (or without an active job context) should pass
    explicit ``bucket_s``/``salt`` ints to stay lazy; output equality
    between the modes is test-pinned.
    """
    auto = bucket_s == "auto"
    eps = episode_table(
        df,
        threshold,
        channel=channel,
        value=value,
        ts=ts,
        seq=seq,
        bucket_s=86400 if auto else bucket_s,
    ).select(channel, "__island", "start_us", "end_us")
    if auto:
        # freeze the episode table: the density rollup + both join
        # sides would otherwise each recompute the full detection scan
        eps = eps.localCheckpoint()
        st = (
            eps.groupBy(F.expr("start_us DIV 86400000000").alias("__d"))
            .agg(
                F.count(F.lit(1)).alias("c"),
                F.sum(F.col("end_us") - F.col("start_us")).alias("l"),
            )
            .agg(
                F.max("c").alias("mx"),
                F.sum("c").alias("n"),
                F.sum("l").alias("tot_len"),
            )
            .collect()[0]
        )
        if not st["n"]:
            bucket_s = 86400  # no episodes: width is irrelevant
        else:
            mean_len_s = int(st["tot_len"] // st["n"] // 1_000_000)
            density_s = int(86400 * auto_target // st["mx"])
            bucket_s = min(86400, max(1, density_s, mean_len_s))
    if salt == "auto":
        # the hottest-bucket probe needs the episode table twice more;
        # only affordable when it is already checkpointed (auto-bucket
        # mode). One episode-scale rollup: max segments in any one
        # join bucket.
        salt = 1
        if auto:
            w_us = int(bucket_s) * 1_000_000
            hot = (
                eps.select(
                    F.explode(
                        F.sequence(
                            F.expr(f"start_us DIV {w_us}"),
                            F.expr(f"end_us DIV {w_us}"),
                        )
                    ).alias("__b")
                )
                .groupBy("__b")
                .count()
                .agg(F.max("count").alias("mx"))
                .collect()[0]["mx"]
            )
            if hot and int(hot) > 4 * auto_target:
                salt = min(32, int(hot) // auto_target)
    pairs = _overlap_pairs(eps, channel, bucket_s, max(1, int(salt)))
    return (
        pairs.groupBy("channel_a", "channel_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_copairs"),
            F.sum("pair_ov").cast("bigint").alias("overlap_us"),
        )
        .orderBy("channel_a", "channel_b")
    )


def alarm_reliability(
    df: DataFrame,
    threshold: float,
    channel: str = "event_type",
    value: str = "value",
    ts: str = "ts",
    seq: str = "event_id",
    bucket_s: int = 86400,
) -> DataFrame:
    """Per-channel reliability report over the alarm episodes: MTTR
    (mean episode span — how long incidents last), MTBF (mean gap from
    one episode's end to the next one's start — how long the channel
    stays healthy), total alarm time, the observed span, and
    availability (fraction of observed time NOT in alarm) — the
    MTBF/MTTR/availability triple every ops review asks for,
    completing q56 (worst incident) and q64 (freshness).

    Scale shape: the raw scan reduces to the episode table
    (:func:`episode_table`) and to one per-channel min/max hash-agg
    for the observed bounds; the only window (the between-episode lag)
    rides the EPISODE table per channel — cardinality = incidents,
    not samples (the q56 defense). MTBF is NULL for channels with a
    single episode (no between-gap exists); channels that never alarm
    don't appear (they have no episodes to report on). Averages are
    one integer-sum / count division, rounded at 6 — both engines
    fold identically.
    """
    us = epoch_us(ts)
    eps = episode_table(
        df,
        threshold,
        channel=channel,
        value=value,
        ts=ts,
        seq=seq,
        bucket_s=bucket_s,
    )
    w = Window.partitionBy(channel).orderBy("start_us", "end_us")
    gap = F.col("start_us") - F.lag("end_us").over(w)
    per_ch = (
        eps.withColumn("__gap", gap)
        .groupBy(channel)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_episodes"),
            F.sum("span_us").cast("bigint").alias("alarm_us"),
            # NOT avg(): at 1e10 us a double's ulp (~2e-6) exceeds the
            # 6-decimal rounding step, so engine round() lands on
            # ADJACENT doubles — integer division of exact bigint sums
            # is deterministic, and sub-microsecond mean precision is
            # meaningless anyway
            F.expr("sum(span_us) DIV count(span_us)").alias("mttr_us"),
            F.when(
                F.count("__gap") > 0,
                F.expr("sum(__gap) DIV count(__gap)"),
            ).alias("mtbf_us"),
        )
    )
    bounds = (
        df.filter(F.col(value).isNotNull())
        .select(F.col(channel), us.alias("__us"))
        .groupBy(channel)
        .agg(
            (F.max("__us") - F.min("__us")).cast("bigint").alias(
                "observed_us"
            )
        )
    )
    avail = F.when(
        F.col("observed_us") > 0,
        F.round(1.0 - F.col("alarm_us") / F.col("observed_us"), 6),
    ).otherwise(F.lit(None).cast("double"))
    return (
        per_ch.join(bounds, channel)
        .select(
            channel,
            "n_episodes",
            "alarm_us",
            "mttr_us",
            "mtbf_us",
            "observed_us",
            avail.alias("availability"),
        )
        .orderBy(channel)
    )


# Decisive rows per channel below which the PLAIN channel-global
# window beats the stitched form: one sort task over <= this many rows
# stays in task memory and skips the stitch's boundary join entirely.
# Measured (scripts/bench_episode_crossover.py, 20M rows, 32 cores):
# chatter at 1.33M decisive rows/channel — plain 3.6 s vs stitched
# 4.0 s (the 3-rounds-documented q62 crossover, plain wins); 20M
# decisive rows in ONE channel — plain 90.2 s vs stitched 11.7 s (the
# cliff). auto picked right in both (2.9 s / 11.7 s = best-of-both).
# The constant sits above every measured plain-wins point with the
# cliff still far away; the auto mode exists so the cliff is
# unreachable by DEFAULT while small jobs keep the faster plan.
AUTO_EPISODE_PLAIN_MAX = 3_000_000


def hysteresis_episodes(
    df: DataFrame,
    hi: float,
    lo: float,
    channel: str = "event_type",
    value: str = "value",
    ts: str = "ts",
    seq: str = "event_id",
    scalable: bool | str = "auto",
    bucket_s: int = 86400,
    auto_plain_max: int = AUTO_EPISODE_PLAIN_MAX,
) -> DataFrame:
    """Alarm accounting with HYSTERESIS: an episode opens when the
    value crosses ``hi`` and stays open until it falls to ``lo`` or
    below — samples between the two thresholds carry the current
    state instead of chattering the alarm on/off (the two-threshold
    comparator every real alerting pipeline uses; q56 is the
    degenerate hi == lo case).

    The state machine reduces to DECISIVE rows only (value >= hi sets,
    value <= lo resets; in-band rows can never change state, so they
    are dropped at the scan — the big data reduction). On the decisive
    table: a stitched per-channel lag marks episode STARTS (a set row
    whose previous decisive row was a reset / nothing), one stitched
    prefix sum of the start indicator numbers the episodes, and the
    k-th episode's rows group to (start = first row, end = first
    reset) in a single hash-agg. Episodes still open at channel end
    close at the channel's last sample (a tiny per-channel max joined
    back). Both stitched passes share the (channel, bucket)
    partitioning (the q59 shape); ``scalable=False`` selects plain
    channel-global windows (the oracle's formulation, equivalence-
    tested). Per-channel rollup = the q56 packed-decimal argmax.

    ``scalable="auto"`` (the default since round 12 — the q62
    crossover measured three rounds running is now the plan choice,
    not a footnote): one rollup of the decisive table picks the form —
    plain when the BUSIEST channel's decisive rows fit a single sort
    task (``auto_plain_max``, measured crossover constant above),
    stitched otherwise. Like co_alarm_matrix's auto mode this is EAGER
    at DataFrame-construction time (one small driver aggregate runs);
    the rollup is a SECOND column-pruned scan of the source, NOT a
    localCheckpoint of the decisive table — materializing it costs
    more than the re-scan it would save (measured, see the inline
    comment at the rollup). Pass an explicit bool to stay lazy.
    Output equality between all three modes is test-pinned.
    """
    us = epoch_us(ts)
    dec = (
        df.filter(F.col(value).isNotNull())
        .filter((F.col(value) >= hi) | (F.col(value) <= lo))
        .select(
            F.col(channel),
            F.col(ts),
            us.alias("__us"),
            F.col(seq),
            (F.col(value) >= hi).cast("int").alias("__set"),
        )
    )
    if scalable == "auto":
        # density rollup: max decisive rows in any one channel. A
        # deliberate RE-SCAN, not a localCheckpoint — the rollup is a
        # column-pruned filter + map-side-combinable count (cheap),
        # while materializing the decisive table to checkpoint storage
        # costs more than the second scan it would save (measured in
        # scripts/bench_episode_crossover.py: checkpointing added ~6 s
        # at 20M dense rows vs ~1 s for the counting scan)
        mx = (
            dec.groupBy(channel)
            .count()
            .agg(F.max("count").alias("mx"))
            .collect()[0]["mx"]
        )
        scalable = bool(mx and int(mx) > int(auto_plain_max))
    if scalable:
        lagged = sw.lag_stitched(
            dec, ["__set"], channel=channel, ts=ts, seq=seq, bucket_s=bucket_s
        )
        start = (
            (F.col("__set") == 1)
            & (F.coalesce(F.col("__lag___set"), F.lit(0)) == 0)
        ).cast("bigint")
        marked = sw.cumsum_scalable(
            lagged,
            start,
            "__k",
            channel=channel,
            ts=ts,
            seq=seq,
            bucket_s=bucket_s,
        )
    else:
        w = Window.partitionBy(channel).orderBy(F.col(ts), F.col(seq))
        start = (
            (F.col("__set") == 1)
            & (F.coalesce(F.lag("__set").over(w), F.lit(0)) == 0)
        ).cast("bigint")
        marked = dec.withColumn(
            "__k",
            F.sum(start).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    ep = (
        marked.filter(F.col("__k") >= 1)
        .groupBy(channel, "__k")
        .agg(
            F.min("__us").alias("start_us"),
            F.min(F.when(F.col("__set") == 0, F.col("__us"))).alias(
                "__end_raw"
            ),
        )
    )
    chan_max = (
        df.filter(F.col(value).isNotNull())
        .groupBy(channel)
        .agg(F.max(us).alias("__max_us"))
    )
    sp = ep.join(chan_max, channel).select(
        F.col(channel),
        "start_us",
        (F.coalesce(F.col("__end_raw"), F.col("__max_us")) - F.col("start_us"))
        .cast("bigint")
        .alias("span_us"),
        F.col("__end_raw").isNull().cast("int").alias("__open"),
    )
    shift = F.expr("CAST(10000000000000000000 AS DECIMAL(20,0))")
    packed = F.col("span_us").cast("decimal(19,0)") * shift + (
        F.expr("CAST(9999999999999999999 AS DECIMAL(19,0))")
        - F.col("start_us").cast("decimal(19,0)")
    )
    return (
        sp.withColumn("__pk", packed)
        .groupBy(channel)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_episodes"),
            F.sum("span_us").cast("bigint").alias("total_active_us"),
            F.max("span_us").cast("bigint").alias("longest_span_us"),
            F.max_by("start_us", "__pk").alias("longest_start_us"),
            F.max("__open").cast("int").alias("has_open"),
        )
        .orderBy(channel)
    )


def rle_profile(
    df: DataFrame,
    channel: str = "event_type",
    value: str = "value",
    ts: str = "ts",
    seq: str = "event_id",
    bucket_s: int = 86400,
) -> DataFrame:
    """Run-length compressibility profile per channel: how many
    consecutive-equal-value runs the stream contains, the RLE ratio
    (runs / rows — 1.0 = incompressible, small = register-like), and
    the longest run with its value and start. The accounting view of
    the reference's bit-packing identity (ETSD stores repeated
    readings in 1-2 bits, reference code/etsdSave.c packing loop;
    Parquet RLE-dictionary does the same job here — this query tells
    you per channel how much that matters).

    Same physical family as q62: a stitched (channel, bucket) lag
    marks run starts (value differs from previous, NULL-safe), ONE
    stitched prefix sum numbers the runs, one hash-agg reduces each
    run, and the per-channel rollup closes with the q56
    packed-decimal argmax (longest run, earliest on ties).
    """
    us = epoch_us(ts)
    base = df.filter(F.col(value).isNotNull()).select(
        F.col(channel),
        F.col(ts),
        us.alias("__us"),
        F.col(seq),
        F.col(value).alias("__v"),
    )
    lagged = sw.lag_stitched(
        base, ["__v"], channel=channel, ts=ts, seq=seq, bucket_s=bucket_s
    )
    chg = F.coalesce(
        F.col("__v") != F.col("__lag___v"), F.lit(True)
    ).cast("bigint")
    marked = sw.cumsum_scalable(
        lagged, chg, "__k",
        channel=channel, ts=ts, seq=seq, bucket_s=bucket_s,
    )
    runs = marked.groupBy(channel, "__k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("__us").alias("start_us"),
        F.min("__v").alias("v"),
    )
    shift = F.expr("CAST(10000000000000000000 AS DECIMAL(20,0))")
    packed = F.col("n").cast("decimal(19,0)") * shift + (
        F.expr("CAST(9999999999999999999 AS DECIMAL(19,0))")
        - F.col("start_us").cast("decimal(19,0)")
    )
    return (
        runs.withColumn("__pk", packed)
        .groupBy(channel)
        .agg(
            F.sum("n").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_runs"),
            F.round(
                F.count(F.lit(1)).cast("double") / F.sum("n"), 6
            ).alias("rle_ratio"),
            F.max("n").cast("bigint").alias("longest_run"),
            F.max_by("v", "__pk").alias("longest_value"),
            F.max_by("start_us", "__pk").alias("longest_start_us"),
        )
        .orderBy(channel)
    )


def freshness_report(
    df: DataFrame,
    channel: str = "event_type",
    ts: str = "ts",
    seq: str = "event_id",
    overdue_factor: float = 3.0,
    bucket_s: int = 86400,
) -> DataFrame:
    """Per-channel data-freshness report: last/first sample, sample
    count, the channel's MEDIAN inter-sample gap (its empirical
    cadence — exact, via the q33 rank-lerp percentile on the gap
    table), staleness against the dataset's now (the global max
    timestamp), and an overdue flag when staleness exceeds
    ``overdue_factor`` x the median cadence — the "which feeds have
    silently stopped" operational view (the reference's MissedUpdate
    accounting, code/etsdSave.c:451-454, generalized to a cadence-
    relative judgment).

    Gaps come from the stitched (channel, bucket) lag (q51's
    machinery); the median runs the q33 exact-percentile shape over
    the GAP table (one row per sample — same cardinality class as the
    input, ranked by :func:`_value_ranks`); everything
    else is two tiny aggregates joined back (global now is ONE row,
    AQE-broadcast). Channels with < 2 samples report NULL cadence and
    NULL overdue.
    """
    us = epoch_us(ts)
    base = df.select(F.col(channel), F.col(ts), us.alias("__us"), F.col(seq))
    lagged = sw.lag_stitched(
        base, ["__us"], channel=channel, ts=ts, seq=seq, bucket_s=bucket_s
    )
    prev = F.col("__lag___us")
    gaps = (
        lagged.filter(prev.isNotNull())
        .select(
            F.col(channel),
            (F.col("__us") - prev).alias("gap_us"),
            F.col("__us").alias("__tie"),
        )
    )
    med = exact_percentiles(
        gaps, ps=(0.5,), channel=channel, value="gap_us", seq="__tie"
    ).select(F.col(channel), F.col("pct_value").alias("__med"))
    stats = base.groupBy(channel).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_samples"),
        F.min("__us").alias("first_us"),
        F.max("__us").alias("last_us"),
    )
    now = stats.agg(F.max("last_us").alias("__now"))
    return (
        stats.join(med, channel, "left")
        .join(F.broadcast(now))
        .select(
            F.col(channel),
            "n_samples",
            "first_us",
            "last_us",
            F.round("__med", 6).alias("median_gap_us"),
            (F.col("__now") - F.col("last_us"))
            .cast("bigint")
            .alias("staleness_us"),
            F.when(
                F.col("__med").isNotNull(),
                (
                    (F.col("__now") - F.col("last_us"))
                    > F.lit(overdue_factor) * F.col("__med")
                ).cast("int"),
            ).alias("overdue"),
        )
        .orderBy(channel)
    )


def range_digest(
    df: DataFrame,
    bucket_s: int = 86_400,
    channel: str = "event_type",
    ts: str = "ts",
    value: str = "value",
) -> DataFrame:
    """Order-independent content digest per (channel, bucket): the
    "did my replica drift" query — two stores (a live cluster and a
    DR copy, a pre- and post-migration layout) compare KB-sized
    digest tables instead of shipping data, and a mismatched bucket
    pinpoints exactly which (channel, day) to re-sync. The reference's
    recover path re-reads whole blocks to validate
    (code/etsdSave.c:58-66); at 100 TB the digest table IS the
    validation: one map-side-combinable hash-agg, output cardinality
    channels x days.

    The per-row mix is engine-portable integer arithmetic ONLY (no
    engine hash builtins — Spark xxhash64 and DuckDB hash() disagree
    by construction): offset-in-bucket and milli-quantized value fold
    through two odd multipliers mod 2^31-1, summed as BIGINT (row mix
    < 2^31, so the sum fits for any bucket under 4e9 rows). The SUM
    makes it order-independent — partition layout, shuffle order and
    file order cannot change the digest, only the data can. A
    collision needs adversarial construction; for drift DETECTION
    (bit rot, lost appends, duplicated replays) that is the right
    trade.

    Known blind spot (same trade): because the sum is linear, the
    digest is with high probability also blind to RE-PAIRING values
    between two rows of the same bucket — per-row residues are
    congruent mod 2^31-1 and differ only when mod-wrap counts
    diverge, so swapping which timestamp carries which value inside a
    bucket often digests identically. Every failure in the stated
    threat model changes ``n`` or the value multiset and IS caught;
    an adversary (or a transform that re-associates columns row-wise)
    is outside the model — compare rows directly when that matters.
    """
    m = 2_147_483_647
    w_us = int(bucket_s) * 1_000_000
    us = F.unix_micros(F.col(ts))
    bucket = F.expr(f"unix_micros({ts}) div {w_us}") * w_us
    off = (us - bucket) % F.lit(m)
    qv = F.expr(
        f"((CAST(floor({value} * 1000) AS BIGINT) % {m}) + {m}) % {m}"
    )
    mix = (off * F.lit(2_654_435_761) + qv * F.lit(40_503)) % F.lit(m)
    return (
        df.select(
            F.col(channel),
            bucket.alias("bucket_us"),
            mix.alias("__mix"),
        )
        .groupBy(channel, "bucket_us")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("__mix").cast("bigint").alias("digest"),
        )
        .orderBy(channel, "bucket_us")
    )


def xff_consolidate(
    df: DataFrame,
    width_s: int = 3600,
    step_s: int = 60,
    xff_pct: int = 50,
    channel: str = "event_type",
    ts: str = "ts",
    value: str = "value",
) -> DataFrame:
    """RRA consolidation under the xfiles factor: an
    ``RRA:AVERAGE:xff:steps:rows`` line (`ECM-1240 storage format
    2.txt:142-148`) declares what fraction of a consolidation interval
    may be UNKNOWN source intervals while the consolidated value still
    counts as known; the reference's block header stores "Total
    intervals | Valid intervals" for this accounting (`ECM-1240
    storage format 2.txt:8`; short-block commit
    `code/etsdSave.c:58-66`).

    Per (channel, ``width_s`` bucket), ``expected = width_s/step_s``
    source intervals (``step_s`` is the deployment's polling cadence)
    and ``n`` = non-null readings present, counting only rows whose
    ``status`` is 0 when the frame carries a status column (the plugin
    ABI marks 0xFFFFFFFF/-1 readings invalid, `Plugin_API.txt:31-32`).
    ``xff_pct`` is the xff as an integer percent (0..99). One
    map-side-combinable hash aggregate. Validity rule, NULLed
    aggregates and avg_v: :func:`operators.trends._rra_finish`.
    """
    from etsd_time_series_database_spark.operators.trends import (
        _rra_finish,
        _rra_fold,
    )

    src = df.filter(F.col("status") == 0) if "status" in df.columns else df
    return _rra_finish(
        _rra_fold(src, [channel], ts, value, width_s, count_all=False),
        [channel],
        (width_s, step_s, xff_pct),
    ).orderBy(channel, "bucket_us")
