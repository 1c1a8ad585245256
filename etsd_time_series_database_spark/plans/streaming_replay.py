"""Streaming-replay catalog entries: the stateful streaming operators
(streaming/stateful.py) driven over the driver's ``events`` table as a
one-shot availableNow replay, oracle-gated like every batch entry.

A replay's FINAL output is deterministic and batch-equivalent (the
reference's recovery contract: replaying the saved stream reproduces
the live fold, code/etsdSave.c:396-458 + the recover path), so the
same DuckDB gate that pins batch entries pins the streaming layer:
s01/s02 inject NULLs deterministically (event_id % 7) so the
carry-forward fill/miss-counter and rate state machines actually
exercise their NULL paths on this data (the raw table has none).

Memory-sink note: the replay sink here is the in-memory table the
oracle compare reads — the CORRECTNESS harness, not the deployment
topology. Production streams run the file-sink/foreachBatch paths
(streaming/ingest.py, CLI ``watch``); state size per key is 2-3
scalars either way, so the replay exercises exactly the code that
runs live.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etsd_time_series_database_spark.plans.pipeline import (
    ORDERED_SHARD_DEDUP_SQL,
)
from etsd_time_series_database_spark.plans.registry import register

# q62's hysteresis thresholds (plans/timeseries.py) — same comparator.
HYST_HI = 250.0
HYST_LO = 50.0

_EVENTS_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)

# Deterministic NULL injection shared by s01/s02 and their oracles.
_NULL_EVERY = 7
_V = f"CASE WHEN event_id % {_NULL_EVERY} = 0 THEN NULL ELSE value END"


def _source_rows(
    spark: SparkSession,
    sf_dir: str,
    inject_nulls: bool,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The one canonical streaming source over events.parquet: raw
    int64 ts converted with the SAME footer probe the batch loader
    uses (:func:`sources.store.raw_ts_micros_divisor`), event_id
    forwarded as the ``seq`` tie-break, optional deterministic NULL
    injection. Every replay entry reads through here so the source
    contract cannot drift between entries. ``extra_cols`` forwards
    additional raw columns (e.g. ``user_id`` for the stream-static
    enrichment entry) without widening the canonical schema."""
    from etsd_time_series_database_spark.sources.store import (
        raw_ts_micros_divisor,
    )

    div = raw_ts_micros_divisor(
        spark, os.path.join(sf_dir, "events.parquet")
    )
    # the file stream source requires a DIRECTORY base path; select
    # the one table out of the sf dir with a glob filter
    raw = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    value = (
        F.when(F.col("event_id") % _NULL_EVERY == 0, F.lit(None))
        .otherwise(F.col("value"))
        if inject_nulls
        else F.col("value")
    )
    return raw.select(
        F.timestamp_micros(F.expr(f"ts DIV {div}")).alias("ts"),
        F.lit("events").alias("source"),
        F.col("event_type").alias("channel"),
        value.cast("double").alias("value"),
        F.lit(0).alias("status"),
        F.col("event_id").alias("seq"),
        *[F.col(c) for c in extra_cols],
    )


def _replay(spark: SparkSession, sf_dir: str, make, name: str,
            inject_nulls: bool,
            extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Stream events.parquet through ``make`` with an availableNow
    trigger into a memory sink and return the sink table. The ts
    column is read as raw int64 and floor-truncated to micros exactly
    as the batch loader and DuckDB do — the unit divisor comes from
    the SAME probe load_table uses
    (:func:`sources.store.raw_ts_micros_divisor`), so the two read
    paths cannot drift. ``event_id`` rides along as the ``seq``
    tie-break column the stateful folds use for equal timestamps —
    the registry's determinism contract."""
    rows = _source_rows(spark, sf_dir, inject_nulls, extra_cols)
    q = (
        make(rows)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await(q, name)
    return spark.table(name)


def _await(q, name: str, timeout_s: int = 600) -> None:
    """awaitTermination returns FALSE on timeout without raising — a
    timed-out replay would otherwise hand the oracle gate a partial
    memory-sink table (and leave a zombie query squatting on the
    queryName). Fail loudly instead."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"streaming replay {name!r} did not finish within "
            f"{timeout_s}s; partial results discarded"
        )


@register(
    "s01_carry_forward_replay",
    "streaming",
    f"""
    WITH base AS (
      SELECT event_type, ts, epoch_us(ts) AS us, event_id,
             {_V} AS v
      FROM events
    ),
    g AS (
      SELECT *, count(v) OVER (PARTITION BY event_type
                               ORDER BY ts, event_id) AS grp
      FROM base
    ),
    p AS (
      SELECT *,
             CAST(row_number() OVER (PARTITION BY event_type, grp
                                     ORDER BY ts, event_id) AS BIGINT)
               - CASE WHEN grp > 0 THEN 1 ELSE 0 END AS pos,
             max(v) OVER (PARTITION BY event_type, grp) AS base_v
      FROM g
    )
    SELECT us AS ts_us, 'events' AS source, event_type AS channel,
           v AS value,
           CASE WHEN v IS NOT NULL THEN v
                WHEN pos <= 255 THEN base_v
           END AS value_filled,
           CAST(CASE WHEN v IS NOT NULL THEN 0
                     ELSE pos % 256 END AS INTEGER) AS n_missed
    FROM p ORDER BY channel, ts_us
    """,
    doc="The carry-forward stateful stream (reference LastReading/"
    "MissedUpdate arrays, code/etsdSave.c:396-458) replayed over the "
    "events table with every 7th reading NULLed: fills carry the last "
    "value, the miss counter mirrors the >=256 reset "
    "(code/etsdSave.c:451-454). Oracle = the gaps-and-islands LOCF "
    "with the same reset arithmetic. Pins the REAL "
    "applyInPandasWithState operator end-to-end on the oracle gate.",
)
def s01(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etsd_time_series_database_spark.streaming.stateful import (
        carry_forward_stream,
    )

    out = _replay(
        spark, sf_dir, carry_forward_stream, "s01_sink", inject_nulls=True
    )
    return out.orderBy("channel", "ts_us")


@register(
    "s02_rate_replay",
    "streaming",
    f"""
    WITH base AS (
      SELECT event_type, ts, epoch_us(ts) AS us, event_id,
             {_V} AS v
      FROM events
    ),
    w AS (
      SELECT event_type, us, v,
             lag(v IGNORE NULLS) OVER (PARTITION BY event_type
                                       ORDER BY ts, event_id) AS pv,
             lag(CASE WHEN v IS NOT NULL THEN us END IGNORE NULLS)
               OVER (PARTITION BY event_type
                     ORDER BY ts, event_id) AS pus
      FROM base
    )
    SELECT us AS ts_us, 'events' AS source, event_type AS channel,
           v AS value,
           CASE WHEN v IS NULL OR pv IS NULL THEN NULL
                WHEN us - pus <= 0 THEN NULL
                ELSE (v - pv) / ((us - pus) / 1000000.0)
           END AS rate_per_s
    FROM w ORDER BY channel, ts_us
    """,
    doc="The streaming counter-rate operator (ingest-side delta, "
    "reference code/etsdSave.c:396-398) replayed with every 7th "
    "reading NULLed: NULL readings emit NULL and do NOT advance the "
    "(last_ts, last_value) state, so the next real reading rates "
    "against the last REAL one. Oracle = lag IGNORE NULLS with the "
    "identical (v-pv)/((us-pus)/1e6) double expression.",
)
def s02(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etsd_time_series_database_spark.streaming.stateful import (
        counter_rate_stream,
    )

    out = _replay(
        spark, sf_dir, counter_rate_stream, "s02_sink", inject_nulls=True
    )
    return out.orderBy("channel", "ts_us")



# Shared q62-style hysteresis episode detection (decisive rows ->
# island numbering -> one row per episode), interpolated into both the
# s03 and s04 oracles so the two cannot silently diverge.
_EPISODES_CTE = f"""
    dec AS (
      SELECT event_type, ts, epoch_us(ts) AS us, event_id, value,
             CASE WHEN value >= {HYST_HI} THEN 1 ELSE 0 END AS s
      FROM events
      WHERE value IS NOT NULL
        AND (value >= {HYST_HI} OR value <= {HYST_LO})
    ),
    m AS (
      SELECT *, CASE WHEN s = 1 AND coalesce(
               lag(s) OVER (PARTITION BY event_type
                            ORDER BY ts, event_id), 0) = 0
             THEN 1 ELSE 0 END AS st
      FROM dec
    ),
    k AS (
      SELECT *, sum(st) OVER (PARTITION BY event_type
                              ORDER BY ts, event_id) AS kk
      FROM m
    ),
    ep AS (
      SELECT event_type, kk,
             min(us) AS open_us,
             arg_min(value, us) AS open_v,
             min(CASE WHEN s = 0 THEN us END) AS close_us,
             arg_min(value, us) FILTER (WHERE s = 0) AS close_v
      FROM k WHERE kk >= 1
      GROUP BY event_type, kk
    )
"""

@register(
    "s03_hysteresis_replay",
    "streaming",
    f"""
    WITH {_EPISODES_CTE}
    SELECT open_us AS ts_us, 'events' AS source,
           event_type AS channel, 'open' AS event, open_v AS value,
           CAST(NULL AS BIGINT) AS span_us
    FROM ep
    UNION ALL
    SELECT close_us, 'events', event_type, 'close', close_v,
           close_us - open_us
    FROM ep WHERE close_us IS NOT NULL
    ORDER BY channel, ts_us, event
    """,
    doc="The live two-threshold alarm stream (q62's alerting dual) "
    "replayed over events at the q62 thresholds: one 'open' per "
    "episode at the crossing sample, one 'close' with the exact span "
    "at the reset sample; in-band samples emit nothing. Oracle = the "
    "q62 island machinery reshaped to transition rows. Integer spans "
    "and pass-through doubles — hash-exact.",
)
def s03(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etsd_time_series_database_spark.streaming.stateful import (
        hysteresis_alarm_stream,
    )

    out = _replay(
        spark,
        sf_dir,
        lambda rows: hysteresis_alarm_stream(rows, hi=HYST_HI, lo=HYST_LO),
        "s03_sink",
        inject_nulls=False,
    )
    return out.orderBy("channel", "ts_us", "event")


# The site-union oracle, shared VERBATIM by s04 (library topology)
# and s14 (the same topology driven through the CLI watch verb) so
# the two gates cannot diverge.
_SITE_UNION_ORACLE = f"""
    WITH {_EPISODES_CTE},
    tr AS (
      SELECT open_us AS us, 1 AS delta FROM ep
      UNION ALL
      SELECT close_us, -1 FROM ep WHERE close_us IS NOT NULL
    ),
    counts AS (
      -- per-transition running open count, opens before closes at a
      -- tie (the stream's touch-merge fold order)
      SELECT us,
             CAST(sum(delta) OVER (ORDER BY us, delta DESC
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS INTEGER)
               AS open_channels
      FROM tr
    ),
    us_level AS (
      -- covered time only moves between DISTINCT timestamps: accrue
      -- (us - prev_us) when the count AFTER processing prev_us was
      -- positive; every transition row at one us shares the value
      SELECT us, sum(delta) AS d FROM tr GROUP BY us
    ),
    cov AS (
      SELECT us,
             CAST(coalesce(sum(
               CASE WHEN end_cnt - d > 0 THEN us - prev_us ELSE 0 END)
               OVER (ORDER BY us
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               0) AS BIGINT) AS covered_us
      FROM (
        SELECT us, d,
               sum(d) OVER (ORDER BY us
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS end_cnt,
               lag(us) OVER (ORDER BY us) AS prev_us
        FROM us_level
      )
    )
    SELECT c.us AS ts_us, c.open_channels,
           CASE WHEN c.open_channels > 0 THEN 1 ELSE 0 END
             AS site_in_alarm,
           v.covered_us
    FROM counts c JOIN cov v ON c.us = v.us
    ORDER BY ts_us, open_channels DESC
    """


@register(
    "s04_site_alarm_replay",
    "streaming",
    _SITE_UNION_ORACLE,
    doc="The FULL live-monitor topology on the oracle gate: query 1 "
    "replays events through the hysteresis alarm stream and persists "
    "the open/close transitions (the reference's monitor hand-off, "
    "code/edd.c:333-346); query 2 streams those transitions through "
    "site_alarm_stream — the running open-count IS the interval "
    "union, covered time accrues over every 0->1..1->0 span. Oracle = "
    "q62 island episodes reshaped to +1/-1 transition deltas, folded "
    "with one global window (transitions, not samples — tiny by "
    "construction). Integer outputs — hash-exact.",
)
def s04(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from etsd_time_series_database_spark.streaming.stateful import (
        hysteresis_alarm_stream,
        site_alarm_stream,
    )

    transitions = _replay(
        spark,
        sf_dir,
        lambda rows: hysteresis_alarm_stream(rows, hi=HYST_HI, lo=HYST_LO),
        "s04_transitions",
        inject_nulls=False,
    )
    # two-query topology: chained applyInPandasWithState in one query
    # is illegal, so transitions persist to a sink between queries —
    # exactly the production hand-off (CLI watch uses the same shape)
    hand_off = tempfile.mkdtemp(prefix="s04_transitions_")
    transitions.write.mode("overwrite").parquet(hand_off)
    stream2 = (
        spark.readStream.schema(
            "ts_us long, source string, channel string, "
            "event string, value double, span_us long"
        ).parquet(hand_off)
    )
    q = (
        site_alarm_stream(stream2)
        .writeStream.format("memory")
        .queryName("s04_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await(q, "s04_sink")
    # the memory sink holds the rows; the parquet hand-off is spent
    import shutil

    shutil.rmtree(hand_off, ignore_errors=True)
    return spark.table("s04_sink").orderBy(
        "ts_us", F.col("open_channels").desc()
    )


def _ingest_replay(spark: SparkSession, sf_dir: str):
    """Drain events.parquet through the foreachBatch ingest sink
    (availableNow) ONCE per (application, sf_dir) and return the two
    read-backs as localCheckpointed DataFrames — s05 and s06 share one
    drain instead of each paying a full stream + two sink writes. The
    temp sink layout is deleted as soon as both read-backs are
    checkpointed, so nothing outlives the call. Exercises the
    exactly-once epoch-partitioned write path (O18/O22) end-to-end."""
    import shutil
    import tempfile

    from etsd_time_series_database_spark.streaming.ingest import (
        ingest_to_parquet,
        read_ingest_table,
    )

    memo_key = (spark.sparkContext.applicationId, sf_dir)
    cached = _INGEST_MEMO.get(memo_key)
    if cached is not None:
        return cached

    rows = _source_rows(spark, sf_dir, inject_nulls=False)
    base = tempfile.mkdtemp(prefix="s_ingest_")
    raw_p = os.path.join(base, "raw")
    ds_p = os.path.join(base, "ds")
    q = ingest_to_parquet(
        rows,
        raw_p,
        os.path.join(base, "ck"),
        available_now=True,
        downsample_to=ds_p,
        downsample_width_s=60,
    )
    _await(q, "ingest_replay")
    raw_df = (
        read_ingest_table(spark, raw_p)
        .select(
            F.unix_micros("ts").alias("ts_us"),
            "source",
            "channel",
            "value",
            F.col("seq"),
        )
        .localCheckpoint()
    )
    # the side-sink aggregates PER MICRO-BATCH and partitions by
    # __epoch: consolidate across epochs on read-back so a drain that
    # splits into several batches (multiple source files, a
    # maxFilesPerTrigger setting) still yields one row per bucket —
    # sums/mins/maxes compose exactly; the per-batch avg does not and
    # is excluded from the gate
    ds_df = (
        spark.read.parquet(ds_p)
        .groupBy("source", "channel", "bucket_ts")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
        .select(
            "source",
            "channel",
            F.unix_micros("bucket_ts").alias("bucket_us"),
            "n",
            "min_value",
            "max_value",
        )
        .localCheckpoint()
    )
    shutil.rmtree(base, ignore_errors=True)
    _INGEST_MEMO[memo_key] = (raw_df, ds_df)
    return raw_df, ds_df


_INGEST_MEMO: dict = {}


@register(
    "s05_ingest_sink_replay",
    "streaming",
    """
    SELECT epoch_us(ts) AS ts_us, 'events' AS source,
           event_type AS channel, value, event_id AS seq
    FROM events
    ORDER BY channel, ts_us, seq
    """,
    doc="The ingest sink path (reference block-commit write, "
    "code/etsd.c:153-160) on the oracle gate: drain the events table "
    "through the foreachBatch epoch-partitioned exactly-once writer "
    "(ingest_to_parquet, availableNow) and read the raw sink back — "
    "every row must land exactly once with values intact. Oracle = "
    "identity SELECT.",
)
def s05(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw_df, _ = _ingest_replay(spark, sf_dir)
    return raw_df.orderBy("channel", "ts_us", "seq")


@register(
    "s06_ingest_downsample_replay",
    "streaming",
    """
    SELECT 'events' AS source, event_type AS channel,
           epoch_us(ts) // 60000000 * 60000000 AS bucket_us,
           CAST(count(value) AS BIGINT) AS n,
           min(value) AS min_value, max(value) AS max_value
    FROM events
    GROUP BY 1, 2, 3
    ORDER BY channel, bucket_us
    """,
    doc="The ingest-time downsample side-sink (the reference's RRA/edo "
    "external-output path, code/plugins/edoRRD.c:44-74, maintained in "
    "the same foreachBatch as the raw commit) on the oracle gate: "
    "60-second consolidation buckets with count/min/max. avg_value is "
    "deliberately excluded from the compare — a double mean is "
    "fold-order-dependent, the classic cross-engine hash trap; the "
    "exact-aggregation downsample for queries is q17.",
)
def s06(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, ds_df = _ingest_replay(spark, sf_dir)
    return ds_df.orderBy("channel", "bucket_us")


@register(
    "s07_windowed_aggregate_replay",
    "streaming",
    """
    WITH mx AS (SELECT max(epoch_us(ts)) AS m FROM events),
    agg AS (
      SELECT 'events' AS source, event_type AS channel,
             epoch_us(ts) // 60000000 * 60000000 AS bucket_us,
             CAST(count(value) AS BIGINT) AS n,
             min(value) AS min_value, max(value) AS max_value
      FROM events GROUP BY 1, 2, 3
    )
    SELECT source, channel, bucket_us, n, min_value, max_value
    FROM agg, mx
    -- no ms-truncation of m needed here (cf. s08): window ends are
    -- minute-aligned, and no whole-ms value can land inside the
    -- sub-ms gap between the truncated and untruncated cutoffs
    WHERE bucket_us + 60000000 <= m - 120000000
    ORDER BY channel, bucket_us
    """,
    doc="The watermarked streaming consolidation (windowed_aggregate — "
    "the reference's RRA path under event-time lateness bounds) on "
    "the oracle gate: append-mode tumbling 60s windows per channel "
    "emit exactly when the event-time watermark (max ts - 2 min) "
    "passes the window end, so the replay's final output is the "
    "deterministic set of CLOSED windows — the oracle reproduces the "
    "same cutoff arithmetic (bucket end <= max - delay). Windows "
    "still open at end-of-stream stay in state, exactly as a live "
    "deployment would hold them; avg_value is excluded (double mean "
    "is fold-order-dependent).",
)
def s07(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etsd_time_series_database_spark.streaming.ingest import (
        windowed_aggregate,
    )

    out = _replay(
        spark,
        sf_dir,
        lambda rows: windowed_aggregate(
            rows, width_s=60, watermark="2 minutes"
        ).select(
            "source",
            "channel",
            F.unix_micros("bucket_ts").alias("bucket_us"),
            F.col("n").cast("bigint").alias("n"),
            "min_value",
            "max_value",
        ),
        "s07_sink",
        inject_nulls=False,
    )
    return out.orderBy("channel", "bucket_us")


@register(
    "s08_session_window_replay",
    "streaming",
    """
    WITH mx AS (SELECT max(epoch_us(ts)) AS m FROM events),
    g AS (
      SELECT event_type, ts, value, event_id,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY event_type
                             ORDER BY ts, event_id)
                       >= 300 * 1000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    s AS (
      SELECT event_type, ts, value,
             SUM(new_session) OVER
               (PARTITION BY event_type ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM g
    ),
    sess AS (
      SELECT 'events' AS source, event_type AS channel,
             MIN(epoch_us(ts)) AS session_start_us,
             MAX(epoch_us(ts)) + 300 * 1000000 AS session_end_us,
             CAST(count(value) AS BIGINT) AS n_events
      FROM s GROUP BY event_type, session_id
    )
    SELECT source, channel, session_start_us, session_end_us, n_events
    FROM sess, mx
    -- Spark truncates the event-time watermark to WHOLE MILLISECONDS
    -- (max_event_time_ms - delay_ms), so the eviction cutoff must be
    -- ms-truncated here too: a session ending inside the sub-ms gap
    -- (m DIV 1000 * 1000, m] - 120 s is held in state by Spark but
    -- would pass an untruncated micro-precision cutoff.
    WHERE session_end_us <= m // 1000 * 1000 - 120000000
    ORDER BY channel, session_start_us
    """,
    doc="Streaming sessionization (session_window — the stateful gap "
    "split whose batch lag/cumsum equivalent is q29) on the oracle "
    "gate. Semantics mirrored exactly: the stream splits at >= 300 s "
    "of silence (an event exactly at the window edge starts a NEW "
    "session — note q29's batch formulation splits strictly >), a "
    "session's window end is last event + gap, and append mode emits "
    "a session only once the watermark (max ts - 2 min) passes that "
    "end. The oracle reproduces the >= split and the cutoff "
    "arithmetic — including Spark's whole-millisecond watermark "
    "truncation, which matters here because session ends inherit the "
    "data's sub-ms micros (unlike s07's minute-aligned window ends); "
    "integer outputs — hash-exact.",
)
def s08(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etsd_time_series_database_spark.streaming.ingest import (
        session_gaps,
    )

    out = _replay(
        spark,
        sf_dir,
        lambda rows: session_gaps(
            rows, gap_s=300, watermark="2 minutes"
        ).select(
            "source",
            "channel",
            F.unix_micros("session_start").alias("session_start_us"),
            F.unix_micros("session_end").alias("session_end_us"),
            F.col("n_events").cast("bigint").alias("n_events"),
        ),
        "s08_sink",
        inject_nulls=False,
    )
    return out.orderBy("channel", "session_start_us")


@register(
    "s09_dedup_stream_replay",
    "streaming",
    """
    SELECT epoch_us(ts) AS ts_us, 'events' AS source,
           event_type AS channel, value
    FROM events
    ORDER BY channel, ts_us, value
    """,
    doc="Exactly-once-by-key ingestion under duplicate delivery: the "
    "source is unioned with ITSELF (every reading arrives twice — the "
    "at-least-once upstream retry scenario), streamed through "
    "dedup_stream (dropDuplicatesWithinWatermark on (source, channel, "
    "ts) — the streaming analog of the reference's write-once block "
    "guarantee, code/etsd.c:153-160), and the surviving rows must be "
    "exactly the original table. Oracle = plain SELECT (events has "
    "unique (channel, ts) by construction).",
)
def s09(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etsd_time_series_database_spark.streaming.ingest import (
        dedup_stream,
    )

    def duplicated_then_deduped(rows: DataFrame) -> DataFrame:
        doubled = rows.union(rows)
        return dedup_stream(doubled).select(
            F.unix_micros("ts").alias("ts_us"),
            "source",
            "channel",
            "value",
        )

    out = _replay(
        spark, sf_dir, duplicated_then_deduped, "s09_sink",
        inject_nulls=False,
    )
    return out.orderBy("channel", "ts_us", "value")


# s10 alert-band parameters, shared by engine and oracle.
_S10_THR = 150.0
_S10_BAND_S = 600


@register(
    "s10_stream_stream_join_replay",
    "streaming",
    f"""
    SELECT 'events' AS source, r.event_type AS channel,
           epoch_us(r.ts) AS ts_us, r.value AS value,
           epoch_us(a.ts) AS ann_ts_us, a.value AS ann_value
    FROM events r JOIN events a
      ON r.event_type = a.event_type
     AND a.value >= {_S10_THR}
     AND epoch_us(a.ts) <= epoch_us(r.ts)
     AND epoch_us(a.ts) >= epoch_us(r.ts) - {_S10_BAND_S} * 1000000
    ORDER BY channel, ts_us, ann_ts_us
    """,
    doc="The stream-stream interval join (enrich_join_stream) on the "
    "oracle gate: every reading is tagged with the same-channel "
    "high-value readings ('alerts', value >= 150) from the 600 s "
    "before it — the live enrichment a monitoring pipeline runs, and "
    "the streaming dual of the batch as-of/band joins (q23/q34). Both "
    "sides are the SAME file stream (a stream self-join) with "
    "watermarks bounding join state on each side; inner join in "
    "append mode emits every matched pair exactly once, so the replay "
    "output equals the batch interval join the oracle states. Rows "
    "with no alert in the band drop (inner) — the keep-all shape is "
    "the batch as-of join.",
)
def s10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etsd_time_series_database_spark.streaming.ingest import (
        enrich_join_stream,
    )

    def alert_band_join(rows: DataFrame) -> DataFrame:
        alerts = rows.filter(F.col("value") >= _S10_THR)
        return enrich_join_stream(
            rows, alerts, band_s=_S10_BAND_S
        ).select(
            "source",
            "channel",
            F.unix_micros("ts").alias("ts_us"),
            "value",
            F.unix_micros("ann_ts").alias("ann_ts_us"),
            "ann_value",
        )

    out = _replay(
        spark, sf_dir, alert_band_join, "s10_sink", inject_nulls=False
    )
    # (channel, ts) is unique by construction, so (channel, ts_us,
    # ann_ts_us) is a total order over the emitted pairs
    return out.orderBy("channel", "ts_us", "ann_ts_us")


# s11 hot-reading threshold, shared by engine and oracle.
_S11_THR = 200.0


@register(
    "s11_stream_static_enrich_replay",
    "streaming",
    f"""
    SELECT epoch_us(e.ts) AS ts_us, e.event_type AS channel,
           e.value AS value, CAST(e.user_id AS BIGINT) AS owner_id,
           c.c_mktsegment AS segment, n.n_name AS nation
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE e.value >= {_S11_THR}
    ORDER BY channel, ts_us
    """,
    doc="Stream-static enrichment (enrich_static_stream) on the oracle "
    "gate: hot readings (value >= 200) in the live stream resolve "
    "their owner against the STATIC customer->nation dimension — the "
    "reference's static channel-name/label resolution "
    "(code/etsdQuery.c:192-208) as a per-micro-batch broadcast-hash "
    "join. The dim side (customer x nation, KBs vs the stream's "
    "firehose) is joined batch-side first so the stream side meets "
    "ONE prejoined dimension; stream-static inner join is stateless "
    "(no watermark, no buffered state), so the replay output is the "
    "plain three-way join the oracle states.",
)
def s11(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etsd_time_series_database_spark.sources.store import load_table
    from etsd_time_series_database_spark.streaming.ingest import (
        enrich_static_stream,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    dim = cust.join(
        nat, cust.c_nationkey == nat.n_nationkey
    ).select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.col("n_name").alias("nation"),
    )

    def owner_resolve(rows: DataFrame) -> DataFrame:
        hot = rows.filter(F.col("value") >= _S11_THR).withColumn(
            "owner_id", F.col("user_id").cast("long")
        )
        return enrich_static_stream(
            hot, dim, on="owner_id", dim_key="c_custkey"
        ).select(
            F.unix_micros("ts").alias("ts_us"),
            "channel",
            "value",
            "owner_id",
            "segment",
            "nation",
        )

    out = _replay(
        spark, sf_dir, owner_resolve, "s11_sink",
        inject_nulls=False, extra_cols=("user_id",),
    )
    return out.orderBy("channel", "ts_us")


# s12/q71 running z-score parameters, shared by engine and oracle.
_S12_Z = 3
_S12_MIN_N = 30
_S12_QUANT = 1000

# ONE oracle for the streaming monitor (s12) and its batch twin
# (q71): the two engine paths — per-key Python fold vs JVM window —
# must land on byte-identical output, so they share the SQL statement
# of that output verbatim.
_S12_ORACLE = f"""
    WITH b AS (
      SELECT event_type AS channel, ts, event_id, value,
             CAST(floor(value * {_S12_QUANT}) AS BIGINT) AS q
      FROM events
      -- family domain rule: NULL channel/ts rows are out of scope
      -- (engines disagree on NULL-key ordering/grouping)
      WHERE event_type IS NOT NULL AND ts IS NOT NULL
    ),
    p AS (
      SELECT channel, ts, value, q,
             count(q) OVER w AS n_prev,
             coalesce(sum(q) OVER w, 0) AS s1,
             coalesce(sum(q * q) OVER w, 0) AS s2
      FROM b
      WINDOW w AS (PARTITION BY channel ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT epoch_us(ts) AS ts_us, 'events' AS source, channel, value,
           CAST(n_prev AS BIGINT) AS n_prev
    FROM p
    WHERE n_prev >= {_S12_MIN_N}
      AND CAST(q * n_prev - s1 AS HUGEINT)
          * CAST(q * n_prev - s1 AS HUGEINT)
          * CAST(n_prev - 1 AS HUGEINT)
          > {_S12_Z * _S12_Z} * CAST(n_prev AS HUGEINT)
            * (CAST(n_prev AS HUGEINT) * CAST(s2 AS HUGEINT)
               - CAST(s1 AS HUGEINT) * CAST(s1 AS HUGEINT))
    ORDER BY channel, ts_us
    """


@register(
    "s12_running_zscore_replay",
    "streaming",
    _S12_ORACLE,
    doc="The live running z-score anomaly monitor "
    "(running_zscore_stream) on the oracle gate: each reading is "
    "judged against its channel's strictly-PRECEDING mean/stddev — "
    "the causal dual of the batch full-history z-score (q37). "
    "Bit-exact by construction: readings quantize to integer "
    "milli-units and the 3-sigma test is the cross-multiplied "
    "all-integer comparison (no division/sqrt/float accumulation), "
    "so the engine's Python-int fold and the oracle's HUGEINT window "
    "arithmetic decide identically on every row. Channels warm up "
    "for 30 readings before flagging.",
)
def s12(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etsd_time_series_database_spark.streaming.stateful import (
        running_zscore_stream,
    )

    out = _replay(
        spark,
        sf_dir,
        lambda rows: running_zscore_stream(
            rows, z=_S12_Z, min_n=_S12_MIN_N, quant=_S12_QUANT
        ),
        "s12_sink",
        inject_nulls=False,
    )
    return out.orderBy("channel", "ts_us")


@register(
    "q71_running_zscore_batch",
    "anomaly",
    _S12_ORACLE,
    doc="Batch twin of the s12 live monitor (same parameters, SAME "
    "oracle string verbatim): the causal prefix z-score executed as "
    "JVM window functions — quantize, one prefix window for "
    "(count, sum, sum-of-squares), and the cross-multiplied integer "
    "test in DECIMAL(38,0) (operands < 1e26, scale 0 — no rounding "
    "can occur, so the decision is bit-identical to the stream's "
    "Python-int fold). This is the bulk-replay throughput path the "
    "stateful fold is not: per-channel window, JVM-side end to end, "
    "scales with cores (the stateful fold's parallelism is the "
    "distinct-key count — measured in metrics_history/README.md).",
)
def q71(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etsd_time_series_database_spark.operators.trends import (
        running_zscore_batch,
    )
    from etsd_time_series_database_spark.sources.store import load_table

    return running_zscore_batch(
        load_table(spark, sf_dir, "events"),
        z=_S12_Z, min_n=_S12_MIN_N, quant=_S12_QUANT,
    )


@register(
    "q72_running_zscore_scalable",
    "anomaly",
    _S12_ORACLE,
    doc="Skew-proof twin of q71 (third member of the s12/q71 family, "
    "SAME oracle verbatim): the three prefix accumulators ride one "
    "cumsum_multi stitched pass — in-bucket windows at (channels x "
    "buckets) parallelism plus the tiny per-bucket offset table — "
    "so the causal z-score replay is no longer capped at "
    "channel-count parallelism on a 100 TB history. Strictly-"
    "preceding prefix = inclusive stitched prefix minus the row's "
    "own contribution (exact integers); same DECIMAL(38,0) decision "
    "inequality — bit-identical flags at any bucket width "
    "(pytest-pinned against q71 at bucket_s=60).",
)
def q72(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etsd_time_series_database_spark.operators.scalable_window import (
        running_zscore_scalable,
    )
    from etsd_time_series_database_spark.sources.store import load_table

    return running_zscore_scalable(
        load_table(spark, sf_dir, "events"),
        z=_S12_Z, min_n=_S12_MIN_N, quant=_S12_QUANT,
    )


@register(
    "s13_freshness_first_seen_replay",
    "streaming",
    """
    SELECT min(epoch_us(ts)) AS ts_us, 'events' AS source,
           event_type AS channel, 'first_seen' AS status,
           min(epoch_us(ts)) AS last_ts_us,
           CAST(0 AS BIGINT) AS silent_us
    FROM events GROUP BY event_type
    ORDER BY channel
    """,
    doc="The freshness monitor (freshness_stream) on the oracle gate "
    "via its batch-deterministic path: with the SLA wider than the "
    "table's time span no key can time out (availableNow DOES fire "
    "event-time timeouts in a trailing pass once the watermark "
    "advances past batch one — an SLA inside the span emits "
    "span-dependent stale rows), so the only emissions are one "
    "first_seen row per (source, channel) at that key's earliest "
    "event time with zero silence — exactly the oracle's per-channel "
    "min. The stale/recovered paths are pinned by the multi-batch "
    "pytests (tests/test_stateful_streaming.py freshness family); "
    "this entry pins the operator's key-discovery bookkeeping "
    "end-to-end through the real applyInPandasWithState fold.",
)
def s13(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etsd_time_series_database_spark.streaming.stateful import (
        freshness_stream,
    )

    # 100 days >> the 30-day testdata span at every SF
    out = _replay(
        spark,
        sf_dir,
        lambda rows: freshness_stream(
            rows, stale_after_s=100.0 * 86_400
        ).select(
            "ts_us", "source", "channel", "status", "last_ts_us",
            "silent_us",
        ),
        "s13_sink",
        inject_nulls=False,
    )
    return out.orderBy("channel")


@register(
    "s14_watch_cli_replay",
    "streaming",
    _SITE_UNION_ORACLE,
    doc="The edd-daemon analog end-to-end THROUGH THE CLI (the watch "
    "verb, cli.py cmd_watch) instead of the library calls s04 gates: "
    "a first `watch --mode alarms` session catches up on the early "
    "half of the events history, the directory then GROWS by the "
    "late half and a SECOND session resumes from the sink checkpoint "
    "(the daemon-restart story, code/edd.c:292-386 re-entering its "
    "poll loop) and folds only the new files against carried state; "
    "`watch --mode site` then folds the accumulated transitions "
    "directory into the running cross-channel union. Oracle = the "
    "s04 site-union SQL VERBATIM — a one-shot replay and the "
    "restart-resumed CLI topology must produce the identical table, "
    "which pins checkpoint state carry (an episode OPEN at the split "
    "closes in session two with the exact span) on top of the fold "
    "semantics s03/s04 already gate. Integer outputs — hash-exact.",
)
def s14(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from etsd_time_series_database_spark import cli
    from etsd_time_series_database_spark.sources.store import (
        raw_ts_micros_divisor,
    )

    div = raw_ts_micros_divisor(
        spark, os.path.join(sf_dir, "events.parquet")
    )
    rows = spark.read.schema(_EVENTS_SCHEMA).parquet(
        os.path.join(sf_dir, "events.parquet")
    ).select(
        F.timestamp_micros(F.expr(f"ts DIV {div}")).alias("ts"),
        F.lit("events").alias("source"),
        F.col("event_type").alias("channel"),
        F.col("value").cast("double").alias("value"),
        F.lit(0).alias("status"),
        F.col("event_id").alias("seq"),
    )
    work = tempfile.mkdtemp(prefix="s14_watch_")
    src = os.path.join(work, "ingest")
    trans = os.path.join(work, "transitions")
    site = os.path.join(work, "site")
    try:
        # grow the directory in event-time order: the daemon's source
        # only ever appends FUTURE files, so the split point is the
        # middle of the observed span (one 2-value aggregate)
        lo, hi = rows.agg(
            F.unix_micros(F.min("ts")), F.unix_micros(F.max("ts"))
        ).first()
        mid = (lo + hi) // 2
        early = rows.filter(F.unix_micros("ts") <= mid)
        late = rows.filter(F.unix_micros("ts") > mid)
        early.coalesce(1).write.mode("overwrite").parquet(src)

        watch_alarms = [
            "watch", src, "--mode", "alarms",
            "--hi", str(HYST_HI), "--lo", str(HYST_LO), "--out", trans,
        ]
        assert cli.main(watch_alarms, spark=spark) == 0
        # the directory grows; the second session resumes from the
        # checkpoint next to --out and processes ONLY the new files
        late.coalesce(1).write.mode("append").parquet(src)
        assert cli.main(watch_alarms, spark=spark) == 0
        assert cli.main(
            ["watch", trans, "--mode", "site", "--out", site],
            spark=spark,
        ) == 0
        out = (
            spark.read.parquet(site)
            .orderBy("ts_us", F.col("open_channels").desc())
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


@register(
    "s15_m4_stream_replay",
    "streaming",
    """
    WITH mx AS (SELECT max(epoch_us(ts)) AS m FROM events),
    b AS (
      SELECT event_type, epoch_us(ts) AS us, value,
             epoch_us(ts) // 3600000000 * 3600000000 AS bucket_us,
             CAST(epoch_us(ts) AS HUGEINT)
               * CAST(10000000000000000000 AS HUGEINT)
               + event_id AS ord
      FROM events
    ),
    agg AS (
      SELECT 'events' AS source, event_type AS channel, bucket_us,
             CAST(count(*) AS BIGINT) AS n,
             CAST(min(us) AS BIGINT) AS first_us,
             arg_min(value, ord) AS first_v,
             min(value) AS min_v,
             max(value) AS max_v,
             CAST(max(us) AS BIGINT) AS last_us,
             arg_max(value, ord) AS last_v
      FROM b GROUP BY event_type, bucket_us
    )
    SELECT source, channel, bucket_us, n, first_us, first_v,
           min_v, max_v, last_us, last_v
    FROM agg, mx
    -- s07's closed-window cutoff: hour-aligned window ends, so no
    -- ms-truncation subtlety applies (cf. s08)
    WHERE bucket_us + 3600000000 <= m - 120000000
    ORDER BY channel, bucket_us
    """,
    doc="Streaming maintenance of the M4 visualization tier (q73's "
    "operator kept current by the ingest side, the reference's RRA "
    "consolidation path): watermarked tumbling hour windows per "
    "channel emit (first, min, max, last) WITH their timestamps as "
    "each window closes — first/last ride min_by/max_by on the "
    "packed DECIMAL(38,0) (ts, seq) key exactly like the batch twin, "
    "so streaming state per open window is six scalars, never rows. "
    "Oracle = the q73 arithmetic at hour buckets restricted to the "
    "s07 closed-window cutoff (window end <= max ts - 2 min); "
    "windows still open at end-of-stream stay in state exactly as a "
    "live deployment would hold them.",
)
def s15(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etsd_time_series_database_spark.streaming.ingest import m4_stream

    out = _replay(
        spark,
        sf_dir,
        lambda rows: m4_stream(rows, width_s=3600, watermark="2 minutes"),
        "s15_sink",
        inject_nulls=False,
    )
    return out.orderBy("channel", "bucket_us")


@register(
    "s16_late_data_replay",
    "streaming",
    """
    WITH e AS (
      SELECT event_type, epoch_us(ts) AS us, value, event_id FROM events
    ),
    w1 AS (
      -- the event-time watermark after session one (even rows only),
      -- ms-truncated the way Spark computes it (cf. s08)
      SELECT max(us) // 1000 * 1000 - 120000000 AS wm FROM e
      WHERE event_id % 2 = 0
    ),
    surv AS (
      -- session two's odd rows are LATE: a row is dropped iff its
      -- hour window's end is not past the carried watermark
      SELECT e.* FROM e WHERE event_id % 2 = 0
      UNION ALL
      SELECT e.* FROM e, w1 WHERE event_id % 2 = 1
        AND (us // 3600000000) * 3600000000 + 3600000000 > w1.wm
    ),
    mx AS (
      -- the final watermark advances on ALL input rows, dropped or
      -- not (event-time stats are collected upstream of the late
      -- filter), so it derives from the full table's max
      SELECT max(us) // 1000 * 1000 - 120000000 AS wm FROM e
    ),
    agg AS (
      SELECT 'events' AS source, event_type AS channel,
             (us // 3600000000) * 3600000000 AS bucket_us,
             CAST(count(*) AS BIGINT) AS n,
             min(value) AS min_value, max(value) AS max_value
      FROM surv GROUP BY event_type, bucket_us
    )
    SELECT source, channel, bucket_us, n, min_value, max_value
    FROM agg, mx WHERE bucket_us + 3600000000 <= mx.wm
    ORDER BY channel, bucket_us
    """,
    doc="Watermark LATE-DATA accounting on the oracle gate (the "
    "reference's short-block validity semantics O28, streaming "
    "form): session one aggregates the even half of the history and "
    "checkpoints its watermark at max even-ts - 2 min; session two "
    "resumes and replays the odd half, which is almost entirely "
    "LATE — Spark drops exactly the rows whose hour window closed "
    "behind the carried watermark and folds the stragglers near the "
    "stream's end into still-open windows. The oracle reproduces the "
    "drop rule (window end <= ms-truncated watermark), the "
    "watermark's advance on ALL input rows including dropped ones, "
    "and the closed-window emission cutoff. Pins the one streaming "
    "behavior s01-s15 never exercise: data loss under lateness is "
    "DETERMINISTIC and accountable, not best-effort.",
)
def s16(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from etsd_time_series_database_spark.sources.store import (
        raw_ts_micros_divisor,
    )
    from etsd_time_series_database_spark.streaming.ingest import (
        windowed_aggregate,
    )

    rows = spark.read.schema(_EVENTS_SCHEMA).parquet(
        os.path.join(sf_dir, "events.parquet")
    )
    div = raw_ts_micros_divisor(
        spark, os.path.join(sf_dir, "events.parquet")
    )
    canon = rows.select(
        F.timestamp_micros(F.expr(f"ts DIV {div}")).alias("ts"),
        F.lit("events").alias("source"),
        F.col("event_type").alias("channel"),
        F.col("value").cast("double").alias("value"),
        F.lit(0).alias("status"),
        F.col("event_id").alias("seq"),
    )
    work = tempfile.mkdtemp(prefix="s16_late_")
    src = os.path.join(work, "ingest")
    out_dir = os.path.join(work, "out")
    ckpt = os.path.join(work, "ckpt")
    try:
        canon.filter(F.col("seq") % 2 == 0).coalesce(1).write.parquet(src)

        def session():
            stream = spark.readStream.schema(canon.schema).parquet(src)
            q = (
                windowed_aggregate(
                    stream, width_s=3600, watermark="2 minutes"
                )
                .select(
                    "source",
                    "channel",
                    F.unix_micros("bucket_ts").alias("bucket_us"),
                    F.col("n").cast("bigint").alias("n"),
                    "min_value",
                    "max_value",
                )
                .writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            _await(q, "s16_sink")

        session()
        canon.filter(F.col("seq") % 2 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        session()
        res = (
            spark.read.parquet(out_dir)
            .orderBy("channel", "bucket_us")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return res


@register(
    "s17_late_drop_accounting",
    "streaming",
    """
    WITH e AS (
      SELECT event_type, epoch_us(ts) AS us, event_id FROM events
    ),
    w1 AS (
      SELECT max(us) // 1000 * 1000 - 120000000 AS wm FROM e
      WHERE event_id % 2 = 0
    ),
    dropped AS (
      -- one tick per dropped (channel, window) GROUP: the state
      -- operator sits after partial aggregation, so late raw rows of
      -- the same group count once per micro-batch (here: once)
      SELECT DISTINCT event_type, us // 3600000000 AS w
      FROM e, w1 WHERE event_id % 2 = 1
        AND (us // 3600000000) * 3600000000 + 3600000000 <= w1.wm
    )
    SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_input_rows,
           CAST((SELECT count(*) FROM dropped) AS BIGINT)
             AS n_dropped_groups
    ORDER BY n_input_rows
    """,
    doc="Watermark-drop ACCOUNTING surfaced operationally (the round-10 "
    "verdict's #1: s16 proved late-data loss is deterministic; this "
    "entry pins that the REPORTED counter equals the predicted loss): "
    "the same split replay as s16 (session one aggregates the even "
    "half, session two resumes and feeds the almost-entirely-late odd "
    "half), but the result is the fold of query.recentProgress the "
    "watch CLI and MetricsLog.record_streaming expose — total input "
    "rows and total numRowsDroppedByWatermark. Oracle = the s16 drop "
    "rule re-expressed as a COUNT: distinct late (channel, hour-window) "
    "groups behind the carried ms-truncated watermark — GROUPS, not "
    "rows, because the drop counter sits at the state operator after "
    "partial aggregation (empirically pinned: 481 groups vs 499 raw "
    "late rows at sf0.001). Reference analog: per-block validity "
    "accounting, code/etsdSave.c:58-66.",
)
def s17(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from etsd_time_series_database_spark.plans.metrics import (
        fold_streaming_progress,
    )
    from etsd_time_series_database_spark.sources.store import (
        raw_ts_micros_divisor,
    )
    from etsd_time_series_database_spark.streaming.ingest import (
        windowed_aggregate,
    )

    div = raw_ts_micros_divisor(
        spark, os.path.join(sf_dir, "events.parquet")
    )
    canon = spark.read.schema(_EVENTS_SCHEMA).parquet(
        os.path.join(sf_dir, "events.parquet")
    ).select(
        F.timestamp_micros(F.expr(f"ts DIV {div}")).alias("ts"),
        F.lit("events").alias("source"),
        F.col("event_type").alias("channel"),
        F.col("value").cast("double").alias("value"),
        F.lit(0).alias("status"),
        F.col("event_id").alias("seq"),
    )
    work = tempfile.mkdtemp(prefix="s17_dropacct_")
    src = os.path.join(work, "ingest")
    out_dir = os.path.join(work, "out")
    ckpt = os.path.join(work, "ckpt")
    try:
        # each half lands as ONE file -> one deterministic micro-batch,
        # so per-batch group drop counts are reproducible
        canon.filter(F.col("seq") % 2 == 0).coalesce(1).write.parquet(src)

        def session() -> dict:
            stream = spark.readStream.schema(canon.schema).parquet(src)
            q = (
                windowed_aggregate(
                    stream, width_s=3600, watermark="2 minutes"
                )
                .writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            _await(q, "s17_sink")
            return fold_streaming_progress(q)

        t1 = session()
        canon.filter(F.col("seq") % 2 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        t2 = session()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                t1["input_rows"] + t2["input_rows"],
                t1["late_rows"] + t2["late_rows"],
            )
        ],
        "n_input_rows bigint, n_dropped_groups bigint",
    ).orderBy("n_input_rows")


@register(
    "s18_streaming_dedup_replay",
    "streaming",
    # the x84 recursion VERBATIM: arrival order determines the
    # survivor set whether the shards arrive through CLI verbs (x84)
    # or as micro-batches of a checkpointed stream (this entry)
    ORDERED_SHARD_DEDUP_SQL,
    doc="Dedup as a LIVE INGEST STAGE: document shards land in a "
    "watched directory and a foreachBatch sink runs the production "
    "incremental_dedup against the persisted MinHash index per "
    "micro-batch — drop against the index as left by previous "
    "arrivals plus in-shard keep-lowest, persist survivors (one dir "
    "per batch id), append survivors' signatures. Shard 1 seeds the "
    "index offline; shard 2 catches up in session one; the directory "
    "then GROWS by shard 0 and a SECOND session resumes from the "
    "checkpoint (the daemon-restart story s14 gates for alarms) and "
    "processes ONLY the new file. Oracle = x84's ordered-arrival "
    "recursion VERBATIM — the streaming topology with checkpoint "
    "resume must reproduce the CLI batch lifecycle's survivor set "
    "exactly. Probe internals are the pair-free bucket-statistics "
    "forms (operators/dedup.py:221,677).",
)
def s18(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from etsd_time_series_database_spark.operators.dedup import (
        incremental_dedup,
        write_minhash_index,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    work = tempfile.mkdtemp(prefix="s18_dedup_")
    idx = os.path.join(work, "index")
    src = os.path.join(work, "arrivals")
    surv = os.path.join(work, "survivors")
    ck = os.path.join(work, "ck")
    try:
        write_minhash_index(
            docs.filter(F.col("doc_id") % 3 == 1), idx, hash_mode="poly"
        )

        def dedup_batch(batch: DataFrame, batch_id: int) -> None:
            incremental_dedup(
                batch, idx, survivors_path=f"{surv}/batch={batch_id}"
            )

        def catch_up() -> None:
            q = (
                spark.readStream.schema(docs.schema)
                .parquet(src)
                .writeStream.foreachBatch(dedup_batch)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        # arrival 2 lands; session one catches up (micro-batch 0)
        docs.filter(F.col("doc_id") % 3 == 2).coalesce(1).write.mode(
            "overwrite"
        ).parquet(src)
        catch_up()
        # the directory grows by arrival 3; session two resumes from
        # the checkpoint and processes only the new file (batch 1)
        docs.filter(F.col("doc_id") % 3 == 0).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        catch_up()

        out = (
            spark.read.parquet(f"{surv}/batch=0")
            .select(F.lit(2).cast("int").alias("arrival"), "doc_id")
            .unionByName(
                spark.read.parquet(f"{surv}/batch=1").select(
                    F.lit(3).cast("int").alias("arrival"), "doc_id"
                )
            )
            .orderBy("arrival", "doc_id")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


@register(
    "s19_watch_dedup_daemon",
    "streaming",
    # the x84 recursion VERBATIM, like s18: the survivor set depends
    # only on arrival order, not on which surface drove the arrivals
    ORDERED_SHARD_DEDUP_SQL,
    doc="The `watch --mode dedup` DAEMON VERB on the oracle gate "
    "(round-13 verdict #2): where s18 hand-builds the foreachBatch "
    "incremental-dedup topology, this entry drives the shipped CLI "
    "daemon itself — `watch --mode dedup --dedup-index ... --out ...` "
    "— through the same growing-directory lifecycle: shard 1 seeds "
    "the index via the `dedup-index` verb, shard 2 lands and session "
    "one catches up (survivors under --out/batch=0, signatures "
    "appended), shard 0 lands and a SECOND invocation resumes from "
    "the verb's own checkpoint processing only the new file "
    "(batch=1). Oracle = x84's ordered-arrival recursion VERBATIM, so "
    "the daemon's argument plumbing, checkpoint placement, and batch "
    "numbering are all under the same hash gate as the library "
    "topology. The CLI test additionally covers the verb's guard "
    "paths (missing --out/--dedup-index/index).",
)
def s19(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from etsd_time_series_database_spark import cli
    from etsd_time_series_database_spark.operators.dedup import (
        write_minhash_index,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    work = tempfile.mkdtemp(prefix="s19_watchdedup_")
    idx = os.path.join(work, "index")
    src = os.path.join(work, "arrivals")
    surv = os.path.join(work, "survivors")
    try:
        write_minhash_index(
            docs.filter(F.col("doc_id") % 3 == 1), idx, hash_mode="poly"
        )

        def catch_up() -> None:
            rc = cli.main(
                [
                    "watch", src, "--mode", "dedup",
                    "--dedup-index", idx, "--out", surv,
                ],
                spark=spark,
            )
            if rc != 0:
                raise RuntimeError(f"watch --mode dedup exited {rc}")

        docs.filter(F.col("doc_id") % 3 == 2).coalesce(1).write.mode(
            "overwrite"
        ).parquet(src)
        catch_up()
        docs.filter(F.col("doc_id") % 3 == 0).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        catch_up()

        out = (
            spark.read.parquet(f"{surv}/batch=0")
            .select(F.lit(2).cast("int").alias("arrival"), "doc_id")
            .unionByName(
                spark.read.parquet(f"{surv}/batch=1").select(
                    F.lit(3).cast("int").alias("arrival"), "doc_id"
                )
            )
            .orderBy("arrival", "doc_id")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


@register(
    "s20_xff_windowed_replay",
    "streaming",
    """
    WITH mx AS (SELECT max(epoch_us(ts)) AS m FROM events),
    agg AS (
      SELECT event_type AS channel,
             epoch_us(ts) // 3600000000 * 3600000000 AS bucket_us,
             CAST(count(value) AS BIGINT) AS n,
             sum(CAST(value AS DECIMAL(18,6))) AS s,
             min(value) AS mn, max(value) AS mx_v
      FROM events GROUP BY 1, 2
    )
    SELECT channel, bucket_us, n,
           CAST(6 AS BIGINT) AS expected,
           (6 - n) * 100 <= 300 AS is_valid,
           CASE WHEN (6 - n) * 100 <= 300
                THEN round(CAST(s AS DOUBLE) / n, 6) END AS avg_v,
           CASE WHEN (6 - n) * 100 <= 300 THEN mn END AS min_v,
           CASE WHEN (6 - n) * 100 <= 300 THEN mx_v END AS max_v
    FROM agg, mx
    WHERE bucket_us + 3600000000 <= m - 120000000
    ORDER BY channel, bucket_us
    """,
    doc="q82's xfiles-factor validity computed LIVE on the streaming "
    "consolidation (s07's watermarked tumbling windows at 1 h, "
    "step 600 s, xff 50%): each CLOSED window carries "
    "expected/is_valid, invalid windows NULL their aggregates, and — "
    "new with the round-14 sum_value column — the average gates "
    "EXACTLY (the state-held DECIMAL sum makes the streaming mean "
    "fold-order-independent, so it joins the hash compare instead of "
    "being excluded like s06/s07's double means). Oracle reproduces "
    "the watermark cutoff (window end <= max ts - 2 min) plus the "
    "integer validity rule. The reference analog is the per-block "
    "Total/Valid interval accounting applied at the RRD export "
    "(`ECM-1240 storage format 2.txt:8,142-148`; "
    "code/etsdSave.c:58-66).",
)
def s20(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etsd_time_series_database_spark.operators.trends import (
        _rra_finish,
    )
    from etsd_time_series_database_spark.streaming.ingest import (
        windowed_aggregate,
    )

    out = _replay(
        spark,
        sf_dir,
        lambda rows: windowed_aggregate(
            rows, width_s=3600, watermark="2 minutes"
        ).select(
            "channel",
            F.unix_micros("bucket_ts").alias("bucket_us"),
            F.col("n").cast("bigint").alias("n"),
            "sum_value",
            F.col("min_value").alias("min_v"),
            F.col("max_value").alias("max_v"),
        ),
        "s20_sink",
        inject_nulls=False,
    )
    return _rra_finish(out, ["channel"], (3600, 600, 50)).orderBy(
        "channel", "bucket_us"
    )
