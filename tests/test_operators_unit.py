"""Unit tests for the time-series operator library on tiny hand-built
DataFrames with hand-computed expected outputs (SURVEY.md §5 layer 2 —
the ETSD semantic details of §2.1)."""

from __future__ import annotations

from pyspark.sql import functions as F

import importlib

from tests.plain_windows import channel_global

ops = importlib.import_module("etsd_time_series_database_spark.operators.range_stats")


def _series(spark, rows):
    """rows: (ts_str, channel, value_or_None, seq)"""
    return spark.createDataFrame(
        [(ts, ch, float(v) if v is not None else None, int(sq)) for ts, ch, v, sq in rows],
        "ts string, event_type string, value double, event_id bigint",
    ).withColumn("ts", F.to_timestamp("ts"))


def test_range_stats_excludes_nulls_from_min_max_avg(spark):
    # Reference excludes invalid (0xFFFFFFFF) samples, code/etsdQuery.c:320-331.
    df = _series(
        spark,
        [
            ("2026-01-01 00:00:01", "a", 10, 1),
            ("2026-01-01 00:00:02", "a", None, 2),
            ("2026-01-01 00:00:03", "a", 20, 3),
            ("2026-01-01 00:00:09", "a", 99, 4),  # outside range
        ],
    )
    r = ops.range_stats(df, "2026-01-01 00:00:00", "2026-01-01 00:00:05").collect()[0]
    assert (r.n, r.min_value, r.max_value) == (2, 10.0, 20.0)
    assert float(r.avg_value) == 15.0 and float(r.total_value) == 30.0


def test_value_at_asof_semantics(spark):
    # etsdVAT intent: latest reading with ts <= t (code/etsdQuery.c:206-215).
    df = _series(
        spark,
        [
            ("2026-01-01 00:00:01", "a", 1, 1),
            ("2026-01-01 00:00:05", "a", 5, 2),
            ("2026-01-01 00:00:09", "a", 9, 3),  # after the as-of point
            ("2026-01-01 00:00:02", "b", 2, 4),
        ],
    )
    rows = {r.event_type: r.asof_value for r in ops.value_at(df, "2026-01-01 00:00:06").collect()}
    assert rows == {"a": 5.0, "b": 2.0}


def test_rate_is_delta_over_dt(spark):
    # Counter->rate, the read-side inverse of delta encoding
    # (code/etsdSave.c:396-398): 10 units over 5 s = 2/s.
    df = _series(
        spark,
        [
            ("2026-01-01 00:00:00", "a", 100, 1),
            ("2026-01-01 00:00:05", "a", 110, 2),
            ("2026-01-01 00:00:15", "a", 140, 3),
        ],
    )
    rates = [r.rate_per_s for r in ops.rate(df).collect()]
    assert rates[0] is None
    assert rates[1] == 2.0 and rates[2] == 3.0


def test_rollover_bump(spark):
    # The 'bump' correction (code/etsdQuery.c:332-336): a drop below the
    # predecessor adds one 2^32 span; two drops add two spans.
    df = _series(
        spark,
        [
            ("2026-01-01 00:00:01", "a", 4294967290, 1),
            ("2026-01-01 00:00:02", "a", 5, 2),       # rolled over
            ("2026-01-01 00:00:03", "a", 100, 3),
            ("2026-01-01 00:00:04", "a", 3, 4),       # rolled over again
        ],
    )
    vals = [r.corrected_value for r in ops.rollover_corrected(df).collect()]
    assert vals == [
        4294967290.0,
        5.0 + 2**32,
        100.0 + 2**32,
        3.0 + 2 * 2**32,
    ]


def test_first_crossing(spark):
    df = _series(
        spark,
        [
            ("2026-01-01 00:00:01", "a", 5, 1),
            ("2026-01-01 00:00:02", "a", 15, 2),   # first over 10
            ("2026-01-01 00:00:03", "a", 10, 3),   # first equal
            ("2026-01-01 00:00:04", "a", 25, 4),
        ],
    )
    r = ops.first_crossing(df, 10.0).collect()[0]
    us = lambda s: int(s) * 1_000_000  # noqa: E731
    from datetime import datetime, timezone

    base = int(datetime(2026, 1, 1, tzinfo=timezone.utc).timestamp())
    assert r.first_over_us == us(base + 2)
    assert r.first_under_us == us(base + 1)
    assert r.first_equal_us == us(base + 3)


def test_time_of_extreme_earliest_wins_on_ties(spark):
    df = _series(
        spark,
        [
            ("2026-01-01 00:00:01", "a", 7, 1),
            ("2026-01-01 00:00:02", "a", 7, 2),  # tie for max AND min
        ],
    )
    r = ops.time_of_extreme(df).collect()[0]
    assert r.t_min_us == r.t_max_us  # earliest ts both times
    assert r.min_value == r.max_value == 7.0


def test_gaps_counts_nulls_and_long_silences(spark):
    df = _series(
        spark,
        [
            ("2026-01-01 00:00:00", "a", 1, 1),
            ("2026-01-01 00:00:10", "a", None, 2),   # 10 s gap (> 5 s), null
            ("2026-01-01 00:00:12", "a", 3, 3),
            ("2026-01-01 00:01:00", "a", 4, 4),      # 48 s gap
        ],
    )
    r = ops.gaps(df, gap_s=5).collect()[0]
    assert (r.n_rows, r.n_null, r.n_gaps) == (4, 1, 2)


def test_reconstruct_from_deltas_roundtrip(spark):
    df = _series(
        spark,
        [
            ("2026-01-01 00:00:01", "a", 3, 1),
            ("2026-01-01 00:00:02", "a", 8, 2),
            ("2026-01-01 00:00:03", "a", 6, 3),
            ("2026-01-01 00:00:01", "b", 100, 4),
            ("2026-01-01 00:00:02", "b", 250, 5),
        ],
    )
    rows = {r.event_type: r for r in ops.reconstruct_from_deltas(df).collect()}
    assert rows["a"].n_mismatch == 0 and rows["a"].n_rows == 3
    assert rows["b"].n_mismatch == 0


def test_interpolated_total_pro_rata_boundaries(spark):
    # Reference head/tail interpolation (code/etsdQuery.c:254,279):
    # partial coverage of an interval contributes proportionally.
    # Buckets of 60 s; values land one per bucket; query covers the
    # second half of bucket0 and the first half of bucket1.
    df = _series(
        spark,
        [
            ("2026-01-01 00:00:10", "a", 60, 1),   # bucket 00:00
            ("2026-01-01 00:01:10", "a", 120, 2),  # bucket 01:00
        ],
    )
    r = ops.interpolated_total(
        df, "2026-01-01 00:00:30", "2026-01-01 00:01:30", interval_s=60
    ).collect()[0]
    # bucket0 overlap 30/60 -> 30; bucket1 overlap 30/60 -> 60; total 90
    assert r.interp_total == 90.0


def test_interpolated_total_subsecond_boundaries(spark):
    # Boundaries not aligned to whole seconds keep their fractional
    # pro-rata weight (regression: overlap was truncated to bigint
    # seconds, dropping the sub-second head/tail contribution).
    df = _series(
        spark,
        [
            ("2026-01-01 00:00:10", "a", 60, 1),  # bucket 00:00, tot 60
        ],
    )
    r = ops.interpolated_total(
        df,
        "2026-01-01 00:00:30.500000",
        "2026-01-01 00:01:00",
        interval_s=60,
    ).collect()[0]
    # overlap = 29.5 s of the 60 s bucket -> 60 * 29.5/60 = 29.5
    assert r.interp_total == 29.5


def test_downsample_last_deterministic_on_ts_ties(spark):
    df = _series(
        spark,
        [
            ("2026-01-01 00:00:10", "a", 1, 1),
            ("2026-01-01 00:00:10", "a", 2, 2),  # same ts, higher seq wins
        ],
    )
    r = ops.downsample(df, 60, how="last").collect()[0]
    assert r.last_value == 2.0


def test_etsd_ks_composite_members(spark):
    df = _series(
        spark,
        [
            ("2026-01-01 00:00:01", "a", 5, 1),
            ("2026-01-01 00:00:02", "a", 15, 2),
            ("2026-01-01 00:00:03", "a", 10, 3),
            ("2026-01-01 00:00:04", "a", None, 4),
        ],
    )
    r = ops.etsd_ks(df, 10.0, "2026-01-01 00:00:00", "2026-01-01 00:00:05").collect()[0]
    assert (r.intv_cnt, r.err_cnt) == (4, 1)
    assert (r.n_over, r.n_under, r.n_equal) == (1, 1, 1)
    assert r.avg_when_over == 15.0 and r.avg_when_under == 5.0
    assert (r.min_value, r.max_value) == (5.0, 15.0)
    assert float(r.total_value) == 30.0


# ------------------------------------------------- sampling/sharding


def test_hash_sample_invariant_under_repartition(spark):
    """Membership is a pure function of the key: the selected set must
    be identical regardless of physical layout (the property that
    distinguishes hash sampling from seeded df.sample())."""
    from etsd_time_series_database_spark.operators.sampling import hash_sample

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = sorted(r.doc_id for r in hash_sample(df, 250, key="doc_id").collect())
    b = sorted(
        r.doc_id
        for r in hash_sample(df.repartition(13), 250, key="doc_id").collect()
    )
    assert a == b and 0 < len(a) < 2000


def test_stratified_sample_caps_each_stratum(spark):
    from pyspark.sql import functions as F

    from etsd_time_series_database_spark.operators.sampling import (
        stratified_sample,
    )

    df = (
        spark.range(0, 300)
        .withColumnRenamed("id", "doc_id")
        .withColumn("source", (F.col("doc_id") % 3).cast("string"))
    )
    out = stratified_sample(df, 7, stratum="source", key="doc_id")
    counts = {r.source: r.n for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts == {"0": 7, "1": 7, "2": 7}
    # deterministic: same subset on re-run
    again = stratified_sample(df, 7, stratum="source", key="doc_id")
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id for r in again.collect()
    )


def test_shard_assign_partitions_completely(spark):
    from pyspark.sql import functions as F

    from etsd_time_series_database_spark.operators.sampling import shard_assign

    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    out = shard_assign(df, 8, key="doc_id")
    assert out.count() == 1000
    shards = [r.shard for r in out.select("shard").distinct().collect()]
    assert sorted(shards) == list(range(8))


def test_xxhash64_mode_respects_rate_and_shard_range(spark):
    """xxhash64 returns signed hashes; residues must go through pmod or
    ~half of all rows get negative h%1000 (always kept) and negative
    shard ids. Regression for the signed-% bug."""
    from etsd_time_series_database_spark.operators.sampling import (
        hash_sample,
        shard_assign,
    )

    df = spark.range(0, 20000).withColumnRenamed("id", "doc_id")
    kept = hash_sample(df, 100, key="doc_id", hash_mode="xxhash64").count()
    # a correct 10% sample of 20k keys; the signed-% bug yields ~55%
    assert 1600 < kept < 2400, kept
    shards = [
        r.shard
        for r in shard_assign(df, 8, key="doc_id", hash_mode="xxhash64")
        .select("shard")
        .distinct()
        .collect()
    ]
    assert sorted(shards) == list(range(8))


def test_lcg_hash_safe_for_huge_keys(spark):
    """The LCG reduces the key mod 2^31 before multiplying, so keys far
    above 2^33 (where key*1103515245 would overflow INT64) still hash
    without wrap-around; membership matches the reduced key's."""
    import duckdb

    from etsd_time_series_database_spark.operators.sampling import hash_sample

    from etsd_time_series_database_spark.plans.pipeline import _DUCK_H

    big = [2**62 + 7, 2**63 - 1, 2**40, 123, 0]
    df = spark.createDataFrame([(k,) for k in big], "doc_id long")
    got = sorted(r.doc_id for r in hash_sample(df, 500, key="doc_id").collect())
    con = duckdb.connect()
    keys = ", ".join(f"({k})" for k in big)
    want = sorted(
        r[0]
        for r in con.execute(
            f"SELECT doc_id FROM (VALUES {keys}) t(doc_id) "
            f"WHERE {_DUCK_H} % 1000 < 500"
        ).fetchall()
    )
    assert got == want


def test_lcg_hash_matches_oracle_for_negative_keys(spark):
    """Spark key_hash uses pmod throughout; the DuckDB oracle _DUCK_H
    must mirror it (((x % m) + m) % m) so NEGATIVE keys — where
    DuckDB's sign-preserving % would diverge — hash identically and
    cross-engine sample membership agrees."""
    import duckdb

    from etsd_time_series_database_spark.operators.sampling import (
        hash_sample,
        key_hash,
    )
    from etsd_time_series_database_spark.plans.pipeline import _DUCK_H

    keys = [-1, -123, -(2**31), -(2**62 + 7), -(2**63), 42, 0]
    df = spark.createDataFrame([(k,) for k in keys], "doc_id long")
    vals = ", ".join(f"({k})" for k in keys)
    con = duckdb.connect()
    want_h = dict(
        con.execute(
            f"SELECT doc_id, {_DUCK_H} FROM (VALUES {vals}) t(doc_id)"
        ).fetchall()
    )
    got_h = {
        r.doc_id: r.h
        for r in df.select("doc_id", key_hash("doc_id").alias("h")).collect()
    }
    assert got_h == want_h
    got = sorted(r.doc_id for r in hash_sample(df, 500, key="doc_id").collect())
    want = sorted(
        r[0]
        for r in con.execute(
            f"SELECT doc_id FROM (VALUES {vals}) t(doc_id) "
            f"WHERE {_DUCK_H} % 1000 < 500"
        ).fetchall()
    )
    assert got == want


def test_segment_dedup_flags_repeated_spans(spark):
    """A span repeated across docs is removed; unique spans are kept;
    the partial tail segment counts with its true length."""
    from etsd_time_series_database_spark.operators.dedup import segment_dedup

    boiler = "b1 b2 b3 b4"  # one 4-token segment, shared by docs 0 and 1
    rows = [
        (0, boiler + " u1 u2 u3 u4 tail"),   # 2 full segs + 1-token tail
        (1, boiler + " v1 v2 v3 v4"),        # 2 full segs
        (2, "w1 w2 w3 w4 w5"),               # unique: 1 full + 1-token tail
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: r
        for r in segment_dedup(df, seg_tokens=4, max_docs=1).collect()
    }
    # doc 0: segments [boiler, u1-4, tail]; boiler removed
    assert out[0].n_segments == 3
    assert out[0].removed_segments == 1
    assert out[0].kept_tokens == 5  # u1-4 + tail
    # doc 1: [boiler, v1-4]
    assert out[1].removed_segments == 1 and out[1].kept_tokens == 4
    # doc 2: nothing repeated
    assert out[2].removed_segments == 0 and out[2].kept_tokens == 5


def test_segment_rewrite_roundtrip_and_removal(spark):
    from etsd_time_series_database_spark.operators.dedup import segment_rewrite

    boiler = "b1 b2 b3 b4"
    rows = [
        (0, boiler + " u1 u2 u3 u4 tail"),
        (1, boiler + " v1 v2 v3 v4"),
        (2, "w1 w2 w3 w4 w5"),
        (3, boiler),          # all boilerplate -> empty
        (4, ""),              # token-empty -> empty, key preserved
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: r
        for r in segment_rewrite(df, seg_tokens=4, max_docs=1).collect()
    }
    assert set(out) == {0, 1, 2, 3, 4}          # keys mirror input
    assert out[0].clean_text == "u1 u2 u3 u4 tail"
    assert out[1].clean_text == "v1 v2 v3 v4"
    assert out[2].clean_text == "w1 w2 w3 w4 w5"  # untouched roundtrip
    assert out[3].clean_text == "" and out[3].kept_tokens == 0
    assert out[4].clean_text == "" and out[4].kept_tokens == 0


def test_ngram_novelty_first_occurrence_attribution(spark):
    """doc0 owns both its 3-grams; doc1 shares 'a b c' with doc0 so only
    'b c x' is novel; a 2-token doc has no grams (NULL novelty). The
    fingerprint path must equal the raw-string oracle form."""
    from etsd_time_series_database_spark.operators.textstats import ngram_novelty

    df = spark.createDataFrame(
        [(0, "a b c d"), (1, "a b c x"), (2, "a b")],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in ngram_novelty(df, n=3).collect()}
    assert (rows[0].n_ngrams, rows[0].n_novel, rows[0].novelty) == (2, 2, 1.0)
    assert (rows[1].n_ngrams, rows[1].n_novel, rows[1].novelty) == (2, 1, 0.5)
    assert (rows[2].n_ngrams, rows[2].n_novel, rows[2].novelty) == (0, 0, None)
    raw = sorted(map(tuple, ngram_novelty(df, n=3, fingerprint=False).collect()))
    assert sorted(map(tuple, ngram_novelty(df, n=3).collect())) == raw


def test_weighted_sample_bounds_and_monotonicity(spark):
    """weight 0 keeps nothing, weight 1000 keeps everything, and the
    kept set grows monotonically with weight (nested thresholds on the
    same hash); constant weight w == hash_sample(w)."""
    from pyspark.sql import functions as F

    from etsd_time_series_database_spark.operators.sampling import (
        hash_sample,
        weighted_sample,
    )

    df = spark.range(500).select(F.col("id").alias("doc_id"))
    assert weighted_sample(df, F.lit(0)).count() == 0
    assert weighted_sample(df, F.lit(1000)).count() == 500
    # clamps: out-of-range weights behave like the clamped bound
    assert weighted_sample(df, F.lit(99999)).count() == 500
    assert weighted_sample(df, F.lit(-5)).count() == 0
    k300 = {r.doc_id for r in weighted_sample(df, F.lit(300)).collect()}
    k700 = {r.doc_id for r in weighted_sample(df, F.lit(700)).collect()}
    assert k300 <= k700
    assert k300 == {r.doc_id for r in hash_sample(df, 300).collect()}


def test_source_token_topk_ranks_within_source(spark):
    from etsd_time_series_database_spark.operators.textstats import (
        source_token_topk,
    )

    df = spark.createDataFrame(
        [
            (0, "x x x y y z", "s0"),
            (1, "y", "s0"),
            (2, "q q p", "s1"),
        ],
        "doc_id bigint, text string, source string",
    )
    got = [
        (r.source, r.rnk, r.token, r.term_freq)
        for r in source_token_topk(df, k=2).collect()
    ]
    # s0: x=3, y=3 -> tie broken lexicographically (x before y)
    assert got == [
        ("s0", 1, "x", 3),
        ("s0", 2, "y", 3),
        ("s1", 1, "q", 2),
        ("s1", 2, "p", 1),
    ]


def test_cluster_reduction_partitions_corpus(spark):
    """Components partition the corpus: singletons are their own
    component, token columns sum to corpus totals, canonical doc's
    tokens are the kept side."""
    from etsd_time_series_database_spark.operators.dedup import (
        cluster_reduction,
    )

    docs = spark.createDataFrame(
        [
            (0, "a a a"),        # pairs with 1 -> component 0
            (1, "a a a a"),
            (2, "b"),            # singleton
            (3, "c c"),          # singleton
        ],
        "doc_id bigint, text string",
    )
    pairs = spark.createDataFrame([(0, 1)], "doc_a bigint, doc_b bigint")
    got = {r.component: r for r in cluster_reduction(docs, pairs).collect()}
    assert set(got) == {0, 2, 3}
    c0 = got[0]
    assert (c0.n_docs, c0.n_dup_docs) == (2, 1)
    assert (c0.total_tokens, c0.kept_tokens, c0.saved_tokens) == (7, 3, 4)
    assert (got[2].n_docs, got[2].saved_tokens) == (1, 0)
    total = sum(r.total_tokens for r in got.values())
    assert total == 3 + 4 + 1 + 2


def test_split_assign_boundaries_and_stability(spark):
    """Exact boundary semantics (h<980 train, h<990 val, else test),
    custom shares, and the append-stability property: adding rows never
    moves an existing row's split."""
    from pyspark.sql import functions as F

    from etsd_time_series_database_spark.operators.sampling import (
        key_hash,
        split_assign,
    )

    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    rows = split_assign(df).select(
        "doc_id", F.pmod(key_hash("doc_id"), F.lit(1000)).alias("h"), "split"
    ).collect()
    for r in rows:
        want = "train" if r.h < 980 else ("val" if r.h < 990 else "test")
        assert r.split == want, (r.doc_id, r.h, r.split)
    small = {r.doc_id: r.split for r in split_assign(df.limit(500)).collect()}
    big = {r.doc_id: r.split for r in split_assign(df).collect()}
    assert all(big[k] == v for k, v in small.items())


def test_leakage_safe_split_keeps_duplicates_together(spark):
    from etsd_time_series_database_spark.operators.sampling import (
        leakage_safe_split,
    )

    df = spark.createDataFrame(
        [(i, f"unique text {i}") for i in range(50)]
        + [(100 + i, "the same document") for i in range(50)],
        "doc_id bigint, text string",
    )
    out = leakage_safe_split(df, (500, 300, 200)).collect()
    dup_splits = {r.split for r in out if r.text == "the same document"}
    assert len(dup_splits) == 1
    canon = {r.canonical_id for r in out if r.text == "the same document"}
    assert canon == {100}


def test_raw1_decode_roundtrip_and_validation(spark):
    """RAW1 is a REAL decode: encode->decode is the identity, corrupt
    magic and truncated payloads raise, and the featurizer's thumbnail
    means are exact integer arithmetic."""
    import numpy as np
    import pytest as _pytest

    from etsd_time_series_database_spark.operators.multimodal import (
        decode_raw_image,
        encode_raw_image,
        image_features,
        resize_nearest,
        synth_raw_images,
    )

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(11, 9, 3), dtype=np.uint8)
    assert (decode_raw_image(encode_raw_image(img)) == img).all()
    with _pytest.raises(ValueError, match="bad magic"):
        decode_raw_image(b"JUNK" + bytes(40))
    with _pytest.raises(ValueError, match="pixel bytes"):
        decode_raw_image(encode_raw_image(img)[:-5])
    # nearest-neighbor: upscaling a 1x2 image duplicates columns
    tiny = np.array([[[1, 2, 3], [4, 5, 6]]], dtype=np.uint8)
    up = resize_nearest(tiny, 2, 4)
    assert up.tolist()[0] == [[1, 2, 3], [1, 2, 3], [4, 5, 6], [4, 5, 6]]

    df = spark.range(5).withColumnRenamed("id", "doc_id")
    out = {r.doc_id: r for r in image_features(synth_raw_images(df)).collect()}
    assert set(out) == set(range(5))
    r0 = out[0]
    # doc 0: 8x8 image, pixel = (3y + 5x + 11c) % 256 on the 4x4 thumb
    ys = [(y * 8) // 4 for y in range(4)]
    xs = [(x * 8) // 4 for x in range(4)]
    want_r = sum((3 * y + 5 * x) % 256 for y in ys for x in xs) / 16
    assert r0.mean_r == want_r and r0.height == 8 and r0.width == 8


def test_pcm1_decode_roundtrip_and_features(spark):
    import numpy as np
    import pytest as _pytest

    from etsd_time_series_database_spark.operators.multimodal import (
        audio_features,
        decode_raw_audio,
        encode_raw_audio,
        synth_raw_audio,
    )

    wave = np.array([100, -50, 0, 7, -7], dtype=np.int16)
    dec, rate = decode_raw_audio(encode_raw_audio(wave, rate=8000))
    assert dec.tolist() == wave.tolist() and rate == 8000
    with _pytest.raises(ValueError, match="bad magic"):
        decode_raw_audio(b"XXXX" + bytes(10))
    with _pytest.raises(ValueError, match="sample bytes"):
        decode_raw_audio(encode_raw_audio(wave)[:-1])

    df = spark.range(3).withColumnRenamed("id", "doc_id")
    out = {r.doc_id: r for r in audio_features(synth_raw_audio(df)).collect()}
    r0 = out[0]
    wave0 = [((0 * 13 + i * 7) % 4001) - 2000 for i in range(50)]
    assert r0.n_samples == 50
    assert r0.peak == max(abs(x) for x in wave0)
    assert r0.mean_sq == sum(x * x for x in wave0) / 50
    assert r0.zero_crossings == sum(
        1 for a, b in zip(wave0, wave0[1:]) if a * b < 0
    )


def test_dsir_weights_rank_target_like_docs_higher(spark):
    from etsd_time_series_database_spark.operators.textstats import dsir_weights

    # target domain speaks "alpha beta"; raw domain speaks "gamma
    # delta" — a raw doc written in the target's vocabulary must score
    # above raw docs that aren't
    rows = [
        (1, "alpha beta alpha beta alpha", "tgt"),
        (2, "beta alpha beta alpha beta", "tgt"),
        (3, "alpha beta alpha alpha beta", "raw"),   # target-like raw doc
        (4, "gamma delta gamma delta gamma", "raw"),
        (5, "delta gamma delta delta gamma", "raw"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    # the ranking semantics hold under BOTH bucket hashes: the
    # codegen'd scale default and the oracle-portable fingerprint
    for mode in ("hash64", "poly"):
        out = {
            r.doc_id: r
            for r in dsir_weights(
                df, target_source="tgt", n_buckets=64, hash_mode=mode
            ).collect()
        }
        assert set(out) == {1, 2, 3, 4, 5}
        assert out[1].is_target and not out[3].is_target
        # the target-like raw doc outranks both off-domain raw docs
        assert out[3].dsir_ppm > out[4].dsir_ppm
        assert out[3].dsir_ppm > out[5].dsir_ppm
        # off-domain docs score negative (their buckets are raw-heavy)
        assert out[4].dsir_ppm < 0 and out[5].dsir_ppm < 0


def test_dsir_weights_drops_empty_docs(spark):
    from etsd_time_series_database_spark.operators.textstats import dsir_weights

    rows = [(1, "alpha beta", "tgt"), (2, "", "raw"), (3, "gamma", "raw")]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = dsir_weights(df, target_source="tgt", n_buckets=64).collect()
    assert [r.doc_id for r in out] == [1, 3]


def test_source_overlap_counts_shared_shingles(spark):
    from etsd_time_series_database_spark.operators.dedup import source_overlap

    rows = [
        (1, "a b c d", "s1"),        # shingles: "a b c", "b c d"
        (2, "a b c x", "s2"),        # shares "a b c" with s1
        (3, "p q r s", "s3"),        # disjoint from everything
        (4, "b c d e", "s2"),        # s2 also gets "b c d", "c d e"
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {(r.source_a, r.source_b): r for r in source_overlap(df).collect()}
    # s1 = {abc, bcd}; s2 = {abc, abx?, ...}: doc2 -> {"a b c","b c x"},
    # doc4 -> {"b c d","c d e"}; s2 = 4 shingles; shared s1∩s2 = {abc, bcd}
    assert set(out) == {("s1", "s2")}
    r = out[("s1", "s2")]
    assert r.n_shared == 2
    assert abs(r.jaccard - 2 / (2 + 4 - 2)) < 1e-9


def test_corpus_datacard_signals(spark):
    from etsd_time_series_database_spark.operators.textstats import (
        corpus_datacard,
    )

    rows = [
        # s1: two English docs (stopword-rich), one exact dup pair
        (1, "the cat sat on the mat and the dog", "s1"),
        (2, "the cat sat on the mat and the dog", "s1"),
        # s2: one non-English doc
        (3, "xyzzy plugh quux foo bar", "s2"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {r.source: r for r in corpus_datacard(df).collect()}
    s1, s2 = out["s1"], out["s2"]
    assert s1.n_docs == 2 and s1.total_tokens == 18
    assert abs(s1.english_frac - 1.0) < 1e-9
    assert abs(s1.dup_rate - 0.5) < 1e-9     # 2 docs, 1 distinct text
    assert s2.english_frac == 0.0 and s2.dup_rate == 0.0
    assert 0.0 < s2.mean_quality <= 1.0


def test_keep_best_canonical_prefers_quality_over_id(spark):
    from etsd_time_series_database_spark.operators.dedup import (
        keep_best_canonical,
    )

    # cluster {1,2,3}: doc 3 has the richest text -> kept despite the
    # highest id; singleton 9 survives as its own component
    docs = spark.createDataFrame(
        [
            (1, "a a a a"),
            (2, "a b a b"),
            (3, "a b c d e f g h"),
            (9, "z z y y"),
        ],
        ["doc_id", "text"],
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["doc_a", "doc_b"])
    out = {r.component: r for r in keep_best_canonical(docs, pairs).collect()}
    assert set(out) == {1, 9}
    assert out[1].best_doc == 3 and out[1].n_members == 3
    assert out[9].best_doc == 9 and out[9].n_members == 1
    assert out[1].best_quality > out[9].best_quality


def test_normalize_dedup_lift_counts(spark):
    from etsd_time_series_database_spark.operators.textstats import (
        normalize_dedup_lift,
    )

    docs = spark.createDataFrame(
        [
            (1, "Hello  World"),
            (2, "hello world"),        # dup of 1 only after normalization
            (3, " hello world "),      # also collapses to the same
            (4, "other doc"),
            (5, "other doc"),          # raw exact dup of 4
        ],
        ["doc_id", "text"],
    )
    r = normalize_dedup_lift(docs).collect()[0]
    assert r.n_docs == 5
    assert r.n_changed == 2            # docs 1 and 3; 2/4/5 already clean
    # raw: 4 distinct (1,2,3 differ; 4==5); norm: 2 distinct
    assert (r.distinct_raw, r.distinct_norm) == (4, 2)
    assert r.extra_dups_found == 2


def test_longest_gaps_ranks_and_endpoints(spark):
    from etsd_time_series_database_spark.operators.range_stats import (
        longest_gaps,
    )

    df = _series(
        spark,
        [
            ("2026-01-01 00:00:00", "a", 1, 1),
            ("2026-01-01 00:00:10", "a", 1, 2),   # 10 s gap
            ("2026-01-01 00:01:00", "a", 1, 3),   # 50 s gap  (rank 1)
            ("2026-01-01 00:01:30", "a", 1, 4),   # 30 s gap  (rank 2)
        ],
    )
    out = longest_gaps(df, k=2).collect()
    assert [(r.rank, r.gap_us // 1_000_000) for r in out] == [(1, 50), (2, 30)]
    assert out[0].gap_end_us - out[0].gap_start_us == out[0].gap_us


def test_corpus_diff_counts(spark):
    from etsd_time_series_database_spark.operators.textstats import corpus_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "c2"), (4, "d")], ["doc_id", "text"]
    )
    r = corpus_diff(old, new).collect()[0]
    assert (r.n_old, r.n_new) == (3, 3)
    assert (r.n_added, r.n_removed, r.n_changed, r.n_unchanged) == (1, 1, 1, 1)


def test_source_style_distance_disjoint_and_identical(spark):
    from etsd_time_series_database_spark.operators.textstats import (
        source_style_distance,
    )

    rows = [
        (1, "aa bb aa bb", "s1"),
        (2, "bb aa bb aa", "s2"),     # identical distribution to s1
        (3, "xx yy xx yy", "s3"),     # disjoint vocabulary
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    # large bucket count so the 4 distinct tokens cannot collide in
    # bucket space (TV is computed over hashed buckets by design —
    # collisions only ever UNDERSTATE distance)
    for mode in ("hash64", "poly"):
        out = {
            (r.source_a, r.source_b): r.tv_distance
            for r in source_style_distance(
                df, n_buckets=1 << 20, hash_mode=mode
            ).collect()
        }
        assert out[("s1", "s2")] == 0.0
        assert out[("s1", "s3")] == 1.0
        assert out[("s2", "s3")] == 1.0


def test_eval_slice_balanced_and_deterministic(spark):
    from etsd_time_series_database_spark.operators.sampling import eval_slice

    rows = []
    did = 0
    for s in ("s1", "s2"):
        for j in range(10):
            # long, token-rich docs land in the top band; short ones low
            body = " ".join(f"w{s}{j}t{t}" for t in range(120 if j < 5 else 3))
            rows.append((did, body, s))
            did += 1
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = eval_slice(df, k=2, n_bands=4).collect()
    # at most k rows per (source, band); both sources represented
    from collections import Counter

    c = Counter((r.src, r.band) for r in out)
    assert all(v <= 2 for v in c.values())
    assert {r.src for r in out} == {"s1", "s2"}
    # deterministic: same input, same slice
    again = eval_slice(df, k=2, n_bands=4).collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in again]


def test_alarm_episodes_islands_and_argmax(spark):
    from etsd_time_series_database_spark.operators.range_stats import (
        alarm_episodes,
    )

    df = _series(
        spark,
        [
            ("2026-01-01 00:00:00", "a", 5, 1),
            ("2026-01-01 00:00:10", "a", 50, 2),   # ep1: 2 samples, 10 s
            ("2026-01-01 00:00:20", "a", 60, 3),
            ("2026-01-01 00:00:30", "a", 5, 4),
            ("2026-01-01 00:01:00", "a", 70, 5),   # ep2: 3 samples, 20 s
            ("2026-01-01 00:01:10", "a", 80, 6),
            ("2026-01-01 00:01:20", "a", 90, 7),
            ("2026-01-01 00:02:00", "b", 1, 8),    # never above
        ],
    )
    out = {r.event_type: r for r in alarm_episodes(df, 20.0).collect()}
    assert set(out) == {"a"}          # channels with no episode drop out
    a = out["a"]
    assert a.n_episodes == 2
    assert a.longest_span_us == 20 * 1_000_000
    assert a.longest_n_samples == 3
    from datetime import datetime, timezone

    assert a.longest_start_us == int(
        datetime(2026, 1, 1, 0, 1, tzinfo=timezone.utc).timestamp() * 1e6
    )


def test_keep_best_canonical_quality_dominates_13_digit_ids(spark):
    """Round-7 ADVICE regression: the packed (quality, -id) argmax
    must preserve quality dominance across the FULL allowed 13-digit
    id range. The old 10^13 shift only cleared id spreads < 10^7, so
    a better doc with a much larger id packed below a worse doc."""
    from etsd_time_series_database_spark.operators.dedup import (
        keep_best_canonical,
    )

    big = 9_000_000_000_000  # 13-digit id, spread >> 10^7
    docs = spark.createDataFrame(
        [
            (1, "a a a a"),                  # low quality, tiny id
            (big, "a b c d e f g h"),        # high quality, huge id
        ],
        ["doc_id", "text"],
    )
    pairs = spark.createDataFrame([(1, big)], ["doc_a", "doc_b"])
    out = keep_best_canonical(docs, pairs).collect()
    assert len(out) == 1
    assert out[0].best_doc == big
    assert out[0].n_members == 2


def test_pq_n_cents_guard(spark):
    """pq_topk / write_pq_codes enforce n_cents < 10^7 (the packed
    argmin's contract) instead of silently mis-ordering."""
    import pytest as _pytest

    from etsd_time_series_database_spark.operators.similarity import (
        pq_topk,
        write_pq_codes,
    )

    df = spark.range(1).selectExpr("id AS vec_id")
    with _pytest.raises(ValueError, match="n_cents"):
        pq_topk(df, n_cents=10**7)
    with _pytest.raises(ValueError, match="n_cents"):
        write_pq_codes(df, "/tmp/unused", n_cents=0)


def test_longest_gaps_scalable_matches_plain(spark):
    """Round-7: the stitched default must equal the plain per-channel
    window, including gaps that SPAN a bucket boundary (bucket_s=60
    forces the lag of a bucket's first row through the boundary
    table)."""
    from etsd_time_series_database_spark.operators.range_stats import (
        longest_gaps,
    )

    rows = []
    sq = 0
    for ch in ("a", "b"):
        for m, s in [(0, 0), (0, 10), (1, 5), (2, 30), (2, 31), (5, 0)]:
            sq += 1
            rows.append((f"2026-01-01 00:0{m}:{s:02d}", ch, sq, sq))
    df = _series(spark, rows)
    with channel_global():
        plain = longest_gaps(df, k=3).collect()
    stitched = longest_gaps(df, k=3, bucket_s=60).collect()
    assert [tuple(r) for r in stitched] == [tuple(r) for r in plain]
    assert len(plain) == 6  # 3 per channel


def test_alarm_episodes_scalable_matches_plain(spark):
    """Round-7: the prefix-sum island id must equal the two-row_number
    form, including an episode RUNNING ACROSS a bucket boundary (the
    cross-bucket run must stay ONE island: its not-above prefix count
    is stitched through the offset table)."""
    from etsd_time_series_database_spark.operators.range_stats import (
        alarm_episodes,
    )

    rows = [
        ("2026-01-01 00:00:50", "a", 30, 1),   # ep1 starts in bucket 0
        ("2026-01-01 00:01:05", "a", 40, 2),   # ...continues in bucket 1
        ("2026-01-01 00:01:10", "a", 5, 3),
        ("2026-01-01 00:01:20", "a", 50, 4),   # ep2 spans buckets 1-3
        ("2026-01-01 00:02:10", "a", 60, 5),
        ("2026-01-01 00:03:05", "a", 70, 6),
        ("2026-01-01 00:00:00", "b", 1, 7),    # never above
        ("2026-01-01 00:04:00", "b", 99, 8),   # one episode
    ]
    df = _series(spark, rows)
    with channel_global():
        plain = alarm_episodes(df, 20.0).collect()
    stitched = alarm_episodes(df, 20.0, bucket_s=60).collect()
    assert [tuple(r) for r in stitched] == [tuple(r) for r in plain]
    a = {r.event_type: r for r in stitched}["a"]
    assert a.n_episodes == 2
    assert a.longest_span_us == 105 * 1_000_000  # the cross-bucket ep2


def test_alarm_coverage_merges_overlaps(spark):
    """q57: overlapping episodes across channels must merge (no
    double-count), touching endpoints merge, disjoint ones don't."""
    from etsd_time_series_database_spark.operators.range_stats import (
        alarm_coverage,
    )

    rows = [
        # a: alarm 00:10-00:30
        ("2026-01-01 00:10:00", "a", 99, 1),
        ("2026-01-01 00:30:00", "a", 99, 2),
        # b: alarm 00:20-00:40 (overlaps a's) and 01:00-01:05 (disjoint)
        ("2026-01-01 00:20:00", "b", 99, 3),
        ("2026-01-01 00:40:00", "b", 99, 4),
        ("2026-01-01 00:50:00", "b", 1, 5),    # below: splits b's episodes
        ("2026-01-01 01:00:00", "b", 99, 6),
        ("2026-01-01 01:05:00", "b", 99, 7),
    ]
    df = _series(spark, rows)
    r = alarm_coverage(df, 20.0).collect()[0]
    assert r.n_episodes == 3
    assert r.n_intervals == 2          # [00:10,00:40] and [01:00,01:05]
    assert r.covered_us == (30 + 5) * 60 * 1_000_000
    assert r.longest_interval_us == 30 * 60 * 1_000_000
    # stitched and channel-global island construction agree
    with channel_global():
        r2 = alarm_coverage(df, 20.0).collect()[0]
    assert tuple(r) == tuple(r2)


def test_alarm_coverage_bucket_stitch_equivalence(spark):
    """q57 stitched union == plain global union on the corner cases
    the split-at-boundary design must survive: an interval chain
    crossing MANY buckets (full-span middle buckets), episodes whose
    endpoints land EXACTLY on a bucket boundary (touch-merge across
    the cut), point episodes (span 0) sitting exactly on a boundary,
    and chatter (many single-sample episodes in one bucket)."""
    from etsd_time_series_database_spark.operators.range_stats import (
        alarm_coverage,
    )

    rows = [
        # one long episode 00:00:30 - 00:05:30 (crosses 5 one-minute
        # boundaries; middle buckets are full-span after splitting)
        ("2026-01-01 00:00:30", "a", 99, 1),
        ("2026-01-01 00:05:30", "a", 99, 2),
        # b's episode ends EXACTLY on the 00:07:00 boundary...
        ("2026-01-01 00:06:30", "b", 99, 3),
        ("2026-01-01 00:07:00", "b", 99, 4),
        # ...and c's starts EXACTLY there: they must touch-merge
        ("2026-01-01 00:07:00", "c", 99, 5),
        ("2026-01-01 00:07:20", "c", 99, 6),
        # a point episode (single sample) exactly on a boundary,
        # disjoint from everything
        ("2026-01-01 00:10:00", "a", 99, 7),
        ("2026-01-01 00:10:30", "a", 1, 8),
        # chatter: alternating above/below inside one bucket
        ("2026-01-01 00:12:01", "b", 99, 9),
        ("2026-01-01 00:12:02", "b", 1, 10),
        ("2026-01-01 00:12:03", "b", 99, 11),
        ("2026-01-01 00:12:04", "b", 1, 12),
        ("2026-01-01 00:12:05", "b", 99, 13),
    ]
    df = _series(spark, rows)
    with channel_global():
        plain = alarm_coverage(df, 20.0).collect()[0]
    for bucket_s in (60, 30, 7):
        st = alarm_coverage(df, 20.0, bucket_s=bucket_s).collect()[0]
        assert tuple(st) == tuple(plain), f"bucket_s={bucket_s}"
    # sanity of the plain baseline itself: per channel, consecutive
    # above-samples form ONE episode — a: [00:00:30,00:10:00];
    # b: [00:06:30,00:12:01], [00:12:03], [00:12:05]; c: [00:07:00,
    # 00:07:20]. a/b1/c overlap into one merged interval
    # [00:00:30,00:12:01]; the two chatter points stand alone.
    assert plain.n_episodes == 5
    assert plain.n_intervals == 3
    assert plain.covered_us == 691 * 1_000_000


def test_alarm_coverage_equivalence_on_events(spark):
    """q57 stitched == plain on the real events table at a threshold
    low enough to create long overlapping cross-bucket episodes."""
    from etsd_time_series_database_spark.operators.range_stats import (
        alarm_coverage,
    )
    from etsd_time_series_database_spark.sources.store import load_table
    from tests.conftest import SF_SMOKE

    df = load_table(spark, SF_SMOKE, "events")
    with channel_global():
        plain = alarm_coverage(df, 100.0).collect()[0]
    st = alarm_coverage(df, 100.0, bucket_s=3600).collect()[0]
    assert tuple(st) == tuple(plain)


def test_mixture_plan_integer_sizing(spark):
    """x67: the limiting source caps the corpus; takes follow the
    weights; no source is upsampled (rate <= 1)."""
    from pyspark.sql import functions as F

    from etsd_time_series_database_spark.operators.sampling import mixture_plan

    rows = [
        # src1 (weight 2): 100 tokens; src2 (weight 3): 600 tokens
        (1, " ".join(["w"] * 100), "src1"),
        (2, " ".join(["w"] * 600), "src2"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    srcn_w = F.substring(F.col("source"), 4, 10).cast("bigint") % 4 + 1
    out = {r.source: r for r in mixture_plan(df, weight=srcn_w).collect()}
    # W=5; caps: src1 100*5//2=250, src2 600*5//3=1000 -> N*=250
    assert out["src1"].limiting == 1 and out["src2"].limiting == 0
    assert out["src1"].take_tokens == 100   # 2*250//5
    assert out["src2"].take_tokens == 150   # 3*250//5
    assert out["src1"].sampling_rate == 1.0
    assert out["src2"].sampling_rate == 0.25
    # default = natural mix (lit(1)), NOT fixture-name parsing
    out2 = {r.source: r for r in mixture_plan(df).collect()}
    # equal weights: caps 200 / 1200 -> N*=200, takes 100/100
    assert out2["src1"].take_tokens == 100
    assert out2["src2"].take_tokens == 100


def test_mixture_plan_rejects_null_weight(spark):
    """x67 guard: a weight expression that yields NULL for some source
    (e.g. name parsing applied to unexpected names) must raise, not
    silently emit a NULL plan."""
    import pytest
    from pyspark.sql import functions as F

    from etsd_time_series_database_spark.operators.sampling import mixture_plan

    df = spark.createDataFrame(
        [(1, "w w w", "web"), (2, "w w", "books")],
        ["doc_id", "text", "source"],
    )
    # the old fixture-coupled default, applied to non-srcN names
    # (try_cast: NULL instead of an ANSI cast error, so the operator's
    # own guard is what trips)
    bad_w = F.expr("try_cast(substring(source, 4, 10) AS bigint) % 4 + 1")
    with pytest.raises(Exception, match="weight is NULL"):
        mixture_plan(df, weight=bad_w).collect()
    # default (natural mix) still works on any naming
    ok = {r.source: r for r in mixture_plan(df).collect()}
    assert ok["books"].weight == 1 and ok["web"].weight == 1


def test_median_filter_stitched_matches_plain_and_flags_spikes(spark):
    from etsd_time_series_database_spark.operators.trends import median_filter

    rows = []
    sq = 0
    for ch in ("a", "b"):
        for i, v in enumerate([10, 11, 12, 500, 13, 14, 12, 11, 10, 12]):
            sq += 1
            rows.append((f"2026-01-01 00:0{i}:00", ch, v, sq))
    df = _series(spark, rows)
    plain = median_filter(df, k=5, spike_t=100.0, mode="global").collect()
    stitched = median_filter(
        df, k=5, spike_t=100.0, mode="stitched", bucket_s=120
    ).collect()
    assert [tuple(r) for r in stitched] == [tuple(r) for r in plain]
    spikes = [r.event_id for r in plain if r.is_spike]
    assert spikes == [4, 14]           # the 500s in each channel
    # even-count head frame: median of (10, 11) = 10.5
    assert plain[1].roll_med == 10.5


def test_monotone_runs_picks_longest_earliest(spark):
    from etsd_time_series_database_spark.operators.trends import monotone_runs

    rows = [
        # a: 1,2,3 (up n=3, rise 2), 2,1 (down n=3, fall -2), 5 (up n=2)
        ("2026-01-01 00:00:00", "a", 1, 1),
        ("2026-01-01 00:01:00", "a", 2, 2),
        ("2026-01-01 00:02:00", "a", 3, 3),
        ("2026-01-01 00:03:00", "a", 2, 4),
        ("2026-01-01 00:04:00", "a", 1, 5),
        ("2026-01-01 00:05:00", "a", 5, 6),
        # b: flat then one drop — no up run at all
        ("2026-01-01 00:00:00", "b", 7, 7),
        ("2026-01-01 00:01:00", "b", 7, 8),
        ("2026-01-01 00:02:00", "b", 4, 9),
    ]
    df = _series(spark, rows)
    out = {r.event_type: r for r in monotone_runs(df).collect()}
    a = out["a"]
    assert (a.up_n, a.rise) == (3, 2.0)         # first 3-sample climb wins
    assert (a.down_n, a.fall) == (3, -2.0)
    assert a.up_end_us - a.up_start_us == 120 * 1_000_000
    b = out["b"]
    assert b.up_n is None and (b.down_n, b.fall) == (2, -3.0)
    # stitched default == plain global windows, across bucket edges
    with channel_global():
        plain = monotone_runs(df).collect()
    stitched = monotone_runs(df, bucket_s=120).collect()
    assert [tuple(r) for r in stitched] == [tuple(r) for r in plain]


def test_pii_scan_counts_and_engine_parity(spark):
    """x68: counts on PII-bearing text (the catalog table has none),
    and Java-regex vs RE2 parity on the same strings."""
    import duckdb

    from etsd_time_series_database_spark.operators.textstats import pii_scan

    rows = [
        (1, "contact bob@example.com or alice@test.org today"),
        (2, "call 555-123-4567 or 555.987.6543 x9"),
        (3, "ssn 123-45-6789 appears once; 12-345-678 does not match"),
        (4, "clean text with numbers 1234567890 and at@ signs"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in pii_scan(df).collect()}
    assert (out[1].n_email, out[1].has_pii) == (2, 1)
    assert (out[2].n_phone, out[2].has_pii) == (2, 1)
    assert (out[3].n_idnum, out[3].n_phone, out[3].has_pii) == (1, 0, 1)
    assert (out[4].n_email, out[4].n_phone, out[4].n_idnum, out[4].has_pii) == (
        0, 0, 0, 0,
    )
    # engine parity on the same strings via the x68 oracle SQL
    from etsd_time_series_database_spark.plans import catalog

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in rows)
        + ") t(doc_id, text)"
    )
    oracle = con.execute(catalog()["x68_pii_scan"].oracle).fetchall()
    assert sorted(map(tuple, out.values())) == sorted(map(tuple, oracle))


def test_quality_percentile_matches_percent_rank_with_ties(spark):
    """x69: bucketed min-rank == SQL percent_rank, including ties,
    singleton sources (pct 0), and docs in the same bucket."""
    import duckdb

    from etsd_time_series_database_spark.operators.textstats import (
        quality_percentile,
    )

    rows = []
    did = 0
    for s, lens in [("s1", [5, 5, 20, 80, 200]), ("s2", [50])]:
        for n in lens:
            did += 1
            rows.append((did, " ".join(f"w{i%7}" for i in range(n)), s))
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = quality_percentile(df, n_buckets=10).collect()  # coarse buckets
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}', '{s}')" for i, t, s in rows)
        + ") t(doc_id, text, source)"
    )
    oracle = con.execute("""
      WITH t AS (
        SELECT doc_id, source,
               round(0.5 * (len(list_distinct(list_filter(string_split(text, ' '), x -> x != '')))
                     / len(list_filter(string_split(text, ' '), x -> x != '')))
                     + 0.5 * least(1.0, len(list_filter(string_split(text, ' '), x -> x != '')) / 100.0), 6) AS quality
        FROM d
      )
      SELECT doc_id, source, quality,
             round(percent_rank() OVER (PARTITION BY source ORDER BY quality), 6) AS quality_pct
      FROM t ORDER BY doc_id
    """).fetchall()
    assert sorted(map(tuple, out)) == sorted(map(tuple, oracle))
    # ties (the two 5-token docs, quality 0.525) share the min rank
    pct = {r.doc_id: r.quality_pct for r in out}
    assert pct[1] == pct[2] == 0.75
    assert pct[3] == 0.0  # lowest quality in s1
    assert pct[6] == 0.0  # singleton source


def test_sax_symbols_breakpoints_and_constant_channel(spark):
    """q60: PAA + z-normalized 4-symbol binning vs the DuckDB oracle
    shape; a constant channel symbolizes as 'c' (z=0), not a
    divide-by-zero."""
    from datetime import datetime, timezone

    from etsd_time_series_database_spark.operators.trends import sax_symbols

    def t(s):
        return datetime(2024, 1, 1, tzinfo=timezone.utc).replace(
            hour=s // 3600, minute=(s % 3600) // 60
        )

    rows = []
    # channel "a": bucket means 0, 10, 20, 30 over 4 one-hour buckets
    for i, m in enumerate([0.0, 10.0, 20.0, 30.0]):
        rows.append((f"e{2*i}", "a", t(i * 3600), m - 1.0))
        rows.append((f"e{2*i+1}", "a", t(i * 3600 + 60), m + 1.0))
    # channel "b": constant
    rows.append(("c1", "b", t(0), 5.0))
    rows.append(("c2", "b", t(3600), 5.0))
    df = spark.createDataFrame(
        rows, ["event_id", "event_type", "ts", "value"]
    )
    out = {(r.event_type, r.bucket_us): r for r in sax_symbols(df).collect()}
    base = 1_704_067_200 * 1_000_000  # 2024-01-01 UTC
    syms = [
        out[("a", base + b * 3600 * 1_000_000)].symbol for b in range(4)
    ]
    # mean 15, std ~11.2: z = (-1.34, -0.45, 0.45, 1.34)
    assert syms == ["a", "b", "c", "d"]
    b0 = out[("a", base)]
    assert b0.paa == 0.0 and b0.n_samples == 2
    assert [r.symbol for k, r in out.items() if k[0] == "b"] == ["c", "c"]


def test_bigram_surprisal_matches_duckdb_and_edge_docs(spark):
    """x70: conditional rarity vs a string-keyed DuckDB oracle;
    0/1-token docs survive with zero counts and NULL scores."""
    import duckdb

    from etsd_time_series_database_spark.operators.textstats import (
        bigram_surprisal,
    )

    rows = [
        (1, "the cat sat"),          # bigrams: (the,cat) (cat,sat)
        (2, "the cat ran"),          # (the,cat) (cat,ran)
        (3, "the dog sat"),          # (the,dog) (dog,sat)
        (4, "cat"),                  # 1 token -> no bigrams
        (5, ""),                     # empty
        (6, "the cat sat the cat"),  # repeats boost (the,cat)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = sorted(map(tuple, bigram_surprisal(df).collect()))
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in rows)
        + ") t(doc_id, text)"
    )
    oracle = con.execute("""
      WITH tok AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x != '') AS t
             FROM documents),
      bg AS (SELECT doc_id, p[1] AS prev, p[2] AS cur
             FROM (SELECT doc_id,
                          unnest(list_zip(t[:len(t)-1], t[2:])) AS p
                   FROM tok)),
      v AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS bf
            FROM bg GROUP BY prev, cur),
      c AS (SELECT prev, CAST(sum(bf) AS BIGINT) AS cf FROM v GROUP BY prev),
      r AS (SELECT bg.doc_id, c.cf // v.bf AS rar
            FROM bg JOIN v USING (prev, cur) JOIN c USING (prev)),
      g AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nb,
                   round(CAST(sum(rar) AS DOUBLE) / count(*), 6)
                     AS mean_cond_rarity,
                   CAST(max(rar) AS BIGINT) AS max_cond_rarity
            FROM r GROUP BY doc_id)
      SELECT d.doc_id, CAST(coalesce(g.nb, 0) AS BIGINT) AS n_bigrams,
             g.mean_cond_rarity, g.max_cond_rarity
      FROM documents d LEFT JOIN g USING (doc_id) ORDER BY d.doc_id
    """).fetchall()
    assert out == sorted(map(tuple, oracle))
    d = {r[0]: r for r in out}
    assert d[4][1] == 0 and d[4][2] is None  # 1 token
    assert d[5][1] == 0                      # empty
    # (the,cat) occurs 4x of "the"-context 5 -> rarity 5 div 4 = 1
    # (the,dog) occurs 1x -> rarity 5
    assert d[3][3] >= d[1][3]


def test_sax_transitions_counts_and_probs(spark):
    """q61: transitions count between consecutive PRESENT buckets
    (missing buckets don't break the chain) and p normalizes per
    channel."""
    from datetime import datetime, timezone

    from etsd_time_series_database_spark.operators.trends import (
        sax_transitions,
    )

    def t(h):
        return datetime(2024, 1, 1, h, tzinfo=timezone.utc)

    # buckets 0,1,3 (2 missing): symbols low, high, low
    rows = [
        ("e0", "a", t(0), 0.0),
        ("e1", "a", t(1), 100.0),
        ("e3", "a", t(3), 0.0),
    ]
    df = spark.createDataFrame(rows, ["event_id", "event_type", "ts", "value"])
    out = {
        (r.from_symbol, r.to_symbol): (r.n, r.p)
        for r in sax_transitions(df).collect()
    }
    # z = (-0.707, 1.414, -0.707) -> symbols a, d, a
    assert out == {("a", "d"): (1, 0.5), ("d", "a"): (1, 0.5)}


def test_hysteresis_episodes_state_machine(spark):
    """q62: set at >= hi, carry between lo and hi, reset at <= lo;
    open episode closes at the channel's last sample; stitched ==
    plain across bucket boundaries."""
    from datetime import datetime, timedelta, timezone

    from etsd_time_series_database_spark.operators.range_stats import (
        hysteresis_episodes,
    )

    base = datetime(2024, 1, 1, tzinfo=timezone.utc)

    def t(s):
        return base + timedelta(seconds=s)

    # values: 60 (in-band pre-state: inactive), 250 (S), 100 (carry),
    # 50 (R), 80 (in-band), 300 (S), 120 (carry, last sample)
    vals = [(0, 60.0), (10, 250.0), (20, 100.0), (30, 50.0),
            (40, 80.0), (50, 300.0), (60, 120.0)]
    rows = [(f"e{i}", "a", t(s), v) for i, (s, v) in enumerate(vals)]
    df = spark.createDataFrame(rows, ["event_id", "event_type", "ts", "value"])
    out = hysteresis_episodes(df, hi=250.0, lo=50.0).collect()
    assert len(out) == 1
    r = out[0]
    # ep1: 10s..30s (20s); ep2: 50s..60s (10s, open -> closes at last
    # sample 60s)
    assert r.n_episodes == 2
    assert r.total_active_us == 30 * 1_000_000
    assert r.longest_span_us == 20 * 1_000_000
    assert r.longest_start_us == int(t(10).timestamp()) * 1_000_000
    assert r.has_open == 1
    plain = hysteresis_episodes(df, 250.0, 50.0, scalable=False).collect()
    stitched = hysteresis_episodes(
        df, 250.0, 50.0, scalable=True, bucket_s=25
    ).collect()
    assert [tuple(x) for x in stitched] == [tuple(x) for x in plain]


def test_rle_profile_runs_and_ratio(spark):
    """q63: NULL-safe run detection, ratio, longest run with value and
    start; stitched == plain across bucket boundaries."""
    from datetime import datetime, timedelta, timezone

    from etsd_time_series_database_spark.operators.range_stats import (
        rle_profile,
    )

    base = datetime(2024, 1, 1, tzinfo=timezone.utc)

    def t(s):
        return base + timedelta(seconds=s)

    # a: 5,5,5,7,7,5 -> runs [5x3, 7x2, 5x1]; b: constant 1.0 x2
    vals_a = [5.0, 5.0, 5.0, 7.0, 7.0, 5.0]
    rows = [(f"a{i}", "a", t(i * 10), v) for i, v in enumerate(vals_a)]
    rows += [("b0", "b", t(0), 1.0), ("b1", "b", t(10), 1.0)]
    df = spark.createDataFrame(rows, ["event_id", "event_type", "ts", "value"])
    out = {r.event_type: r for r in rle_profile(df).collect()}
    a = out["a"]
    assert (a.n_rows, a.n_runs, a.longest_run) == (6, 3, 3)
    assert a.rle_ratio == 0.5
    assert a.longest_value == 5.0 and a.longest_start_us == int(
        t(0).timestamp()) * 1_000_000
    b = out["b"]
    assert (b.n_rows, b.n_runs, b.rle_ratio, b.longest_run) == (2, 1, 0.5, 2)
    with channel_global():
        plain = rle_profile(df).collect()
    stitched = rle_profile(df, bucket_s=25).collect()
    assert [tuple(x) for x in stitched] == [tuple(x) for x in plain]


def test_label_dispersion_closed_form_matches_pairs(spark):
    """x71: the per-dimension closed form equals the brute-force mean
    pairwise cosine; singleton labels report NULL; zero vectors drop."""
    import itertools

    import numpy as np

    from etsd_time_series_database_spark.operators.similarity import (
        label_dispersion,
    )

    rng = np.random.RandomState(7)
    rows = []
    vid = 0
    vecs_by_label = {}
    for lbl, n in [(0, 4), (1, 2), (2, 1)]:
        vs = rng.randn(n, 6).astype("float32")
        vecs_by_label[lbl] = vs
        for v in vs:
            rows.append((vid, [float(x) for x in v], lbl))
            vid += 1
    rows.append((vid, [0.0] * 6, 0))  # zero vector: dropped
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = {r.label: r for r in label_dispersion(df).collect()}
    for lbl, vs in vecs_by_label.items():
        # reference: quantized unit vectors, brute-force pair mean
        u = np.round(
            (vs.astype("float64").T / np.linalg.norm(
                vs.astype("float64"), axis=1)).T, 6)
        n = len(u)
        r = out[lbl]
        assert r.n_vecs == n
        if n == 1:
            assert r.mean_pairwise_cos is None
            continue
        pairs = [
            float(np.dot(u[i], u[j]))
            for i, j in itertools.combinations(range(n), 2)
        ]
        expect = sum(pairs) * 2 / (n * (n - 1))
        assert abs(r.mean_pairwise_cos - expect) < 1e-5


def test_integrity_audit_missing_and_dangling(spark):
    """x72: per-source coverage, missing vectors, and dangling vectors
    under the __dangling__ pseudo-source with NULL coverage."""
    from etsd_time_series_database_spark.operators.sampling import (
        integrity_audit,
    )

    docs = spark.createDataFrame(
        [(1, "s1"), (2, "s1"), (3, "s2")], ["doc_id", "source"]
    )
    embs = spark.createDataFrame(
        [(1, [0.1]), (3, [0.2]), (9, [0.3])], ["vec_id", "embedding"]
    )
    out = {r.source: r for r in integrity_audit(docs, embs).collect()}
    s1 = out["s1"]
    assert (s1.n_docs, s1.n_with_vec, s1.n_missing_vec) == (2, 1, 1)
    assert s1.coverage_pct == 0.5
    s2 = out["s2"]
    assert (s2.n_docs, s2.n_with_vec, s2.coverage_pct) == (1, 1, 1.0)
    d = out["__dangling__"]
    assert (d.n_docs, d.n_dangling_vec) == (0, 1)
    assert d.coverage_pct is None


def test_freshness_report_cadence_and_overdue(spark):
    """q64: exact median gap, staleness vs the dataset now, overdue at
    3x cadence; singleton channel reports NULL cadence; stitched ==
    plain."""
    from datetime import datetime, timedelta, timezone

    from etsd_time_series_database_spark.operators.range_stats import (
        freshness_report,
    )

    base = datetime(2024, 1, 1, tzinfo=timezone.utc)

    def t(s):
        return base + timedelta(seconds=s)

    rows = [
        # a: 10s cadence, last at 40s -> stale 60s vs now=100s, overdue
        *[(f"a{i}", "a", t(i * 10), 1.0) for i in range(5)],
        # b: 50s cadence, last at 100s (the dataset now) -> fresh
        ("b0", "b", t(0), 1.0), ("b1", "b", t(50), 1.0),
        ("b2", "b", t(100), 1.0),
        # c: singleton
        ("c0", "c", t(30), 1.0),
    ]
    df = spark.createDataFrame(rows, ["event_id", "event_type", "ts", "value"])
    out = {r.event_type: r for r in freshness_report(df).collect()}
    a = out["a"]
    assert a.median_gap_us == 10_000_000.0
    assert a.staleness_us == 60 * 1_000_000 and a.overdue == 1
    b = out["b"]
    assert b.median_gap_us == 50_000_000.0
    assert b.staleness_us == 0 and b.overdue == 0
    c = out["c"]
    assert c.median_gap_us is None and c.overdue is None
    assert c.staleness_us == 70 * 1_000_000
    with channel_global():
        plain = freshness_report(df).collect()
    stitched = freshness_report(df, bucket_s=35).collect()
    assert [tuple(x) for x in stitched] == [tuple(x) for x in plain]


def test_co_alarm_matrix_counts_overlaps(spark):
    """q65: overlapping episodes across channel pairs count once with
    the exact shared microseconds; touching endpoints (zero shared
    time) do not count; stitched == plain at narrow buckets."""
    from etsd_time_series_database_spark.operators.range_stats import (
        co_alarm_matrix,
    )

    rows = [
        # a: [00:10, 00:30]
        ("2026-01-01 00:10:00", "a", 99, 1),
        ("2026-01-01 00:30:00", "a", 99, 2),
        # b: [00:20, 00:40] — overlaps a by 10 min
        ("2026-01-01 00:20:00", "b", 99, 3),
        ("2026-01-01 00:40:00", "b", 99, 4),
        # c: [00:30, 00:35] — touches a's end (no shared time),
        # overlaps b by 5 min
        ("2026-01-01 00:30:00", "c", 99, 5),
        ("2026-01-01 00:35:00", "c", 99, 6),
        # second b episode [01:00, 01:05], disjoint from everything
        ("2026-01-01 00:50:00", "b", 1, 7),
        ("2026-01-01 01:00:00", "b", 99, 8),
        ("2026-01-01 01:05:00", "b", 99, 9),
    ]
    df = _series(spark, rows)
    with channel_global():
        plain = co_alarm_matrix(df, 20.0).collect()
    want = {
        ("a", "b"): (1, 10 * 60 * 1_000_000),
        ("b", "c"): (1, 5 * 60 * 1_000_000),
    }
    got = {(r.channel_a, r.channel_b): (r.n_copairs, r.overlap_us)
           for r in plain}
    assert got == want  # (a, c) touches only: excluded
    for bucket_s in (60, 7):
        st = co_alarm_matrix(df, 20.0, bucket_s=bucket_s).collect()
        got_st = {(r.channel_a, r.channel_b): (r.n_copairs, r.overlap_us)
                  for r in st}
        assert got_st == want, f"bucket_s={bucket_s}"


def test_minhash_estimate_audit_identical_and_near(spark):
    """x75: identical docs estimate Jaccard 1.0 with zero error; a
    near-dup pair's estimate is a multiple of 1/8 and the exact
    Jaccard sits in (0, 1)."""
    from etsd_time_series_database_spark.operators.dedup import (
        minhash_estimate_audit,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    near = base + " tail"
    rows = [(1, base, "s"), (2, base, "s"), (3, near, "s"),
            (4, "completely unrelated text about spark physical plans "
                "and shuffle boundaries everywhere", "s")]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {(r.doc_a, r.doc_b): r
           for r in minhash_estimate_audit(df, hash_mode="poly").collect()}
    assert (1, 2) in out
    ident = out[(1, 2)]
    assert ident.est_jaccard == 1.0
    assert ident.true_jaccard == 1.0 and ident.abs_err == 0.0
    for r in out.values():
        assert abs(r.est_jaccard * 8 - round(r.est_jaccard * 8)) < 1e-9
        assert 0.0 <= r.true_jaccard <= 1.0
    assert (1, 4) not in out and (2, 4) not in out  # unrelated: no collision


def test_coverage_timeline_totals_match_union(spark):
    """q66 x q57 cross-invariant: summing the per-day timeline over
    all days must reproduce the single-row union's covered_us and
    n_episodes exactly (splitting at midnight repartitions time, it
    never creates or destroys coverage); a midnight-crossing stretch
    counts once per day it touches."""
    from etsd_time_series_database_spark.operators.range_stats import (
        alarm_coverage,
        coverage_timeline,
    )

    rows = [
        # one episode crossing midnight: covers 23:50 -> 00:10
        ("2026-01-01 23:50:00", "a", 99, 1),
        ("2026-01-02 00:10:00", "a", 99, 2),
        # disjoint same-day episode on day 2
        ("2026-01-02 12:00:00", "b", 99, 3),
        ("2026-01-02 12:30:00", "b", 99, 4),
    ]
    df = _series(spark, rows)
    tl = {r.bucket_start_us: r for r in coverage_timeline(df, 20.0).collect()}
    cov = alarm_coverage(df, 20.0).collect()[0]
    assert sum(r.covered_us for r in tl.values()) == cov.covered_us
    assert sum(r.n_episode_starts for r in tl.values()) == cov.n_episodes
    assert len(tl) == 2
    day1, day2 = (tl[k] for k in sorted(tl))
    assert day1.covered_us == 10 * 60 * 1_000_000
    assert day2.covered_us == (10 + 30) * 60 * 1_000_000
    assert day1.n_stretches == 1 and day2.n_stretches == 2
    assert day1.n_episode_starts == 1 and day2.n_episode_starts == 1


def test_alarm_reliability_mtbf_mttr(spark):
    """q67: MTTR = mean episode span, MTBF = mean end->next-start gap
    (NULL with a single episode), availability = 1 - alarm/observed."""
    from etsd_time_series_database_spark.operators.range_stats import (
        alarm_reliability,
    )

    rows = [
        # a observed 00:00 -> 01:40 (6000 s); two episodes:
        # [00:10, 00:20] (600 s) and [00:50, 01:00] (600 s);
        # between-gap 00:20 -> 00:50 = 1800 s
        ("2026-01-01 00:00:00", "a", 1, 1),
        ("2026-01-01 00:10:00", "a", 99, 2),
        ("2026-01-01 00:20:00", "a", 99, 3),
        ("2026-01-01 00:30:00", "a", 1, 4),
        ("2026-01-01 00:50:00", "a", 99, 5),
        ("2026-01-01 01:00:00", "a", 99, 6),
        ("2026-01-01 01:40:00", "a", 1, 7),
        # b: single episode -> MTBF NULL
        ("2026-01-01 00:00:00", "b", 99, 8),
        ("2026-01-01 00:10:00", "b", 99, 9),
        ("2026-01-01 00:20:00", "b", 1, 10),
    ]
    df = _series(spark, rows)
    out = {r.event_type: r for r in alarm_reliability(df, 20.0).collect()}
    a = out["a"]
    M = 1_000_000
    assert a.n_episodes == 2
    assert a.alarm_us == 1200 * M
    assert a.mttr_us == 600 * M
    assert a.mtbf_us == 1800 * M
    assert a.observed_us == 6000 * M
    assert a.availability == 0.8  # 1 - 1200/6000
    b = out["b"]
    assert b.n_episodes == 1 and b.mtbf_us is None
    assert b.mttr_us == 600 * M


def test_dedup_funnel_stages(spark):
    """x76: exact stage drops identical texts (keep-lowest), near
    stage drops band colliders among winners; counts and kept tokens
    roll up per source while decisions stay corpus-global."""
    from etsd_time_series_database_spark.operators.dedup import dedup_funnel

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base, "srcA"),
        (2, base, "srcB"),            # exact dup of 1 (cross-source)
        (3, base + " tail", "srcA"),  # near dup of 1
        (4, "completely different text about spark shuffle "
            "boundaries and physical plans", "srcB"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {r.source: r for r in dedup_funnel(df, hash_mode="poly").collect()}
    a, b = out["srcA"], out["srcB"]
    assert (a.n_docs, b.n_docs) == (2, 2)
    # doc 2 falls in the exact stage (same text as doc 1)
    assert (a.n_exact_kept, b.n_exact_kept) == (2, 1)
    # doc 3 falls in the near stage (band-collides with doc 1)
    assert (a.n_kept, b.n_kept) == (1, 1)
    assert a.pct_docs_kept == 0.5 and b.pct_docs_kept == 0.5
    assert a.tokens_kept == 12


def test_source_near_overlap_counts_cross_source_pairs(spark):
    """x77: near-identical docs across sources count as pairs with
    per-side distinct doc counts; within-source collisions and
    unrelated docs don't appear."""
    from etsd_time_series_database_spark.operators.dedup import (
        source_near_overlap,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base, "web"),
        (2, base + " tail", "books"),       # near-dup of 1, cross-source
        (3, base, "web"),                   # near-dup of 1, SAME source
        (4, "entirely different content about shuffle partitions "
            "and broadcast joins in query planning", "books"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = source_near_overlap(df, hash_mode="poly").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.source_a, r.source_b) == ("books", "web")
    # pairs crossing the boundary: (1,2) and (3,2) -> docs_a (books
    # side) = {2}, docs_b (web side) = {1, 3}
    assert r.n_pairs == 2
    assert r.n_docs_a == 1 and r.n_docs_b == 2


def test_waterfill_budget_levels_and_saturation(spark):
    """x78: the water line lands at the first feasible rank, small
    sources saturate and raise the level for the rest, overgenerous
    budgets saturate everyone, non-positive budgets allocate zero."""
    from etsd_time_series_database_spark.operators.sampling import (
        waterfill_budget,
    )

    def mk(supplies):
        rows = [(i, " ".join(["w"] * t), f"s{i}")
                for i, t in enumerate(supplies)]
        return spark.createDataFrame(rows, ["doc_id", "text", "source"])

    # [30, 40] budget 50 -> level 25 (NOT the rank-2 candidate 20:
    # later feasible ranks undershoot)
    out = {r.source: r for r in waterfill_budget(mk([30, 40]), 50).collect()}
    assert out["s0"].take_tokens == 25 and out["s1"].take_tokens == 25
    assert out["s0"].saturated == 0
    # [10, 100] budget 50 -> s0 saturates at 10, s1 takes the rest
    out = {r.source: r for r in waterfill_budget(mk([10, 100]), 50).collect()}
    assert (out["s0"].take_tokens, out["s0"].saturated) == (10, 1)
    assert (out["s1"].take_tokens, out["s1"].saturated) == (40, 0)
    assert out["s1"].sampling_rate == 0.4
    # budget beyond supply: everyone saturates
    out = {r.source: r for r in waterfill_budget(mk([10, 20]), 999).collect()}
    assert all(v.saturated == 1 for v in out.values())
    # zero budget: zero takes
    out = {r.source: r for r in waterfill_budget(mk([10, 20]), 0).collect()}
    assert all(v.take_tokens == 0 for v in out.values())


def test_co_alarm_point_on_bucket_boundary(spark):
    """Regression (r8 review): a single-sample episode sitting EXACTLY
    on a bucket boundary inside another channel's episode must count
    as a co-alarm pair (zero shared microseconds) in the stitched path
    too — the straddle test runs on ORIGINAL episode bounds, not on
    split pieces, whose cut lands exactly on the intersection point."""
    from pyspark.sql import functions as F

    from etsd_time_series_database_spark.operators.range_stats import (
        co_alarm_matrix,
    )

    rows = [
        (10_000_000, "a", 99.0, 1), (130_000_000, "a", 99.0, 2),
        (60_000_000, "b", 99.0, 3), (61_000_000, "b", 1.0, 4),
    ]
    df = spark.createDataFrame(
        [(ts, ch, v, sq) for ts, ch, v, sq in rows],
        "us bigint, event_type string, value double, event_id bigint",
    ).selectExpr(
        "timestamp_micros(us) AS ts", "event_type", "value", "event_id"
    )
    want = [("a", "b", 1, 0)]
    with channel_global():
        plain = [tuple(r) for r in co_alarm_matrix(df, 20.0).collect()]
    st = [tuple(r) for r in co_alarm_matrix(df, 20.0, bucket_s=60).collect()]
    assert plain == want and st == want


def test_coverage_timeline_no_phantom_boundary_bucket(spark):
    """Regression (r8 review): an episode ending exactly on a bucket
    boundary must NOT emit a zero-length stretch row for the next
    bucket (split artifact); a genuine point episode ON a boundary
    still reports its bucket."""
    from etsd_time_series_database_spark.operators.range_stats import (
        coverage_timeline,
    )

    rows = [
        # episode [00:00:10, 00:01:00] — ends exactly at the 60 s cut
        ("2026-01-01 00:00:10", "a", 99, 1),
        ("2026-01-01 00:01:00", "a", 99, 2),
        ("2026-01-01 00:01:05", "a", 1, 3),
        # genuine point episode exactly on the 00:03:00 boundary
        ("2026-01-01 00:03:00", "b", 99, 4),
        ("2026-01-01 00:03:30", "b", 1, 5),
    ]
    df = _series(spark, rows)
    tl = {r.bucket_start_us: r
          for r in coverage_timeline(df, 20.0, bucket_s=60).collect()}
    base = 1767225600000000
    # bucket 0 holds the 50 s episode; bucket 1 must NOT appear
    # (phantom); bucket 3 holds b's genuine point episode
    assert set(tl) == {base, base + 180 * 1_000_000}
    assert tl[base].covered_us == 50 * 1_000_000
    point = tl[base + 180 * 1_000_000]
    assert point.covered_us == 0 and point.n_episode_starts == 1


def test_temperature_mixture_flattens_and_budgets(spark):
    """x79: alpha=0.5 flattens toward small sources (boost > 1 for the
    small one, < 1 for the big one), takes sum to ~budget (floor slack
    < n_sources), and the shares follow sqrt(p) exactly."""
    import math

    from etsd_time_series_database_spark.operators.sampling import (
        temperature_mixture,
    )

    def mk(supplies):
        rows = [(i, " ".join(["w"] * t), f"s{i}")
                for i, t in enumerate(supplies)]
        return spark.createDataFrame(rows, ["doc_id", "text", "source"])

    out = {
        r.source: r
        for r in temperature_mixture(
            mk([100, 900]), alpha=0.5, budget_tokens=1000
        ).collect()
    }
    # natural shares 0.1 / 0.9 -> temperature shares sqrt-flattened
    assert out["s0"].natural_share == 0.1
    exp_small = math.sqrt(0.1) / (math.sqrt(0.1) + math.sqrt(0.9))
    assert abs(out["s0"].temp_share - exp_small) < 1e-6
    assert out["s0"].boost > 1.0 > out["s1"].boost
    total = out["s0"].take_tokens + out["s1"].take_tokens
    assert 1000 - 2 <= total <= 1000
    # the small source is upsampled past its supply: epochs > 1
    assert out["s0"].epochs > 1.0
    # alpha=1 (pow path) reproduces the natural mix
    nat = {
        r.source: r
        for r in temperature_mixture(
            mk([100, 900]), alpha=1.0, budget_tokens=1000
        ).collect()
    }
    assert abs(nat["s0"].temp_share - 0.1) < 1e-6
    assert abs(nat["s0"].boost - 1.0) < 1e-6


def test_m4_downsample_first_last_ties_and_buckets(spark):
    """first/last break equal-timestamp ties on event_id (the struct
    tie-break, never engine min_by rules), min/max are plain, and
    buckets split on the integer DIV boundary."""
    import pyspark.sql.functions as F

    from etsd_time_series_database_spark.operators.trends import (
        m4_downsample,
    )

    day = 86_400 * 1_000_000
    rows = [
        # bucket 0: two samples at the SAME us (tie -> event_id)
        (100, "a", 5.0, 2),
        (100, "a", 7.0, 1),   # same us, smaller id -> the true first
        (200, "a", 1.0, 3),
        (day - 1, "a", 9.0, 4),
        # bucket 1: single sample
        (day + 5, "a", 4.0, 5),
        # channel b, bucket 0
        (50, "b", 2.0, 6),
    ]
    df = spark.createDataFrame(
        rows, "us bigint, event_type string, value double, event_id bigint"
    ).selectExpr(
        "timestamp_micros(us) AS ts", "event_type", "value", "event_id"
    )
    out = {
        (r.event_type, r.bucket_us): r
        for r in m4_downsample(df, bucket_s=86_400).collect()
    }
    a0 = out[("a", 0)]
    assert a0.n == 4
    assert (a0.first_us, a0.first_v) == (100, 7.0)  # id 1 wins the tie
    assert (a0.last_us, a0.last_v) == (day - 1, 9.0)
    assert (a0.min_v, a0.max_v) == (1.0, 9.0)
    a1 = out[("a", day)]
    assert a1.n == 1
    assert (a1.first_v, a1.last_v, a1.min_v, a1.max_v) == (4.0,) * 4
    assert out[("b", 0)].n == 1


def test_bucketed_twa_locf_weights(spark):
    """Bucket-local LOCF: a value holds to the next sample, the last
    sample holds to bucket end, the span before the bucket's first
    sample is unobserved, and nothing carries across the bucket edge."""
    from etsd_time_series_database_spark.operators.trends import (
        bucketed_time_weighted_avg,
    )

    day = 86_400 * 1_000_000
    rows = [
        # bucket 0, channel a: 10.0 holds [100, 300), 20.0 holds
        # [300, day) -> twa = (10*200 + 20*(day-300)) / (day-100)
        (100, "a", 10.0, 1),
        (300, "a", 20.0, 2),
        # bucket 1: one sample late in the day -> holds to day end
        (day + 1000, "a", 5.0, 3),
    ]
    df = spark.createDataFrame(
        rows, "us bigint, event_type string, value double, event_id bigint"
    ).selectExpr(
        "timestamp_micros(us) AS ts", "event_type", "value", "event_id"
    )
    out = {
        r.bucket_us: r
        for r in bucketed_time_weighted_avg(df, bucket_s=86_400).collect()
    }
    b0 = out[0]
    assert b0.n == 2 and b0.observed_us == day - 100
    exp = (10.0 * 200 + 20.0 * (day - 300)) / (day - 100)
    assert abs(b0.twa - round(exp, 6)) < 1e-9
    b1 = out[day]
    assert b1.n == 1 and b1.observed_us == day - 1000
    assert b1.twa == 5.0


def test_tiered_rollup_hierarchical_equals_direct(spark, tmp_path):
    """Every coarser tier derives from the previous tier's table; the
    result must equal aggregating each tier DIRECTLY from raw (the
    associative-composition contract), and non-multiple or empty tier
    ladders are refused (by tiered_rollup and materialize_tier_ladder
    alike)."""
    import pytest
    import pyspark.sql.functions as F

    from etsd_time_series_database_spark.operators.trends import (
        materialize_tier_ladder,
        tiered_rollup,
    )

    rows = [
        (i * 700_000_000 + (i % 3), "ab"[i % 2], float((i * 37) % 101), i)
        for i in range(500)
    ]
    df = spark.createDataFrame(
        rows, "us bigint, event_type string, value double, event_id bigint"
    ).selectExpr(
        "timestamp_micros(us) AS ts", "event_type", "value", "event_id"
    )
    got = tiered_rollup(df, tiers_s=(3600, 21600, 86400)).collect()
    direct = []
    for tier in (3600, 21600, 86400):
        w = tier * 1_000_000
        direct.extend(
            (tier, r.event_type, r.bucket_us, r.n, r.avg_v, r.min_v,
             r.max_v)
            for r in df.groupBy(
                "event_type",
                (F.expr(f"unix_micros(ts) div {w}") * w).alias(
                    "bucket_us"
                ),
            )
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.round(
                    F.sum(F.col("value").cast("decimal(18,6)")).cast(
                        "double"
                    )
                    / F.count(F.lit(1)),
                    6,
                ).alias("avg_v"),
                F.min("value").alias("min_v"),
                F.max("value").alias("max_v"),
            )
            .collect()
        )
    assert sorted(tuple(r) for r in got) == sorted(direct)
    with pytest.raises(ValueError, match="not a multiple"):
        tiered_rollup(df, tiers_s=(3600, 5000))
    with pytest.raises(ValueError, match="not a multiple"):
        materialize_tier_ladder(
            df, str(tmp_path / "ladder"), tiers_s=(3600, 5000)
        )
    with pytest.raises(ValueError, match="empty"):
        tiered_rollup(df, tiers_s=())


def test_percentile_profile_exact_interpolation(spark):
    """Exact linear interpolation per (channel, bucket): a 5-sample
    group has known p50/p90/p99, and buckets are independent."""
    from etsd_time_series_database_spark.operators.trends import (
        percentile_profile,
    )

    day = 86_400 * 1_000_000
    rows = [(i * 1000, "a", float(v), i) for i, v in
            enumerate([10, 20, 30, 40, 50])]
    rows.append((day + 1, "a", 7.0, 99))
    df = spark.createDataFrame(
        rows, "us bigint, event_type string, value double, event_id bigint"
    ).selectExpr(
        "timestamp_micros(us) AS ts", "event_type", "value", "event_id"
    )
    out = {r.bucket_us: r for r in percentile_profile(df).collect()}
    b0 = out[0]
    # rank r = p*(n-1): p50 -> 30, p90 -> 46, p99 -> 49.6
    assert b0.n == 5 and (b0.p50, b0.p90, b0.p99) == (30.0, 46.0, 49.6)
    b1 = out[day]
    assert b1.n == 1 and (b1.p50, b1.p90, b1.p99) == (7.0, 7.0, 7.0)


def test_range_digest_detects_drift_and_ignores_order(spark):
    """The digest is invariant to partition layout / row order (SUM of
    per-row mixes) and changes when any single row's value or
    timestamp drifts — the replica-diff contract."""
    import pyspark.sql.functions as F

    from etsd_time_series_database_spark.operators.range_stats import (
        range_digest,
    )

    rows = [(i * 1_000_000, "a", float((i * 7) % 50), i)
            for i in range(200)]
    df = spark.createDataFrame(
        rows, "us bigint, event_type string, value double, event_id bigint"
    ).selectExpr(
        "timestamp_micros(us) AS ts", "event_type", "value", "event_id"
    )
    base = [tuple(r) for r in range_digest(df).collect()]
    # same rows, different partitioning and order -> identical digests
    shuffled = df.repartition(13, "value").sortWithinPartitions("value")
    assert [tuple(r) for r in range_digest(shuffled).collect()] == base
    # one value drifts by one milli-unit -> that bucket's digest moves
    drifted = df.withColumn(
        "value",
        F.when(F.col("event_id") == 123, F.col("value") + 0.001)
        .otherwise(F.col("value")),
    )
    changed = [tuple(r) for r in range_digest(drifted).collect()]
    assert changed != base
    # row counts unchanged: only the digest column flags the drift
    assert [(r[0], r[1], r[2]) for r in changed] == [
        (r[0], r[1], r[2]) for r in base
    ]


def test_xff_consolidate_validity_threshold_and_status(spark):
    """q82's operator: the xfiles-factor rule
    (`ECM-1240 storage format 2.txt:142-148`) — a bucket is valid iff
    (expected - n) * 100 <= xff * expected with pure integer
    arithmetic; invalid buckets keep counts but NULL aggregates; a
    status column (plugin ABI invalid-reading marker) excludes
    non-zero-status rows from the known count; a non-dividing step
    raises."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from etsd_time_series_database_spark.operators.range_stats import (
        xff_consolidate,
    )

    # channel a: 3 readings in hour 0 (== threshold, valid),
    #            2 in hour 1 (< threshold, invalid)
    # channel b: 6 in hour 0, 2 of them status=1 -> known 4 (valid)
    rows = []
    for i in range(3):
        rows.append(("a", f"2024-01-01 00:{i:02d}:00", float(i), 0))
    for i in range(2):
        rows.append(("a", f"2024-01-01 01:{i:02d}:00", 10.0 + i, 0))
    for i in range(6):
        rows.append(
            ("b", f"2024-01-01 00:{i:02d}:00", float(i), 1 if i >= 4 else 0)
        )
    df = spark.createDataFrame(
        rows, "event_type string, ts string, value double, status int"
    ).withColumn("ts", F.to_timestamp("ts"))

    out = xff_consolidate(
        df, width_s=3600, step_s=600, xff_pct=50
    ).collect()
    by = {(r.event_type, r.bucket_us): r for r in out}
    h0 = 1704067200000000

    a0 = by[("a", h0)]
    assert (a0.n, a0.expected, a0.is_valid) == (3, 6, True)
    assert a0.avg_v == 1.0 and a0.min_v == 0.0 and a0.max_v == 2.0
    a1 = by[("a", h0 + 3600 * 1_000_000)]
    assert (a1.n, a1.is_valid) == (2, False)
    assert a1.avg_v is None and a1.min_v is None and a1.max_v is None
    b0 = by[("b", h0)]
    # status!=0 readings are not 'known' — the plugin ABI's invalid
    # marker (Plugin_API.txt:31-32)
    assert (b0.n, b0.is_valid) == (4, True)
    assert b0.avg_v == 1.5 and b0.max_v == 3.0

    with _pytest.raises(ValueError, match="divide"):
        xff_consolidate(df, width_s=3600, step_s=700)


def test_poly_fingerprint_code_points_and_sortable_bits(spark):
    """Round-15 pins. (1) poly_fingerprint's linear split('') walk
    must hash CODE POINTS — identical to the old O(len^2) substr walk
    and to a Python code-point reference — including non-BMP
    (supplementary-plane) text, combining marks, and the empty
    string. (2) double_sortable_bits and its projection form
    with_sortable_bits must be the exact sortable image of
    java.lang.Double.doubleToLongBits on every special value, and map
    NULL to NULL."""
    import math
    import struct

    from pyspark.sql import functions as F

    from etsd_time_series_database_spark.functions.exprs import (
        FP_BASE,
        FP_MOD,
        double_sortable_bits,
        poly_fingerprint,
        with_sortable_bits,
    )

    corpus = [
        "",
        "a",
        "hello world shingle",
        "café naïve über",
        "日本語 漢字 한글",
        "é combining acute",
        "emoji \U0001f4a9 pile \U0001f600 grin",
        "\U00020000\U0002a700 ideographs",
        "mixed aé\U0001f600z end",
    ]

    def py_ref(s):
        h = 0
        for ch in s:  # Python iterates code points
            h = (h * FP_BASE + ord(ch)) % FP_MOD
        return h

    df = spark.createDataFrame([(s,) for s in corpus], "s string")
    c = F.col("s")
    old_walk_codes = F.transform(
        F.sequence(F.lit(1), F.length(c)),
        lambda i: F.ascii(F.substr(c, i, F.lit(1))),
    )
    old_walk = F.aggregate(
        old_walk_codes,
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * FP_BASE + x.cast("bigint")) % F.lit(FP_MOD),
    )
    rows = df.select(
        "s", poly_fingerprint(c).alias("new"), old_walk.alias("old")
    ).collect()
    for r in rows:
        assert r["new"] == r["old"], r["s"]
        if r["s"]:  # the empty string's old walk folds two synthetic 0s
            assert r["new"] == py_ref(r["s"]), r["s"]

    def ref_bits(x):
        if math.isnan(x):
            return 0x7FF8000000000000
        b = struct.unpack("<q", struct.pack("<d", x))[0]
        return b if b >= 0 else -1 - (b & 0x7FFFFFFFFFFFFFFF)

    vals = [
        0.0, -0.0, float("inf"), float("-inf"), float("nan"),
        5e-324, -5e-324, 2.0**-1022, -(2.0**-1022),
        2.0**-1022 - 5e-324, 1.0, -1.0, 1.0 + 2**-52, 1.0 - 2**-53,
        1.7976931348623157e308, -1.7976931348623157e308,
        2.0**-500, 2.0**-501, 0.9999999403953552, 42.0, -273.15,
    ]
    vdf = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)] + [(len(vals), None)],
        "i int, x double",
    )
    forms = {
        "double_sortable_bits": vdf.select(
            "i", double_sortable_bits(F.col("x")).alias("o")
        ),
        "with_sortable_bits": with_sortable_bits(vdf, "x", "o").select(
            "i", "o"
        ),
    }
    for form, out in forms.items():
        got = {r["i"]: r["o"] for r in out.collect()}
        for i, v in enumerate(vals):
            assert got[i] == ref_bits(v), (form, v, got[i], ref_bits(v))
        assert got[len(vals)] is None, (form, got[len(vals)])
