"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

The scale story (100 TB documents):
  * exact dedup is a hash groupBy on a fingerprint — one shuffle keyed
    by a high-entropy 64-bit-ish key, perfectly parallel;
  * MinHash LSH is shingle-explode -> per-doc signature (map-side) ->
    band-bucket self-join; the only shuffle keys are (band, signature)
    buckets, which is exactly how near-dup detection is sharded on
    large corpora (Broder's MinHash + banding);
  * pairwise Jaccard is ONLY run on LSH candidates (or a bounded
    subset) — the all-pairs form is O(n^2) and exists here as the
    verification oracle path, not the scale path.

Portability note: Spark's xxhash64 is the right shingle hash at scale,
but it is engine-specific, so catalog queries that must match a DuckDB
oracle use ``hash_mode="dict"`` — a deterministic dense-id dictionary
(global sort of distinct shingles). Operators default to the scale
path; the catalog opts into portability.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# (a, b) parameters for the universal hash family h_j(x) = (a*x+b) mod P
MINHASH_PARAMS = [
    (1, 0),
    (2971, 577),
    (6011, 1009),
    (7919, 2003),
    (9973, 3001),
    (12007, 4001),
    (14009, 5003),
    (16001, 6007),
]
MINHASH_P = 2147483647
SIMHASH_BITS = 30
FP_MOD = 1_000_000_007


def _tokens(text: str = "text") -> Column:
    return F.filter(F.split(F.col(text), " "), lambda x: x != "")


def shingle_expr(toks_col: str, n: int = 3) -> Column:
    """Word n-gram shingles from a materialized token-array column —
    a JVM transform over sequence; empty array when too few tokens."""
    parts = ", ".join(f"{toks_col}[i + {k}]" for k in range(n))
    return F.expr(
        f"CASE WHEN size({toks_col}) >= {n} THEN "
        f"transform(sequence(0, size({toks_col}) - {n}), i -> concat_ws(' ', {parts})) "
        f"ELSE array() END"
    )


def exact_dedup(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    fingerprint: bool = True,
) -> DataFrame:
    """Exact duplicate groups by full-text equality: canonical id =
    min(key), n_copies per distinct text. One hash-aggregate shuffle —
    keyed by default on ``xxhash64(text)`` so full documents never
    cross the wire (at 100 TB the shuffle carries 8 bytes + counters
    per distinct doc instead of the document body). The raw-text form
    (``fingerprint=False``) is the exact equivalence oracle, pinned by
    a property test — the same quarantine pattern as segment dedup."""
    grp = F.xxhash64(text).alias("__fp") if fingerprint else F.col(text)
    return (
        df.groupBy(grp)
        .agg(F.min(key).alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("canonical_id", "n_copies")
        .orderBy("canonical_id")
    )


def doc_shingles(
    df: DataFrame, text: str = "text", key: str = "doc_id", n: int = 3
) -> DataFrame:
    """(key, shingle) distinct pairs."""
    toks = df.select(key, _tokens(text).alias("__toks"))
    return (
        toks.select(key, F.explode(shingle_expr("__toks", n)).alias("shingle"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.3,
    text: str = "text",
    key: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """All-pairs n-gram Jaccard via shared-shingle join.

    jaccard = |A ∩ B| / (|A| + |B| - |A ∩ B|) — pure integer counts +
    one final double division, so bit-exact on any engine. Quadratic in
    corpus size: at scale call this on LSH candidate pairs only.
    """
    sh = doc_shingles(df, text, key, n).cache()
    sizes = sh.groupBy(key).agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, on=(F.col("a.shingle") == F.col("b.shingle")))
        .filter(F.col(f"a.{key}") < F.col(f"b.{key}"))
        .groupBy(
            F.col(f"a.{key}").alias("doc_a"), F.col(f"b.{key}").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.withColumnRenamed(key, "doc_a").withColumnRenamed("n_sh", "n_a")
    sb = sizes.withColumnRenamed(key, "doc_b").withColumnRenamed("n_sh", "n_b")
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


def _shingle_ids(sh: DataFrame, hash_mode: str) -> DataFrame:
    """Attach an integer id per shingle.

    'hash64': xxhash64 (scale path — stateless, no shuffle, but
              engine-specific so not oracle-comparable).
    'poly'  : portable polynomial rolling hash (also stateless and
              shuffle-free, reproducible in ANSI SQL — the
              oracle-parity mode).
    'dict'  : dense rank by sorted shingle text (kept for reference;
              needs a single-partition global sort of the dictionary —
              avoid beyond ~1e6 distinct shingles).
    """
    if hash_mode == "hash64":
        return sh.withColumn("sid", F.pmod(F.xxhash64("shingle"), F.lit(MINHASH_P)))
    if hash_mode == "poly":
        from etsd_time_series_database_spark.functions.exprs import poly_fingerprint

        return sh.withColumn("sid", poly_fingerprint(F.col("shingle")))
    dict_df = (
        sh.select("shingle")
        .distinct()
        .withColumn("sid", F.row_number().over(Window.orderBy("shingle")))
    )
    return sh.join(dict_df, "shingle")


def _shingles_multiset(
    df: DataFrame, text: str, key: str, n: int
) -> DataFrame:
    """(key, shingle) WITHOUT the distinct of :func:`doc_shingles`.

    MinHash only ever takes a ``min`` over each document's shingles,
    and min over a multiset equals min over its distinct set — so the
    signature path never needed the dedup, while ``distinct()`` cost a
    full shuffle of the raw shingle STRINGS (the widest column in the
    pipeline) before a single hash was computed. Consumers that COUNT
    shingles (Jaccard, segment stats) keep using :func:`doc_shingles`.

    ``array_distinct`` keeps the old form's work reduction LOCALLY (a
    per-row set build, no shuffle): within one document repeated
    shingles would otherwise each pay the sid hash — material for the
    'poly' mode, whose per-character rolling fold is the pipeline's
    CPU hot spot — and the per-doc distinct set is exactly what the
    global distinct produced per key. Same min, fewer hash folds.
    """
    toks = df.select(key, _tokens(text).alias("__toks"))
    return toks.select(
        key,
        F.explode(F.array_distinct(shingle_expr("__toks", n))).alias(
            "shingle"
        ),
    )


def _minhash_wide(sh: DataFrame, key: str) -> DataFrame:
    """(key, __h0..__h{k-1}): every MinHash value in ONE map-side
    combinable hash aggregation over the (key, sid) shingle-id table.

    Replaces the explode-×k + ``groupBy(key, j)`` formulation: the k
    hash-family evaluations are plain projection expressions over each
    shingle row (no row multiplication), the partial aggregate
    collapses a task's rows to one row per key BEFORE the exchange,
    and the one shuffle carries (key, k BIGINTs) instead of k rows per
    (key, shingle). Bit-identical h values — same integer expression,
    same min.
    """
    return sh.groupBy(key).agg(
        *[
            F.min(
                (F.lit(a) * F.col("sid") + F.lit(b)) % F.lit(MINHASH_P)
            ).alias(f"__h{j}")
            for j, (a, b) in enumerate(MINHASH_PARAMS)
        ]
    )


def _signatures_from_wide(wide: DataFrame, key: str) -> DataFrame:
    """(key, j, h) signature rows unpivoted from the wide per-key
    MinHash columns — a post-aggregation explode of k tiny structs per
    document, not a pre-shuffle explode of k rows per shingle."""
    pairs = F.array(
        *[
            F.struct(F.lit(j).alias("j"), F.col(f"__h{j}").alias("h"))
            for j in range(len(MINHASH_PARAMS))
        ]
    )
    return wide.select(key, F.explode(pairs).alias("__p")).select(
        key, F.col("__p.j").alias("j"), F.col("__p.h").alias("h")
    )


def _bands_from_wide(
    wide: DataFrame, key: str, rows_per_band: int
) -> DataFrame:
    """(key, band, sig) LSH band table straight from the wide MinHash
    columns: each band's signature is a comma-join of its rows'
    already-aggregated h columns (same j-ascending order and string
    form as the old collect_list/array_sort formulation, hash-equal),
    exploded AFTER the aggregation — the second (key, band) shuffle
    and its collect_list buffers are gone."""
    k = len(MINHASH_PARAMS)
    structs = [
        # band was `j div rows_per_band` — IntegralDivide yields BIGINT
        F.struct(
            F.lit(b).cast("bigint").alias("band"),
            F.concat_ws(
                ",",
                *[
                    F.col(f"__h{j}").cast("string")
                    for j in range(
                        b * rows_per_band, min((b + 1) * rows_per_band, k)
                    )
                ],
            ).alias("sig"),
        )
        for b in range((k + rows_per_band - 1) // rows_per_band)
    ]
    return wide.select(key, F.explode(F.array(*structs)).alias("__b")).select(
        key, F.col("__b.band").alias("band"), F.col("__b.sig").alias("sig")
    )


def minhash_signatures(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    n: int = 3,
    hash_mode: str = "hash64",
) -> DataFrame:
    """Per-document MinHash signature: (key, j, h) with
    h = min over shingles of (a_j*sid + b_j) mod P."""
    sh = _shingle_ids(_shingles_multiset(df, text, key, n), hash_mode)
    return _signatures_from_wide(_minhash_wide(sh, key), key)


def minhash_band_table(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    n: int = 3,
    rows_per_band: int = 2,
    hash_mode: str = "hash64",
) -> DataFrame:
    """Per-document LSH band signatures: (key, band, sig) with one row
    per (document, band), ``sig`` the comma-joined MinHash values of
    the band's rows. Documents sharing any (band, sig) bucket are
    near-duplicate candidates. This table IS the dedup index — both
    the in-run self-join (:func:`minhash_lsh_candidates`) and the
    persisted cross-run index (:func:`write_minhash_index` /
    :func:`minhash_probe_new`) are joins over it.

    Physical shape (round-14 optimization): shingle explode →
    stateless sid hash → ONE (key)-keyed hash aggregation with k
    ``min`` columns → post-agg band explode. One exchange total, down
    from three (the shingle-string distinct, the (key, j) min agg over
    k-exploded rows, and the (key, band) collect_list agg), with the
    shuffle narrowed from k rows per (key, shingle) of strings to one
    (key, k×BIGINT) row per document. Output bit-identical (pinned in
    tests/test_band_hotspot.py)."""
    sh = _shingle_ids(_shingles_multiset(df, text, key, n), hash_mode)
    return _bands_from_wide(_minhash_wide(sh, key), key, rows_per_band)


def keep_lowest_drop_ids(bands: DataFrame, key: str = "doc_id") -> DataFrame:
    """The keep-lowest-key LSH drop set WITHOUT pair enumeration: the
    distinct ids of documents sharing any (band, sig) bucket with a
    LOWER-keyed document — exactly the distinct drop set of the pair
    self-join formulation (``x.key > y.key`` over shared buckets,
    property-pinned equal in tests/test_band_hotspot.py), computed as
    "key exceeds its bucket's min".

    This is the hot-band guard (round-10 verdict finding #2): a
    degenerate corpus where one band signature is shared by N
    near-identical documents makes the pair join's bucket quadratic
    (N²/2 join rows per band — the same pathology q65's auto bucket
    fixed for co-alarms), while this form costs N window rows. One
    shuffle keyed by (band, sig), nothing quadratic anywhere; the
    drop DECISION never needed the pairs, only membership vs the
    bucket minimum. Pair-ENUMERATING reports (x06 and the audit/
    provenance entries) inherently emit O(pairs) output and keep the
    join — bounded there by :func:`minhash_lsh_candidates`'s optional
    ``max_bucket_docs`` star-sparsification cap.
    """
    w = Window.partitionBy("band", "sig")
    return (
        bands.withColumn("__bmin", F.min(key).over(w))
        .filter(F.col(key) > F.col("__bmin"))
        .select(key)
        .distinct()
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    n: int = 3,
    rows_per_band: int = 2,
    hash_mode: str = "hash64",
    max_bucket_docs: int | None = None,
) -> DataFrame:
    """LSH banding: documents sharing any (band, band-signature) bucket
    are near-duplicate candidates. Output (doc_a, doc_b,
    n_shared_bands); the bucket join is the ONLY pairwise step, so cost
    is bounded by real collisions, not n^2.

    ``max_bucket_docs`` is the hot-band cap for the collision bound's
    failure mode — a degenerate bucket shared by N near-identical
    documents is N²/2 pairs per band: buckets at or under the cap
    enumerate all pairs exactly as before (identical output — pinned
    by a property test), while an over-cap bucket is star-sparsified
    to (bucket-min, member) pairs, linear in N and
    connectivity-preserving (every member still pairs with the bucket
    minimum, so :func:`cluster_pairs` components are unchanged — also
    property-pinned). ``n_shared_bands`` for a star pair counts only
    the buckets that emitted it; downstream keep-lowest / clustering
    consumers use the pair EXISTENCE, not the count. Default None
    preserves the exact historical output on any input."""
    bands = minhash_band_table(df, text, key, n, rows_per_band, hash_mode)
    if max_bucket_docs is not None:
        w = Window.partitionBy("band", "sig")
        sized = bands.withColumn("__bn", F.count(F.lit(1)).over(w)).withColumn(
            "__bmin", F.min(key).over(w)
        )
        small = sized.filter(F.col("__bn") <= int(max_bucket_docs)).select(
            key, "band", "sig"
        )
        star = (
            sized.filter(
                (F.col("__bn") > int(max_bucket_docs))
                & (F.col(key) > F.col("__bmin"))
            )
            .select(
                F.col("__bmin").alias("doc_a"), F.col(key).alias("doc_b")
            )
        )
    else:
        small, star = bands, None
    x, y = small.alias("x"), small.alias("y")
    pairs = (
        x.join(
            y,
            on=(F.col("x.band") == F.col("y.band"))
            & (F.col("x.sig") == F.col("y.sig"))
            & (F.col(f"x.{key}") < F.col(f"y.{key}")),
        )
        .select(
            F.col(f"x.{key}").alias("doc_a"), F.col(f"y.{key}").alias("doc_b")
        )
    )
    if star is not None:
        pairs = pairs.unionByName(star)
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
        .orderBy("doc_a", "doc_b")
    )


def band_load_profile(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    n: int = 3,
    rows_per_band: int = 2,
    hash_mode: str = "hash64",
) -> DataFrame:
    """Per-band bucket-load profile of the MinHash LSH table — the
    OBSERVABILITY view for the hot-band guard: before (or instead of)
    running a pairwise stage, read how skewed each band's signature
    buckets are and what a pair enumeration would cost.

    Per band: total signature rows (``n_docs``), distinct buckets
    (``n_buckets``), the largest bucket (``max_bucket_docs`` — a
    degenerate corpus shows up here as one bucket holding thousands),
    rows living in colliding buckets (``docs_in_colliding_buckets``),
    and the exact pair-join output size ``candidate_pairs`` =
    Σ C(bucket, 2) — the number that says whether
    :func:`minhash_lsh_candidates` needs its ``max_bucket_docs`` cap
    on THIS corpus. All-integer output (hash-exact on any engine).

    Scale: the band table's one explode/agg chain, then two map-side-
    combinable hash-aggs (per-bucket counts, per-band rollup) — output
    cardinality = the band count, never rows or pairs.
    """
    bands = minhash_band_table(df, text, key, n, rows_per_band, hash_mode)
    per_bucket = bands.groupBy("band", "sig").agg(
        F.count(F.lit(1)).alias("__nb")
    )
    return (
        per_bucket.groupBy("band")
        .agg(
            F.sum("__nb").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.max("__nb").cast("bigint").alias("max_bucket_docs"),
            F.sum(
                F.when(F.col("__nb") > 1, F.col("__nb")).otherwise(0)
            )
            .cast("bigint")
            .alias("docs_in_colliding_buckets"),
            F.sum(F.expr("__nb * (__nb - 1) div 2"))
            .cast("bigint")
            .alias("candidate_pairs"),
        )
        .orderBy("band")
    )


def minhash_estimate_audit(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    n: int = 3,
    rows_per_band: int = 2,
    hash_mode: str = "hash64",
) -> DataFrame:
    """Quality audit of the MinHash sketch itself: for every LSH
    candidate pair, the SIGNATURE-estimated Jaccard (fraction of the
    MinHash values that agree — the estimator whose expectation is the
    true Jaccard) next to the EXACT shingle Jaccard and the absolute
    error. This is the dedup family's completeness critic: it
    quantifies, on real data, how trustworthy the sketch that drives
    x06/x73/x74 is, and whether band parameters need retuning.

    Scale shape: everything is restricted to the candidate pairs
    (bounded by real collisions, never n^2). The shingle table is
    built ONCE (cached) and feeds all three consumers — the signature
    table, the LSH candidate join, and the exact-Jaccard side (the
    ngram_jaccard_pairs discipline); the estimate joins the
    8-row-per-doc signature table twice on (pair, j); the exact
    Jaccard semi-joins the shingles down to candidate docs before the
    shared-shingle join. Estimates are exact multiples of 1/k and the
    exact Jaccard is one integer division — both engines fold
    identical doubles.
    """
    raw_sh = doc_shingles(df, text, key, n).cache()
    # min over the cached DISTINCT shingles == min over the multiset,
    # so the audit keeps sharing raw_sh with the exact-Jaccard side
    wide = _minhash_wide(_shingle_ids(raw_sh, hash_mode), key)
    mh = _signatures_from_wide(wide, key)
    bands = _bands_from_wide(wide, key, rows_per_band)
    bx, by = bands.alias("bx"), bands.alias("by")
    cand = (
        bx.join(
            by,
            on=(F.col("bx.band") == F.col("by.band"))
            & (F.col("bx.sig") == F.col("by.sig"))
            & (F.col(f"bx.{key}") < F.col(f"by.{key}")),
        )
        .select(
            F.col(f"bx.{key}").alias("doc_a"),
            F.col(f"by.{key}").alias("doc_b"),
        )
        .distinct()
    )
    ma = mh.select(
        F.col(key).alias("doc_a"), "j", F.col("h").alias("h_a")
    )
    mb = mh.select(
        F.col(key).alias("doc_b"), "j", F.col("h").alias("h_b")
    )
    est = (
        cand.join(ma, "doc_a")
        .join(mb, ["doc_b", "j"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.avg((F.col("h_a") == F.col("h_b")).cast("int")).alias(
                "est_jaccard"
            )
        )
    )
    involved = (
        cand.select(F.col("doc_a").alias(key))
        .unionByName(cand.select(F.col("doc_b").alias(key)))
        .distinct()
    )
    sh = raw_sh.join(involved, key, "left_semi")
    sizes = sh.groupBy(key).agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, on=(F.col("a.shingle") == F.col("b.shingle")))
        .select(
            F.col(f"a.{key}").alias("doc_a"),
            F.col(f"b.{key}").alias("doc_b"),
        )
        .join(cand, ["doc_a", "doc_b"], "left_semi")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(key).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(key).alias("doc_b"), F.col("n_sh").alias("n_b"))
    true_j = F.col("n_common") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    out = (
        est.join(common, ["doc_a", "doc_b"], "left")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            F.coalesce(true_j, F.lit(0.0)).alias("true_jaccard"),
            F.abs(
                F.col("est_jaccard") - F.coalesce(true_j, F.lit(0.0))
            ).alias("abs_err"),
        )
        .orderBy("doc_a", "doc_b")
    )
    # materialize the (candidate-bounded, tiny) report once so the
    # shingle cache can be released here instead of lingering for the
    # session — repeated audits in a long-lived driver must not
    # accumulate cached blocks until LRU eviction (what remains
    # persisted is only the few-row checkpointed report)
    out = out.localCheckpoint()
    raw_sh.unpersist()
    return out


def write_minhash_index(
    df: DataFrame,
    path: str,
    text: str = "text",
    key: str = "doc_id",
    n: int = 3,
    rows_per_band: int = 2,
    hash_mode: str = "hash64",
    mode: str = "overwrite",
) -> None:
    """Materialize the MinHash band table as a PERSISTED dedup index —
    the cross-run path a 100 TB pipeline needs: signatures are computed
    once per document, daily shards append in O(batch), and each new
    batch dedups against the full history without recomputing the
    corpus (the dedup analog of the IVF serving layout's
    write/append/probe lifecycle; reference analog: the append-only
    ingest contract, code/etsdSave.c:339-472).

    Layout: parquet partitioned by ``band`` (the join is always
    per-band, so one probe band never reads another band's files),
    plus a one-row ``{path}/_meta`` table pinning (n, rows_per_band,
    hash_mode) — underscore paths are invisible to Spark's listing, so
    index scans are unaffected, and append/probe re-derive the exact
    signature recipe from the layout itself instead of trusting
    callers to repeat it (a mismatched shingle width would silently
    produce garbage candidates).
    """
    bands = minhash_band_table(df, text, key, n, rows_per_band, hash_mode)
    bands.repartition(F.col("band")).write.mode(mode).partitionBy(
        "band"
    ).parquet(path)
    meta = df.sparkSession.createDataFrame(
        [(int(n), int(rows_per_band), hash_mode, key)],
        "n int, rows_per_band int, hash_mode string, key string",
    )
    meta.coalesce(1).write.mode("overwrite").parquet(path + "/_meta")


def read_minhash_index(spark, path: str) -> tuple[DataFrame, dict]:
    """Load a :func:`write_minhash_index` layout: the (key, band, sig)
    band table plus its pinned signature recipe."""
    meta = spark.read.parquet(path + "/_meta").collect()[0].asDict()
    return spark.read.parquet(path), meta


def minhash_index_append(new_df: DataFrame, path: str, text: str = "text") -> None:
    """Incremental index maintenance: sign a NEW shard with the
    layout's own pinned recipe and append into the existing band
    directories. Only the new shard is scanned and shuffled; existing
    band files are untouched (dynamic partition append), so
    maintenance cost is O(shard), not O(corpus) — probes see the union
    immediately."""
    _, meta = read_minhash_index(new_df.sparkSession, path)
    bands = minhash_band_table(
        new_df,
        text=text,
        key=meta["key"],
        n=meta["n"],
        rows_per_band=meta["rows_per_band"],
        hash_mode=meta["hash_mode"],
    )
    bands.repartition(F.col("band")).write.mode("append").partitionBy(
        "band"
    ).parquet(path)


def minhash_index_compact(
    spark, path: str, files_per_band: int = 1
) -> dict:
    """Compact a :func:`write_minhash_index` layout: every daily
    append adds one file per band partition, so a year of shards
    turns each band directory into ~365 small files and probe scans
    pay per-file open/footer cost instead of bandwidth — the classic
    small-files failure of append-heavy partitioned layouts. Rewrite
    the band table at ``files_per_band`` files per partition
    (repartition on band, still partitionBy(band) so probes keep
    partition pruning), install the copy with
    ``sources.store.install_staged`` (as the survivors write does), and
    carry ``_meta`` over unchanged — signatures, recipe and probe
    results are byte-identical, only the file layout changes. Returns
    {files_before, files_after, rows}. Run it from the index's single
    writer (the append job owner) — it is a maintenance pass, not a
    concurrent-writer protocol."""
    from etsd_time_series_database_spark.sources.store import (
        _hadoop_fs,
        count_staged,
        install_staged,
    )

    fs, Path = _hadoop_fs(spark, path)

    def _count_files(p):
        n = 0
        for band_dir in fs.listStatus(p):
            nm = band_dir.getPath().getName()
            if band_dir.isDirectory() and nm.startswith("band="):
                for f in fs.listStatus(band_dir.getPath()):
                    if f.getPath().getName().endswith(".parquet"):
                        n += 1
        return n

    before = _count_files(Path(path))
    bands = spark.read.parquet(path)
    if int(files_per_band) <= 1:
        compacted = bands.repartition(F.col("band"))
    else:
        # deterministic sig-hash salt: at most files_per_band writer
        # tasks (hence files) per band, for bands too big for one file
        compacted = bands.repartition(
            F.col("band"),
            F.pmod(F.xxhash64(F.col("sig")), F.lit(int(files_per_band))),
        )
    meta = spark.read.parquet(path + "/_meta")

    def write(tmp: str) -> int:
        compacted.write.partitionBy("band").parquet(tmp)
        # carry the recipe table over unchanged
        meta.coalesce(1).write.parquet(tmp + "/_meta")
        # count the COMPACTED copy (not a second scan of the old
        # index): the stat doubles as a readability check of the new
        # files before anything destructive happens
        return count_staged(spark, tmp).rows

    rows = install_staged(spark, path, "compact", write)
    return {
        "files_before": before,
        "files_after": _count_files(Path(path)),
        "rows": rows,
    }


def new_vs_index_candidates(
    new_bands: DataFrame,
    index_bands: DataFrame,
    key: str = "doc_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Candidate near-dup pairs between a NEW batch's band table and an
    index band table: (new_id, index_id, n_shared_bands) — one
    equi-join on (band, sig), never new x corpus. This is the pair
    REPORT form (who collided with whom — the CLI ``dedup-probe``
    display); the drop-decision workflow (:func:`incremental_dedup`)
    deliberately does NOT use it: a degenerate band signature shared
    by M indexed and k new documents makes this join's bucket k×M,
    while the decision needs only per-bucket statistics.

    Scale shape: the new batch is the small side — AQE broadcasts it,
    so the corpus-sized index NEVER shuffles (it streams through its
    scan); with runtime Bloom-filter join injection the index scan
    itself is pre-filtered to colliding signatures. Self-collisions
    within the new batch are the in-run :func:`minhash_lsh_candidates`
    join, deliberately separate.

    ``exclude_self`` drops ``new_id == index_id`` pairs: a document is
    not a duplicate of its own indexed signatures, so a crash-retry
    that re-probes a shard whose survivors were already appended
    reproduces the SAME survivor set instead of dropping everything
    (keys must be unique and stable corpus-wide — the standing
    assumption of any persisted dedup index). Set False to surface
    already-indexed keys, e.g. to detect an accidental double-feed."""
    x = new_bands.select(
        F.col(key).alias("new_id"), "band", "sig"
    ).alias("x")
    y = index_bands.select(
        F.col(key).alias("index_id"), "band", "sig"
    ).alias("y")
    # no presentation orderBy here: programmatic consumers
    # (incremental_dedup's distinct/anti-join) would pay a useless
    # global sort — display paths order at their own edge
    joined = x.join(y, on=["band", "sig"])
    if exclude_self:
        joined = joined.filter(F.col("new_id") != F.col("index_id"))
    return joined.groupBy("new_id", "index_id").agg(
        F.count(F.lit(1)).alias("n_shared_bands")
    )


def index_collision_ids(
    new_bands: DataFrame, index_bands: DataFrame, key: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """The pair-free cross-run probe (the hot-band guard, round-10
    verdict finding #2): per new document, decide "does any touched
    bucket hold ANOTHER indexed id" without enumerating (new, index)
    pairs — a degenerate band signature shared by M indexed and k new
    documents used to make the pair join's bucket k×M; here it
    contributes M rows to one map-side-combinable count/min aggregate.

    Returns ``(cross_hits, already_indexed)``, both distinct id-only
    frames: collisions with OTHER indexed documents (the drop set),
    and keys already indexed under their own id (retry detection). A
    bucket proves an other-document collision iff it holds >= 2 index
    ids (per-bucket ids are distinct: one row per (key, band)) or its
    single id is not the probing document itself; self-membership is
    an exact-row (key, band, sig) semi-join with at most one index
    match per new row.

    Scale shape: the shard's distinct signatures broadcast, so only
    touched index rows leave the scan and the corpus-sized index never
    shuffles raw rows (the aggregate's shuffle carries ~#touched
    buckets). Plan-asserted in tests/test_band_hotspot.py; output
    equality vs the pair-enumeration form is pinned there and in the
    scripts/bench_band_hotspot.py harness.
    """
    new_sigs = new_bands.select("band", "sig").distinct()
    touched = index_bands.join(
        F.broadcast(new_sigs), ["band", "sig"], "left_semi"
    )
    stats = touched.groupBy("band", "sig").agg(
        F.count(F.lit(1)).alias("__n_idx"), F.min(key).alias("__min_idx")
    )
    cross_hits = (
        new_bands.join(stats, ["band", "sig"])
        .filter(
            (F.col("__n_idx") >= 2) | (F.col("__min_idx") != F.col(key))
        )
        .select(key)
        .distinct()
    )
    already_indexed = (
        new_bands.join(index_bands, [key, "band", "sig"], "left_semi")
        .select(key)
        .distinct()
    )
    return cross_hits, already_indexed


def minhash_probe_new(
    new_df: DataFrame,
    path: str,
    text: str = "text",
    exclude_self: bool = True,
) -> DataFrame:
    """Probe a new shard against a persisted index: which incoming
    documents near-dup-collide with ANY already-indexed document
    (new_id, index_id, n_shared_bands). Signature recipe comes from
    the layout's ``_meta``; the join shape is
    :func:`new_vs_index_candidates`. ``exclude_self=False`` surfaces
    already-indexed keys (double-feed detection)."""
    spark = new_df.sparkSession
    index_bands, meta = read_minhash_index(spark, path)
    new_bands = minhash_band_table(
        new_df,
        text=text,
        key=meta["key"],
        n=meta["n"],
        rows_per_band=meta["rows_per_band"],
        hash_mode=meta["hash_mode"],
    )
    return new_vs_index_candidates(
        new_bands, index_bands, key=meta["key"], exclude_self=exclude_self
    )


def incremental_dedup(
    new_df: DataFrame,
    path: str,
    text: str = "text",
    survivors_path: str | None = None,
    append_survivors: bool | None = None,
) -> DataFrame:
    """The daily-shard dedup workflow in one call: drop incoming
    documents that collide with the persisted index (cross-run
    near-dups) OR with an earlier-keyed collider inside the shard
    itself (in-run near-dups, keep-lowest-key), then append the
    SURVIVORS' signatures to the index so tomorrow's shard dedups
    against today's. Returns the surviving documents (all input
    columns).

    Index maintenance requires ``survivors_path``: survivors are
    PERSISTED there first and signatures appended after (the CLI
    ``dedup-probe --survivors-out`` ordering) — appending before the
    caller persists survivors would, on a crash in between, leave the
    index claiming documents that were never kept, and a retry would
    then drop the whole shard as "already seen". A retry after a
    SUCCESSFUL append is also safe: probes ignore ``new_id ==
    index_id`` self-matches (see :func:`new_vs_index_candidates`), so
    the same shard reproduces the same survivors, and keys the index
    already holds are skipped by the append, so the index gains no
    duplicate signature rows either. With neither
    ``survivors_path`` nor ``append_survivors`` this is a dry run
    (the default); ``append_survivors`` defaults to "append iff
    survivors_path is given", an explicit ``False`` persists the
    survivors but leaves the index untouched (a dry run with output),
    and ``True`` without a path is refused — that is exactly the
    unsafe ordering.

    Both anti-join sides reduce to a distinct id list before touching
    ``new_df`` (ids only — text never shuffles). The probe is
    pair-free: cross-run collisions come from per-bucket (count, min)
    statistics of only the index rows whose signatures the shard
    touches, and in-run collisions from the bucket-min form
    (:func:`keep_lowest_drop_ids`) — so a degenerate hot band costs
    the probe linear work, never a quadratic bucket (use
    :func:`minhash_probe_new` when you want the actual pair report)."""
    if append_survivors and survivors_path is None:
        raise ValueError(
            "append_survivors=True requires survivors_path: appending "
            "index signatures before the survivors are persisted is "
            "not crash-safe (see docstring / CLI dedup-probe)"
        )
    spark = new_df.sparkSession
    index_bands, meta = read_minhash_index(spark, path)
    key = meta["key"]
    new_bands = minhash_band_table(
        new_df,
        text=text,
        key=key,
        n=meta["n"],
        rows_per_band=meta["rows_per_band"],
        hash_mode=meta["hash_mode"],
    )
    cross_hits, already_indexed = index_collision_ids(
        new_bands, index_bands, key
    )
    already_indexed = already_indexed.localCheckpoint()
    # in-run keep-lowest: linear bucket-min form, never a pair join
    in_run_hits = keep_lowest_drop_ids(new_bands, key)
    # materialize the (tiny, ids-only) drop set once: without this,
    # the whole probe pipeline — shard signatures, index scan, both
    # joins — re-executes for the index append AND again when the
    # caller materializes the lazy survivors frame
    drop = cross_hits.unionByName(in_run_hits).distinct().localCheckpoint()
    survivors = new_df.join(drop, on=key, how="left_anti")
    do_append = (
        append_survivors
        if append_survivors is not None
        else survivors_path is not None
    )
    if survivors_path is not None:
        # persist survivors FIRST (staged, then installed by
        # install_staged — a torn write can never be mistaken for
        # output, and a failed write or install raises with the
        # previous survivors still in place and the index NOT
        # appended), THEN append their signatures — the crash-safe
        # ordering
        from etsd_time_series_database_spark.sources.store import (
            install_staged,
        )

        install_staged(
            spark, survivors_path, "survivors", survivors.write.parquet
        )
        if do_append:
            # survivors' signatures = the shard band table minus
            # dropped ids minus ROWS the index already holds. The
            # row-level (key, band, sig) exclusion matters on retry: a
            # crash DURING a previous append can leave a key with only
            # SOME of its band rows committed — excluding the whole
            # key would leave those bands missing forever, excluding
            # exact rows completes the torn append without duplicating
            # the committed ones. The index-side rows are first
            # semi-joined down to the retry keys (tiny — AQE
            # broadcasts them), so the corpus-sized index still never
            # shuffles; with no retry keys this branch reduces to the
            # plain append.
            surviving_bands = new_bands.join(drop, on=key, how="left_anti")
            if already_indexed.limit(1).count() > 0:
                idx_retry_rows = index_bands.join(
                    already_indexed, on=key, how="left_semi"
                ).select(key, "band", "sig")
                surviving_bands = surviving_bands.join(
                    idx_retry_rows, on=[key, "band", "sig"],
                    how="left_anti",
                )
            surviving_bands.repartition(F.col("band")).write.mode(
                "append"
            ).partitionBy("band").parquet(path)
        return spark.read.parquet(survivors_path)
    return survivors


def dedup_funnel(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    source: str = "source",
    n: int = 3,
    rows_per_band: int = 2,
    hash_mode: str = "hash64",
) -> DataFrame:
    """Per-source dedup FUNNEL report: how many documents (and tokens)
    survive each stage of the standard pipeline — exact dedup
    (keep-lowest-key per identical text), then near dedup over the
    exact winners (drop a doc that shares any LSH band bucket with a
    lower-keyed winner — x74's keep-lowest rule, one hop, not
    transitive closure) — the data card a pipeline owner reads before
    committing a training mix (what did dedup cost each source?).

    Scale shape: the exact stage groups on xxhash64(text) in the
    default mode so bodies never shuffle (the x11 discipline; 'poly'
    selects the portable fingerprint for oracle parity); the near
    stage is the x74 band self-join (collision-bounded); all rollups
    are per-source hash-aggs; token counting is a scan-side
    expression. Drop decisions are GLOBAL (dedup is corpus-wide);
    only the reporting is per source.
    """
    if hash_mode == "poly":
        from etsd_time_series_database_spark.functions.exprs import (
            poly_fingerprint,
        )

        tfp = poly_fingerprint(F.col(text))
    else:
        tfp = F.xxhash64(F.col(text))
    from etsd_time_series_database_spark.operators.sampling import (
        whitespace_token_count,
    )

    n_tok = whitespace_token_count(text)
    base = df.select(
        F.col(key), F.col(source), F.col(text), tfp.alias("__tfp"),
        n_tok.alias("__ntok"),
    )
    winners_ids = (
        base.groupBy("__tfp")
        .agg(F.min(key).alias(key))
        .select(key)
    )
    winners = base.join(winners_ids, key, "left_semi")
    bands = minhash_band_table(
        winners, text, key, n, rows_per_band, hash_mode
    )
    # keep-lowest near drop via the linear bucket-min form — a hot
    # band bucket costs N rows here, never N²/2 pairs
    near_drop = keep_lowest_drop_ids(bands, key)
    kept = winners.join(near_drop, key, "left_anti")
    all_s = base.groupBy(source).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("__ntok").cast("bigint").alias("n_tokens"),
    )
    win_s = winners.groupBy(source).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact_kept")
    )
    kept_s = kept.groupBy(source).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.sum("__ntok").cast("bigint").alias("tokens_kept"),
    )
    return (
        all_s.join(win_s, source, "left")
        .join(kept_s, source, "left")
        .select(
            source,
            "n_docs",
            "n_tokens",
            F.coalesce("n_exact_kept", F.lit(0)).cast("bigint").alias(
                "n_exact_kept"
            ),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce("tokens_kept", F.lit(0)).cast("bigint").alias(
                "tokens_kept"
            ),
            F.round(
                F.coalesce("n_kept", F.lit(0)) / F.col("n_docs"), 6
            ).alias("pct_docs_kept"),
        )
        .orderBy(source)
    )


def cluster_pairs(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over candidate near-dup pairs: every doc in
    a pair gets the min doc id reachable through the pair graph as its
    ``component`` (the canonical representative).

    Iterative min-label propagation: each round joins labels across
    edges and takes the per-vertex min — O(diameter) rounds, each one
    join + one aggregate, converging in <= log2(n) rounds on typical
    near-dup graphs (small dense clusters). Lineage is cut with
    localCheckpoint each round so plans stay flat at scale; the loop
    stops early when a round changes nothing.

    This is the canonical Spark shape for iterative graph algorithms
    (label propagation / alternating join), used instead of an external
    graph library.
    """
    edges = (
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .unionByName(pairs.select(F.col(b).alias("src"), F.col(a).alias("dst")))
        .distinct()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("component")
    ).orderBy("doc_id")


def simhash(df: DataFrame, text: str = "text", key: str = "doc_id") -> DataFrame:
    """SimHash over whitespace tokens: per-token portable polynomial
    hash, bit-majority vote across tokens, 30-bit signature. One
    explode + one grouped aggregate (map-side combinable)."""
    tok_hash = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.length("tok")),
            lambda i: F.ascii(F.substr(F.col("tok"), i, F.lit(1))),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * 31 + x.cast("bigint")) % F.lit(FP_MOD),
    )
    toks = df.select(key, F.explode(_tokens(text)).alias("tok")).withColumn(
        "h", tok_hash
    )
    votes = toks.groupBy(key).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sig = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sig = term if sig is None else (sig + term)
    return votes.select(key, sig.alias("simhash")).orderBy(key)


def decontaminate(
    train: DataFrame,
    test: DataFrame,
    n: int = 5,
    min_overlap: int = 1,
    hash_mode: str = "hash64",
    text: str = "text",
    key: str = "doc_id",
    broadcast_test: bool = True,
) -> DataFrame:
    """Train/test contamination detection: (train doc, test doc) pairs
    sharing at least ``min_overlap`` distinct word n-gram shingles —
    the decontamination pass an eval-aware training pipeline runs
    before every training job.

    Shape: shingle both corpora, equi-join on the shingle id, count
    shared shingles per pair.  The eval/test side is tiny relative to
    a 100 TB train corpus, so with ``broadcast_test`` its shingles
    broadcast and the train side never shuffles — the whole pass is
    one scan over train.  hash_mode 'hash64' (xxhash64) is the scale
    path; 'raw' joins on the shingle string itself for cross-engine
    oracle parity.
    """
    tr = doc_shingles(train, text, key, n).withColumnRenamed(key, "train_id")
    te = doc_shingles(test, text, key, n).withColumnRenamed(key, "test_id")
    if hash_mode != "raw":
        tr = _shingle_ids(tr, hash_mode).drop("shingle")
        te = _shingle_ids(te, hash_mode).drop("shingle")
        join_col = "sid"
    else:
        join_col = "shingle"
    if broadcast_test:
        te = F.broadcast(te)
    return (
        tr.join(te, join_col)
        .groupBy("train_id", "test_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_overlap)
        .orderBy("train_id", "test_id")
    )


def _with_seg_counts(
    segs: DataFrame, key: str, fingerprint: bool, drop_text: bool = False
) -> DataFrame:
    """Join each segment row with the distinct-document count of its
    segment text.

    ``fingerprint=True`` (the scale default) groups and joins on
    ``xxhash64(__seg_txt)`` — a fixed 8-byte shuffle key instead of the
    raw (up to seg_tokens-word) string, halving-or-better the shuffle
    bytes of both the count aggregation and the count join; with
    ``drop_text`` the raw string never shuffles at all. A 64-bit
    collision (~n^2/2^65 for n distinct segments) would merge two
    unrelated segments' counts, so the exact raw-string form is
    retained as the equivalence oracle — the same quarantine pattern as
    ``cosine_pairs`` vs its bucketed twin — and a property test pins
    fingerprint-form == raw-form on seeded corpora.
    """
    grp = "__seg_fp" if fingerprint else "__seg_txt"
    if fingerprint:
        segs = segs.withColumn("__seg_fp", F.xxhash64("__seg_txt"))
        if drop_text:
            segs = segs.drop("__seg_txt")
    counts = segs.groupBy(grp).agg(
        F.count_distinct(F.col(key)).alias("__n_docs")
    )
    return segs.join(counts, grp)


def segment_dedup(
    df: DataFrame,
    seg_tokens: int = 8,
    max_docs: int = 1,
    text: str = "text",
    key: str = "doc_id",
    fingerprint: bool = True,
) -> DataFrame:
    """Exact-substring (segment-level) dedup: split each document into
    consecutive ``seg_tokens``-token segments and flag segments whose
    text occurs in more than ``max_docs`` distinct documents — the
    inline boilerplate-removal pass of C4/"Deduplicating Training Data
    Makes LMs Better", complementary to pairwise near-dup detection
    (MinHash finds similar DOCUMENTS; this removes repeated SPANS from
    otherwise-unique documents).

    Returns per-document accounting: segment count, segments removed,
    and tokens kept after removal — the driver table for an actual
    rewrite (join kept segments back and re-concatenate).

    Scale: segment explode is a JVM transform (scan-speed); the only
    shuffles are the segment count (by default a 64-bit xxhash64
    fingerprint of the segment is the shuffle key and the raw string
    never shuffles — pass ``fingerprint=False`` for the exact
    raw-string oracle form) and the per-doc rollup. The final
    ORDER BY is presentation-only.
    """
    toks = df.select(key, _tokens(text).alias("__toks")).filter(
        F.size("__toks") > 0
    )
    n_segs = F.ceil(F.size("__toks") / F.lit(seg_tokens)).cast("int")
    segs = toks.select(
        key,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_segs - 1),
                lambda i: F.slice(
                    F.col("__toks"), i * seg_tokens + 1, seg_tokens
                ),
            )
        ).alias("__seg"),
    ).select(
        key,
        F.array_join("__seg", " ").alias("__seg_txt"),
        F.size("__seg").alias("__seg_len"),
    )
    dup = F.col("__n_docs") > max_docs
    return (
        _with_seg_counts(segs, key, fingerprint, drop_text=True)
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(F.when(dup, 1).otherwise(0)).alias("removed_segments"),
            F.sum(F.when(dup, 0).otherwise(F.col("__seg_len"))).alias(
                "kept_tokens"
            ),
        )
        .orderBy(key)
    )


def segment_rewrite(
    df: DataFrame,
    seg_tokens: int = 8,
    max_docs: int = 1,
    text: str = "text",
    key: str = "doc_id",
    fingerprint: bool = True,
) -> DataFrame:
    """The actionable form of :func:`segment_dedup`: rebuild each
    document with its over-shared segments REMOVED — surviving
    segments re-concatenated in original order. Documents whose every
    segment is boilerplate (and token-empty documents) come back with
    empty ``clean_text``, so the output keys exactly mirror the input.

    Same shuffle profile as segment_dedup (fingerprint-keyed count by
    default; the segment text itself must still reach the rebuild, so
    unlike segment_dedup it rides the count join) plus one per-doc
    re-aggregation; the rebuilt text is bounded by the original
    document length, so collect_list per doc is safe at any corpus
    size (documents, not corpora, bound the array).
    """
    toks = df.select(key, _tokens(text).alias("__toks"))
    n_segs = F.ceil(F.size("__toks") / F.lit(seg_tokens)).cast("int")
    segs = (
        toks.filter(F.size("__toks") > 0)
        .select(
            key,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_segs - 1),
                    lambda i: F.slice(
                        F.col("__toks"), i * seg_tokens + 1, seg_tokens
                    ),
                )
            ).alias("__i", "__seg"),
        )
        .select(
            key,
            "__i",
            F.array_join("__seg", " ").alias("__seg_txt"),
            F.size("__seg").alias("__seg_len"),
        )
    )
    kept = _with_seg_counts(segs, key, fingerprint).filter(
        F.col("__n_docs") <= max_docs
    )
    rebuilt = kept.groupBy(key).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("__i", "__seg_txt"))),
                lambda s: s["__seg_txt"],
            ),
        ).alias("clean_text"),
        F.sum("__seg_len").alias("kept_tokens"),
    )
    return (
        df.select(key)
        .join(rebuilt, key, "left")
        .select(
            key,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("kept_tokens", F.lit(0).cast("bigint")).alias(
                "kept_tokens"
            ),
        )
        .orderBy(key)
    )


def cluster_reduction(
    df: DataFrame,
    pairs: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    a: str = "doc_a",
    b: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """The actionable form of :func:`cluster_pairs`: per near-dup
    component, the canonical (min-id) representative plus what keeping
    ONLY it saves — the corpus-reduction report a dedup pass hands to
    the pipeline owner before the destructive rewrite. Docs in no pair
    are their own singleton component, so components partition the
    corpus and the token columns sum to corpus totals.

    Scale: the component labels come from the iterative min-label
    propagation (bounded by paired docs — a small fraction of the
    corpus, AQE broadcasts the label table); the token count is a
    scan-side expression; the rollup is one map-side-combinable
    hash-agg keyed by component.
    """
    comps = cluster_pairs(pairs, a, b, max_iter).withColumnRenamed("doc_id", key)
    toks = df.select(F.col(key), F.size(_tokens(text)).alias("__nt"))
    labeled = toks.join(comps, key, "left").withColumn(
        "component", F.coalesce("component", F.col(key))
    )
    kept = F.when(F.col(key) == F.col("component"), F.col("__nt")).otherwise(0)
    return (
        labeled.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col(key) != F.col("component"), 1).otherwise(0)
            ).alias("n_dup_docs"),
            F.sum("__nt").cast("bigint").alias("total_tokens"),
            F.sum(kept).cast("bigint").alias("kept_tokens"),
            (F.sum("__nt") - F.sum(kept)).cast("bigint").alias("saved_tokens"),
        )
        .orderBy("component")
    )


def contamination_score(
    train: DataFrame,
    test: DataFrame,
    n: int = 5,
    text: str = "text",
    key: str = "doc_id",
) -> DataFrame:
    """Per-training-document contamination fraction: of the document's
    DISTINCT word n-gram shingles, what share appears anywhere in the
    held-out test set. The graded companion to :func:`decontaminate`
    (which reports pairwise hits): a pipeline thresholds this fraction
    (drop at >= 0.8 overlap, keep-and-log below) instead of dropping
    on a single shared shingle.

    The test shingle set is distinct-reduced (bounded by test-set
    size, AQE-broadcast) and the train side left-joins against it —
    the train corpus shuffles only its shingle keys. Fractions are one
    IEEE division of exact BIGINTs; documents too short to shingle
    report zero counts and a NULL fraction.
    """
    tr = train.select(F.col(key), _tokens(text).alias("__toks")).select(
        F.col(key),
        F.explode_outer(F.array_distinct(shingle_expr("__toks", n))).alias(
            "__sh"
        ),
    )
    te = (
        test.select(_tokens(text).alias("__toks"))
        .select(
            F.explode(F.array_distinct(shingle_expr("__toks", n))).alias("__sh")
        )
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        tr.join(te, "__sh", "left")
        .groupBy(key)
        .agg(
            F.count("__sh").cast("bigint").alias("n_shingles"),
            F.count("__hit").cast("bigint").alias("n_shared"),
        )
        .withColumn(
            "contamination",
            F.try_divide(F.col("n_shared"), F.col("n_shingles")),
        )
        .orderBy(key)
    )


def source_overlap(
    df: DataFrame,
    n: int = 3,
    text: str = "text",
    source: str = "source",
) -> DataFrame:
    """Cross-source duplication matrix: for every pair of corpus
    sources, the number of distinct word n-gram shingles they share
    and the shingle-set Jaccard — the provenance view a dedup pipeline
    reads to find which feeds copy from each other (and therefore
    which pairs to decontaminate or down-weight) before any per-doc
    work.

    Shape: Generate (explode) → ONE distinct on (source, shingle) —
    the only corpus-sized shuffle, map-side combinable; per-source
    set sizes are a hash-agg of that relation; candidate pairs come
    from the shingle-keyed self-equi-join, which is safe at scale
    because after the distinct each shingle's posting list is bounded
    by the SOURCE count (a small constant), so pairs-per-shingle is
    C(sources, 2) at worst, never O(rows²). Size joins broadcast the
    KB-sized per-source table. Pairs sharing no shingle are absent
    (inner join) — the matrix is sparse by construction.

    Determinism: pure set arithmetic on exact counts; Jaccard is one
    double division, rounded at the round-6 export convention.
    """
    sh = (
        df.select(F.col(source).alias("src"), _tokens(text).alias("__toks"))
        .select("src", F.explode(shingle_expr("__toks", n)).alias("__sh"))
        .distinct()
    )
    sizes = sh.groupBy("src").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("src").alias("source_a"), "__sh")
    b = sh.select(F.col("src").alias("source_b"), "__sh")
    shared = (
        a.join(b, "__sh")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("src").alias("source_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("src").alias("source_b"), F.col("n_sh").alias("n_b"))
    return (
        shared.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


def source_near_overlap(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    source: str = "source",
    n: int = 3,
    rows_per_band: int = 2,
    hash_mode: str = "hash64",
) -> DataFrame:
    """Cross-source NEAR-duplication matrix: for every source pair,
    how many document pairs LSH band-collide across the boundary and
    how many distinct documents on each side are involved — the
    near-dup complement of x59's exact shingle overlap (x59 says two
    feeds share phrasing; this says they share near-identical
    DOCUMENTS, the provenance signal that actually drives
    decontamination and down-weighting decisions).

    Shape: one band table (the x06 reduction), doc→source attached by
    an id-only join (text never travels), then the collision-bounded
    (band, sig) self-equi-join and one hash-agg per source pair.
    Within-source pairs are excluded (that is x06's job); the matrix
    is sparse (pairs with no collision are absent).
    """
    bands = minhash_band_table(df, text, key, n, rows_per_band, hash_mode)
    labeled = bands.join(
        df.select(F.col(key), F.col(source).alias("__src")), key
    )
    x, y = labeled.alias("x"), labeled.alias("y")
    pairs = (
        x.join(
            y,
            on=(F.col("x.band") == F.col("y.band"))
            & (F.col("x.sig") == F.col("y.sig"))
            & (F.col(f"x.{key}") < F.col(f"y.{key}")),
        )
        .filter(F.col("x.__src") != F.col("y.__src"))
        .select(
            F.least("x.__src", "y.__src").alias("source_a"),
            F.greatest("x.__src", "y.__src").alias("source_b"),
            F.when(
                F.col("x.__src") < F.col("y.__src"), F.col(f"x.{key}")
            )
            .otherwise(F.col(f"y.{key}"))
            .alias("doc_a"),
            F.when(
                F.col("x.__src") < F.col("y.__src"), F.col(f"y.{key}")
            )
            .otherwise(F.col(f"x.{key}"))
            .alias("doc_b"),
        )
        .distinct()
    )
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.countDistinct("doc_a").cast("bigint").alias("n_docs_a"),
            F.countDistinct("doc_b").cast("bigint").alias("n_docs_b"),
        )
        .orderBy("source_a", "source_b")
    )


def keep_best_canonical(
    df: DataFrame,
    pairs: DataFrame,
    text: str = "text",
    key: str = "doc_id",
) -> DataFrame:
    """Near-dup canonical selection by QUALITY: collapse candidate
    pairs to connected components (:func:`cluster_pairs`) and keep
    each cluster's highest-quality member — the production dedup
    policy (keep the best copy, not the earliest id; x09/x38 keep
    min-id). Singletons are their own component and survive.

    Per (component): the kept doc, member count, and its quality.
    Quality is x17's composite, quantized to round-6 BEFORE the argmax
    so sub-quantum differences tie deterministically to the lowest id
    on every engine; the argmax packs (quality, -id) into one
    order-preserving DECIMAL so the per-component reduction stays a
    map-side-combinable HashAggregate (the q35/x56 packing). Empty
    docs (undefined quality) rank at -1, below every real score.

    Scale: cluster_pairs is the iterative min-label propagation
    (bounded rounds, localCheckpoint); everything after is one
    broadcast-joinable label table + one hash-agg keyed by component.
    """
    from etsd_time_series_database_spark.operators.textstats import (
        quality_expr,
    )

    comp = cluster_pairs(pairs)
    q6 = F.coalesce(F.round(quality_expr(text), 6), F.lit(-1.0))
    lab = df.select(F.col(key), q6.alias("q6")).join(
        comp.withColumnRenamed("doc_id", key), key, "left"
    ).select(
        F.coalesce(F.col("component"), F.col(key)).alias("component"),
        F.col(key),
        "q6",
    )
    # q6's 1e-6 quantum must dominate the FULL id field: ids are
    # allowed 13 digits, so q6 shifts by 10^19 (1e-6 * 1e19 = 1e13 >
    # max id) — a single quality step outranks any id difference; the
    # earlier 10^13 shift let a 1e-6-better doc with a >=10^7-larger
    # id pack BELOW a worse doc, violating the keep-best contract.
    packed = (
        F.col("q6").cast("decimal(8,6)")
        * F.expr("CAST(10000000000000000000 AS DECIMAL(20,0))")
        - F.col(key).cast("decimal(13,0)")
    )
    return (
        lab.withColumn("__pk", packed)
        .groupBy("component")
        .agg(
            F.max_by(key, "__pk").alias("best_doc"),
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.max("q6").alias("best_quality"),
        )
        .orderBy("component")
    )
