"""Similarity search over embedding columns (array<float>).

Two paths, mirroring how ANN is actually deployed on Spark:
  * ``cosine_topk`` — brute-force exact top-k: one scan, cosine as a
    codegen'd fold (functions.exprs.dot_product), TakeOrderedAndProject
    for the limit. The correct baseline, and with column pruning the
    right answer up to surprisingly large corpora (k-selection is
    per-partition then merged — no global sort).
  * ``ivf_topk`` — IVF-style bucketed search: vectors are assigned to
    their nearest centroid offline (one broadcast join), queries probe
    only their own cell. At 100 TB the assignment is written as a
    partition column so a probe prunes to one cell's files; here
    centroids are k seed vectors for determinism.

All vector math is JVM-side (zip_with/aggregate); a Pandas-UDF +
numpy batch variant would win on very wide vectors but leaves
whole-stage codegen — measured at 64 dims the built-in fold wins.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.sql import Column

from etsd_time_series_database_spark.functions.exprs import (
    cosine_similarity as _cosine_any_width,
)
from etsd_time_series_database_spark.functions.exprs import (
    l2_norm as _l2_norm_any_width,
)

# Exact accumulator type for centroid means: embedding components are
# float32 (<= 2^53 exactly representable as double), summed as decimal
# so the mean is independent of partition/merge order.
DEC_KM = "decimal(38,12)"

# The catalog's embedding geometry. Every cosine/norm in this module
# carries this width hint: vectors of exactly this width run the
# guarded UNROLLED codegen chain (2.5x the interpreted
# zip_with/aggregate fold at 5M x 64 — scripts/bench_vector_fold.py),
# any other width falls back to the fold inside the same expression.
# Result-identical for every input by construction (exprs.dot_product
# docstring), so the hint is a pure speed knob, never a constraint.
EMB_WIDTH_HINT = 64


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    return _cosine_any_width(a, b, width=EMB_WIDTH_HINT)


def l2_norm(a: Column | str) -> Column:
    return _l2_norm_any_width(a, width=EMB_WIDTH_HINT)


def cosine_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine to the vector with id ``query_id``
    (excluded from results). Ties broken by key."""
    q = embeddings.filter(F.col(key) == query_id).select(
        F.col(vec).alias("__qv")
    )
    return (
        embeddings.filter(F.col(key) != query_id)
        .crossJoin(F.broadcast(q))
        .select(key, cosine_similarity(vec, "__qv").alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(key))
        .limit(k)
    )


def _assign_ordering(cos: Column, cent_id: Column, bits: Column) -> Column:
    """ONE DECIMAL(38,0) that orders exactly like
    ``struct(cos DOUBLE, -cent_id)`` over the reachable cosine domain:
    the IEEE-754 sortable-bits image of ``cos``
    (exprs.double_sortable_bits — order-isomorphic to Spark's double
    total order, no quantization) shifted left of a
    descending-cent_id tie term. A primitive ordering makes the
    assignment argmax a map-side-combinable HashAggregate where the
    struct ordering's non-mutable comparison buffer forced
    SortAggregate (round-15 #1; 20M-vector head-to-head in
    scripts/bench_ivf_argmax.py: task 1529 s -> 1366 s, both Sorts
    gone from the plan).

    Domain: the bits image is clamped to ±2^62 (= |cos| < 2) so the
    pack fits DECIMAL(38,0); every cosine reaches at most 1 + ulps,
    and a zero-norm vector raises on the ANSI 0/0 division before any
    NaN cosine exists, so the clamp never actually fires — it is a
    safety rail, documented here, not a behavior. The tie term
    (MAX_LONG - cent_id) is exact for the FULL bigint cent_id range.
    A NULL cosine (null vector) maps to a base BELOW every real pack
    instead of a NULL ordering — the struct form sorts nulls first
    (lowest) and still tie-breaks by cent_id, while max_by would
    silently skip null-ordered rows; this keeps the two forms
    identical even on degenerate null-vector input.

    ``bits`` is the already-materialized sortable-bits COLUMN
    (exprs.with_sortable_bits in :func:`_nearest_cell` — the
    projection-chain form evaluates the exponent/significand core
    once per row, 11x the nested single-expression form).
    """
    lim = F.lit(1 << 62)
    o = F.least(F.greatest(bits, -lim), lim)
    base = F.when(
        cos.isNull(),
        F.expr("CAST(-99000000000000000000000000000000000000 AS DECIMAL(38,0))"),
    ).otherwise(
        o.cast("decimal(19,0)")
        * F.expr("CAST(20000000000000000000 AS DECIMAL(20,0))")
    )
    return base + (
        F.lit((1 << 63) - 1).cast("decimal(20,0)")
        - cent_id.cast("decimal(19,0)")
    )


def _nearest_cell(scored: DataFrame, key: str, vec: str) -> DataFrame:
    """(key, vec, cent_id): the max-cosine centroid per vector from a
    scored (key, vec, cent_id, __cos) relation — ONE hash aggregation,
    map-side combinable, shuffling one row per vector.

    Physical shape (round-15): grouping on (key, vec) instead of
    carrying the vector through ``any_value`` — an ARRAY-typed
    aggregation buffer is non-mutable and forced the whole aggregate
    to SortAggregate even with a primitive argmax ordering; as a GROUP
    KEY the vector is just hashed bytes and the only buffers are the
    argmax's (BIGINT value, DECIMAL ordering), both mutable ->
    HashAggregate. ``vec`` is functionally dependent on ``key`` (one
    row per vector id), so the extra group column changes no result on
    such input. Two edges follow from grouping on it: Spark normalizes
    float group keys, so a returned ``vec`` carries 0.0 for -0.0 and
    one canonical NaN for any NaN payload; and duplicate rows for a
    key yield one output row per distinct ``(key, vec)``, not one per
    key."""
    from etsd_time_series_database_spark.functions.exprs import (
        with_sortable_bits,
    )

    d = with_sortable_bits(scored, F.col("__cos"), "__dsb_o")
    return (
        d.groupBy(key, vec)
        .agg(
            F.max_by(
                "cent_id",
                _assign_ordering(
                    F.col("__cos"), F.col("cent_id"), F.col("__dsb_o")
                ),
            ).alias("cent_id")
        )
        .select(key, vec, "cent_id")
    )


def assign_cells(
    embeddings: DataFrame,
    centroid_ids: list[int],
    key: str = "vec_id",
    vec: str = "embedding",
    _centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF cell assignment: nearest (max-cosine) centroid per vector.
    Deterministic ties: lowest centroid id wins. Centroids broadcast;
    the corpus shuffles exactly once (the argmax hash aggregation, with
    map-side partial combine — see :func:`_nearest_cell`). Pass
    ``_centroids`` (a (cent_id, cent_vec) frame, e.g. from
    :func:`kmeans_refine`) to assign against refined centroids instead
    of seed vectors."""
    if _centroids is not None:
        cents = _centroids
    else:
        cents = embeddings.filter(F.col(key).isin(centroid_ids)).select(
            F.col(key).alias("cent_id"), F.col(vec).alias("cent_vec")
        )
    scored = embeddings.crossJoin(F.broadcast(cents)).select(
        key,
        vec,
        "cent_id",
        cosine_similarity(vec, "cent_vec").alias("__cos"),
    )
    return _nearest_cell(scored, key, vec)


def cell_balance_profile(
    embeddings: DataFrame,
    centroid_ids: list[int],
    key: str = "vec_id",
    vec: str = "embedding",
    _centroids: DataFrame | None = None,
) -> DataFrame:
    """Per-cell load profile of the IVF layout — the ANN twin of the
    dedup side's band-load profile (x82): before serving (or
    re-clustering), read how balanced the cells are. A probe of
    ``nprobe`` cells scans the SUM of their ``n_vecs``, so a hot cell
    is directly the serving-latency tail; a near-empty cell wastes a
    centroid (re-seed or re-run kmeans_refine).

    Per cell: vector count and corpus share. Assignment is the same
    broadcast argmax as every IVF path (one map-side-combinable
    aggregate over the corpus); the share window runs over the
    CELL-cardinality table — nlist rows, a config constant, never
    corpus volume.
    """
    from pyspark.sql import Window

    counts = (
        assign_cells(embeddings, centroid_ids, key, vec, _centroids)
        .groupBy("cent_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
    )
    total = F.sum("n_vecs").over(Window.partitionBy())
    return (
        counts.select(
            "cent_id",
            "n_vecs",
            F.round(F.col("n_vecs") / total, 6).alias("pct_corpus"),
        )
        .orderBy("cent_id")
    )


def ivf_topk(
    embeddings: DataFrame,
    query_id: int,
    centroid_ids: list[int],
    k: int = 5,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Approximate top-k: search only the query's IVF cell."""
    cells = assign_cells(embeddings, centroid_ids, key, vec)
    q_cell = cells.filter(F.col(key) == query_id).select(
        F.col("cent_id").alias("__qcell"), F.col(vec).alias("__qv")
    )
    return (
        cells.crossJoin(F.broadcast(q_cell))
        .filter((F.col("cent_id") == F.col("__qcell")) & (F.col(key) != query_id))
        .select(key, cosine_similarity(vec, "__qv").alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(key))
        .limit(k)
    )


def ann_recall(
    embeddings: DataFrame,
    query_id: int,
    centroid_ids: list[int],
    k: int = 5,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Recall@k of the IVF probe against the exact scan — the
    accept/reject metric for an ANN index configuration (nlist /
    nprobe tuning always reports this number). One row: (k, n_hits,
    recall).

    Composes :func:`cosine_topk` (ground truth) and :func:`ivf_topk`
    (the approximate path under test); both sides are TakeOrdered
    top-k's, so the comparison itself joins two k-row relations —
    driver-scale work regardless of corpus size.
    """
    exact = cosine_topk(embeddings, query_id, k, key, vec).select(F.col(key))
    approx = ivf_topk(embeddings, query_id, centroid_ids, k, key, vec).select(
        F.col(key)
    )
    return (
        exact.join(approx, key, "left_semi")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select(
            F.lit(k).cast("int").alias("k"),
            F.col("n_hits").cast("bigint").alias("n_hits"),
            (F.col("n_hits") * F.lit(1.0) / F.lit(k)).alias("recall"),
        )
    )


def cosine_pairs(
    embeddings: DataFrame,
    threshold: float,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs: all (a < b) with cosine >=
    threshold. Brute O(n^2) — the verification path; at scale run it
    per LSH/IVF bucket instead (same inner expression)."""
    a = embeddings.select(F.col(key).alias("id_a"), F.col(vec).alias("va"))
    b = embeddings.select(F.col(key).alias("id_b"), F.col(vec).alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine_similarity("va", "vb").alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .orderBy("id_a", "id_b")
    )


def cosine_pairs_bucketed(
    embeddings: DataFrame,
    threshold: float,
    centroid_ids: list[int],
    probes: int = 2,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs via IVF-bucketed candidate
    generation — the scale path that replaces :func:`cosine_pairs`'
    all-pairs cross join.

    Each vector is scored against the broadcast centroids and assigned
    to its ``probes`` nearest cells (multi-probe: a pair straddling one
    cell boundary is still co-bucketed in the neighbour cell). Candidate
    pairs are the within-cell self-equi-join on ``cent_id`` — a hash
    join, never a CartesianProduct — deduped across probes, then the
    exact cosine filter runs per candidate only.

    Scale notes: work is O(sum over cells of |cell|^2) instead of
    O(n^2); parallelism equals the number of cells, so size the
    centroid list with the corpus (IVF practice: nlist ~ sqrt(n),
    recall tuned by ``probes``). The centroid scoring side is a
    broadcast — the corpus never shuffles until the (high-cardinality
    ``key``) rank window and the bucket join.
    """
    from pyspark.sql.window import Window

    cents = embeddings.filter(F.col(key).isin(centroid_ids)).select(
        F.col(key).alias("cent_id"), F.col(vec).alias("cent_vec")
    )
    scored = embeddings.crossJoin(F.broadcast(cents)).select(
        key,
        vec,
        "cent_id",
        cosine_similarity(vec, "cent_vec").alias("__cos"),
    )
    w = Window.partitionBy(key).orderBy(F.col("__cos").desc(), F.col("cent_id"))
    cells = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= probes)
        .select(key, vec, "cent_id")
    )
    a = cells.select(
        F.col(key).alias("id_a"), F.col(vec).alias("va"), "cent_id"
    )
    b = cells.select(
        F.col(key).alias("id_b"), F.col(vec).alias("vb"), "cent_id"
    )
    return (
        a.join(b, "cent_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine_similarity("va", "vb").alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
        .orderBy("id_a", "id_b")
    )


def cosine_topk_arrow(
    embeddings: DataFrame,
    query_vec: list[float],
    query_id: int | None = None,
    k: int = 10,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k via an Arrow-batched Pandas UDF doing
    numpy matrix math — the wide-vector alternative to the JVM fold of
    :func:`cosine_topk`.

    At 64 dims the codegen fold wins (no JVM<->Python hop); past a few
    hundred dims the O(dims) per-row lambda chain loses to one
    vectorized (batch x dims) @ (dims,) matmul per Arrow batch. The
    query vector ships inside the UDF closure (broadcast by task
    serialization), so the big side still never shuffles and the limit
    is still TakeOrderedAndProject.
    """
    from pyspark.sql.functions import pandas_udf

    q = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(q)

    @pandas_udf("double")
    def cos(batch: pd.Series) -> pd.Series:
        m = np.stack(batch.to_numpy()).astype(np.float64)  # (rows, dims)
        dots = m @ q
        norms = np.linalg.norm(m, axis=1) * qn
        return pd.Series(dots / norms)

    out = embeddings
    if query_id is not None:
        out = out.filter(F.col(key) != query_id)
    return (
        out.select(key, cos(F.col(vec)).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(key))
        .limit(k)
    )


def kmeans_refine(
    embeddings: DataFrame,
    centroid_ids: list[int],
    n_iter: int = 3,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Lloyd refinement of the IVF centroids, pure DataFrame ops:
    assign every vector to its nearest centroid (broadcast, max-cosine),
    recompute each cell's mean vector, repeat.

    The assignment is ONE shuffle of the corpus per iteration — the
    shared argmax hash aggregation of :func:`_nearest_cell` (one row
    per vector). The mean of array columns is then computed
    relationally: posexplode to (cell, dim_pos, component) ->
    groupBy(cell, dim_pos) exact-decimal mean -> re-assemble with
    array_agg sorted by position. The posexplode rows NEVER hit the
    wire: the partial aggregation combines them map-side to
    (cells x dims) rows per task before either exchange, so the
    explode multiplies per-task rows, not shuffle bytes. A round-15
    "wide" alternative — one groupBy(cell) hash agg holding dims
    DECIMAL(38,12) sum buffers, no explode — measured 15% MORE task
    time at 1M x 64 (scripts/bench_kmeans_mean.py: 69.2 s -> 79.6 s):
    updating 64 BigDecimal buffer columns per input row costs more
    than the explode machinery plus one decimal add per generated
    row. Measured and rejected; recorded so it is not re-attempted.

    The per-dimension mean is an exact DECIMAL(38,12) sum divided by
    the exact count (the registry's order-independence policy), so the
    refined centroids are bit-identical regardless of partitioning —
    Spark and a sequential oracle agree, and both engines round
    double->decimal ties identically (half away from zero, verified).

    Returns (cent_id, cent_vec) — feed to ivf_topk via assign_cells
    with these refined centroids materialized as a broadcastable dim.
    """
    cents = embeddings.filter(F.col(key).isin(centroid_ids)).select(
        F.col(key).alias("cent_id"), F.col(vec).alias("cent_vec")
    )
    for _ in range(n_iter):
        scored = embeddings.crossJoin(F.broadcast(cents)).select(
            key,
            vec,
            "cent_id",
            cosine_similarity(vec, "cent_vec").alias("__cos"),
        )
        # One shuffle per iteration: the shared argmax hash
        # aggregation (one row per vector; see _nearest_cell).
        assigned = _nearest_cell(scored, key, vec)
        comps = assigned.select(
            "cent_id", F.posexplode(F.col(vec)).alias("__pos", "__x")
        )
        means = comps.groupBy("cent_id", "__pos").agg(
            (
                F.sum(F.col("__x").cast("double").cast(DEC_KM)).cast("double")
                / F.count(F.lit(1))
            ).alias("__m")
        )
        cents = (
            means.groupBy("cent_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("__pos", "__m"))
                ).alias("__pm")
            )
            .select(
                "cent_id",
                F.transform(F.col("__pm"), lambda s: s["__m"].cast("float")).alias(
                    "cent_vec"
                ),
            )
            .localCheckpoint()
        )
    return cents


def kmeans_cells(
    embeddings: DataFrame,
    centroid_ids: list[int],
    n_iter: int = 2,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Catalog/oracle view of :func:`kmeans_refine`: run ``n_iter``
    Lloyd iterations, then emit the refined centroids exploded to
    scalar rows — (cent_id, dim, centroid, cluster_n), one row per
    centroid component — plus each cell's final population from one
    closing assignment pass.

    Scalar rows (not array columns) so the driver's canonicalizer can
    hash the result, and so a fixed-CTE SQL oracle can reproduce the
    whole iteration exactly: every arithmetic step is either a
    sequential per-row fold (cosine) or an exact decimal mean, both
    bit-portable across engines.
    """
    cents = kmeans_refine(embeddings, centroid_ids, n_iter, key, vec)
    sizes = (
        assign_cells(embeddings, centroid_ids, key, vec, _centroids=cents)
        .groupBy("cent_id")
        .agg(F.count(F.lit(1)).alias("cluster_n"))
    )
    return (
        cents.select(
            "cent_id", F.posexplode("cent_vec").alias("dim", "centroid")
        )
        .join(sizes, "cent_id", "left")
        .select(
            "cent_id",
            F.col("dim").cast("int").alias("dim"),
            F.col("centroid").cast("double").alias("centroid"),
            F.coalesce("cluster_n", F.lit(0)).alias("cluster_n"),
        )
        .orderBy("cent_id", "dim")
    )


def normalize_quantize(
    df: DataFrame, vec: str = "embedding", key: str = "vec_id"
) -> DataFrame:
    """L2-normalize embeddings and scalar-quantize to int8 range:
    q_i = floor(x_i / ||x|| * 127 + 0.5) ∈ [-127, 127] — the
    preprocessing ANN indexes (IVF-SQ8 style) apply before storage,
    cutting vector bytes 4x vs float32.

    Pure per-row JVM lambdas (transform/aggregate): zero shuffle,
    scan-speed.  floor(x + 0.5) is used instead of round() because
    round's half-way rule differs across engines while floor does not;
    the norm folds sequentially (F.aggregate == DuckDB list_reduce) so
    every engine quantizes identically.
    """
    v = F.col(vec)
    norm = l2_norm(vec)
    q = F.transform(
        v,
        lambda x: F.floor(x.cast("double") / F.col("__norm") * 127.0 + 0.5).cast(
            "int"
        ),
    )
    return (
        df.withColumn("__norm", norm)
        .select(
            key,
            F.col("__norm").alias("norm"),
            F.when(F.col("__norm") > 0, q).otherwise(
                F.transform(v, lambda x: F.lit(0).cast("int"))
            ).alias("q8"),
        )
        .orderBy(key)
    )


def write_ivf_partitioned(
    embeddings: DataFrame,
    centroid_ids: list[int],
    path: str,
    mode: str = "overwrite",
    key: str = "vec_id",
    vec: str = "embedding",
    _centroids: DataFrame | None = None,
) -> None:
    """Materialize the corpus partitioned BY IVF CELL — the 100 TB
    serving layout the probe-side operators assume: with ``cent_id``
    as a directory partition column, a single-cell probe
    (:func:`ivf_topk`'s search set) becomes Catalyst partition
    pruning, so the scan touches one cell's files instead of the
    whole corpus. Pass ``_centroids`` (e.g. :func:`kmeans_refine`
    output) to lay out by refined centroids.

    ``repartition(cent_id)`` before the write gives one task per cell
    (each writes one file per cell directory, no small-file spray).

    The centroid table itself (cent_id, cent_vec — nlist rows of index
    metadata) is persisted under ``{path}/_centroids``: underscore
    paths are invisible to Spark's parquet listing, so corpus reads
    are unaffected, and the layout is self-contained — a prober needs
    only the index path to plan cells (:func:`read_centroids` +
    :func:`nearest_cells`).
    """
    if _centroids is not None:
        cents = _centroids
    else:
        cents = embeddings.filter(F.col(key).isin(centroid_ids)).select(
            F.col(key).alias("cent_id"), F.col(vec).alias("cent_vec")
        )
    assign_cells(embeddings, centroid_ids, key, vec, cents).repartition(
        F.col("cent_id")
    ).write.mode(mode).partitionBy("cent_id").parquet(path)
    cents.coalesce(1).write.mode("overwrite").parquet(path + "/_centroids")
    from etsd_time_series_database_spark.sources.store import (
        write_meta_sidecar,
    )

    write_meta_sidecar(
        cents.sparkSession,
        path,
        IVF_META,
        _derive_ivf_meta(cents.sparkSession, path, key, vec),
    )


def read_centroids(spark, path: str) -> DataFrame:
    """The (cent_id, cent_vec) table a :func:`write_ivf_partitioned`
    layout carries under ``{path}/_centroids``."""
    return spark.read.parquet(path + "/_centroids")


IVF_META = "_centroids_meta.json"


def read_ivf_meta(spark, path: str) -> dict | None:
    """The ``_centroids_meta.json`` sidecar of an IVF layout — its
    build geometry (``dim``/``metric``/``nlist``) and column contract
    (``key``/``vec``) — or None for a layout that predates it."""
    from etsd_time_series_database_spark.sources.store import (
        read_meta_sidecar,
    )

    return read_meta_sidecar(spark, path, IVF_META)


def _derive_ivf_meta(spark, path: str, key: str, vec: str) -> dict:
    """The layout's geometry derived from its own authoritative
    ``_centroids`` table — the ONE construction both the write-time
    stamp and the pre-sidecar adoption use, so the two can't drift."""
    cents = read_centroids(spark, path)
    first = cents.select(F.size("cent_vec").alias("d")).first()
    if first is None:
        raise ValueError(f"ivf: {path}/_centroids is empty")
    return {
        "dim": int(first["d"]),
        "metric": "cosine",
        "nlist": int(cents.count()),
        "key": key,
        "vec": vec,
    }


def check_ivf_meta(
    spark, path: str, key: str, vec: str, adopt: bool = True
) -> dict | None:
    """Validate caller parameters against the IVF layout's sidecar —
    the digest/downsample-tier pattern applied to the ANN index: the
    geometry (vector dim, metric) and the column contract evolve only
    through write/rebalance, so a probe or append run with OTHER
    parameters is a caller bug that would otherwise surface as silent
    garbage similarity (wrong ``vec``) or a corrupt mixed-dim cell
    (wrong embedding width). Raises ValueError on mismatch.

    Pre-sidecar layouts (``adopt=True``): the geometry is DERIVED from
    the layout's own authoritative ``_centroids`` table (dim from the
    stored vectors, nlist from the row count) and the caller's
    key/vec are validated against the corpus schema before being
    stamped — adoption never trusts an unverified claim, exactly like
    :func:`sources.store.buckets_misaligned` adoption. Read-only
    callers pass ``adopt=False`` and simply skip checks the missing
    sidecar cannot support."""
    from etsd_time_series_database_spark.sources.store import (
        write_meta_sidecar,
    )

    meta = read_ivf_meta(spark, path)
    if meta is not None:
        if meta["key"] != key or meta["vec"] != vec:
            raise ValueError(
                f"ivf: layout {path} was built with key="
                f"{meta['key']!r} vec={meta['vec']!r} but this call "
                f"passed key={key!r} vec={vec!r} — pass the layout's "
                "own columns (see its _centroids_meta.json)"
            )
        return meta
    if not adopt:
        return None
    cols = spark.read.parquet(path).columns
    missing = [c for c in (key, vec) if c not in cols]
    if missing:
        raise ValueError(
            f"ivf: cannot adopt key={key!r} vec={vec!r} for the "
            f"pre-sidecar layout {path} — column(s) {missing} do not "
            "exist in the corpus; pass the layout's own columns"
        )
    meta = _derive_ivf_meta(spark, path, key, vec)
    write_meta_sidecar(spark, path, IVF_META, meta)
    return meta


def ivf_append(
    new_embeddings: DataFrame,
    path: str,
    key: str = "vec_id",
    vec: str = "embedding",
) -> None:
    """Incremental index maintenance: assign a NEW batch of vectors
    against the layout's own stored centroids and append them into the
    existing cell directories — the streaming/ingest side of the IVF
    serving path (a fresh corpus-wide rebuild only happens when the
    centroids themselves are retrained).

    Only the new batch is scanned and shuffled; existing cell files
    are untouched (dynamic partition append), so maintenance cost is
    O(batch), not O(corpus). Probes see the union immediately —
    partition pruning works per directory, not per file age.
    """
    spark = new_embeddings.sparkSession
    # check_ivf_meta (adopt=True) always returns a meta or raises —
    # there is no sidecar-less path past this line
    meta = check_ivf_meta(spark, path, key, vec)
    # a wrong-width batch would poison every cell it lands in with
    # vectors no probe can score — one O(batch) pass refuses it up
    # front (the mixed-bucket guard of the tier sidecars, applied to
    # embedding geometry)
    bad = (
        new_embeddings.filter(F.size(F.col(vec)) != int(meta["dim"]))
        .limit(1)
        .count()
    )
    if bad:
        raise ValueError(
            f"ivf_append: batch holds vectors whose width differs "
            f"from the layout's dim={meta['dim']} — appending "
            "would corrupt the cells; re-embed or rebuild the "
            "index"
        )
    cents = read_centroids(spark, path)
    assign_cells(new_embeddings, [], key, vec, _centroids=cents).repartition(
        F.col("cent_id")
    ).write.mode("append").partitionBy("cent_id").parquet(path)


def ivf_compact(
    spark,
    path: str,
    files_per_cell: int = 1,
    key: str = "vec_id",
) -> dict:
    """TARGETED small-file compaction of a :func:`write_ivf_partitioned`
    layout: every :func:`ivf_append` adds one file per touched cell, so
    an append-heavy index turns each ``cent_id=`` directory into
    hundreds of small files and probe latency pays per-file
    open/footer cost instead of bandwidth — the same failure mode
    :func:`operators.dedup.minhash_index_compact` fixes for the band
    index, but handled PER CELL here: only cells holding more than
    ``files_per_cell`` parquet files are read or rewritten at all
    (their input files are reported in ``compact_input_files`` so
    tests can pin the scan scope, the :func:`rebalance_cells`
    contract), every other cell — and ``_centroids`` — is untouched
    on disk. At 100 TB "compact the index" must not mean "rewrite the
    index"; appends concentrate in the cells current data maps to, so
    compaction cost tracks the append skew, not the corpus.

    All fragmented cells rewrite in ONE Spark job (multi-dir read with
    ``basePath`` so the scan stays scoped to exactly those cells; a
    ``partitionBy(cent_id)`` staged write splits the output per cell),
    then each cell installs through ``sources.store.swap_in_dir`` —
    per-cell work after the job is driver FS metadata,
    not job submission. The prior per-cell-job loop serialized ~0.5 s
    of submission latency per cell (measured,
    scripts/bench_maintenance_verbs.py), which dominates on a badly
    fragmented index where each cell's data is tiny. Per-cell row
    conservation is checked on the staged copy BEFORE any destructive
    rename; a crash mid-swap leaves every cell either old or new
    (rollback-able ``__old_*``), never double-counted. Vectors,
    assignments, and probe results are byte-equal before/after; only
    the file layout changes. Single-writer maintenance, like the
    append job itself. Returns {cells_compacted, files_before,
    files_after, rows, compact_input_files}.

    Reference analog: the reference compacts nothing (fixed-size
    blocks); this is lifecycle the Spark layout needs instead.
    """
    from etsd_time_series_database_spark.sources.store import (
        _hadoop_fs,
        staging_dir,
        swap_in_dir,
    )

    fs, Path = _hadoop_fs(spark, path)
    stats: dict = {
        "cells_compacted": 0,
        "files_before": 0,
        "files_after": 0,
        "rows": 0,
        "compact_input_files": [],
    }
    cells = sorted(
        st.getPath().getName()
        for st in fs.listStatus(Path(path))
        if st.isDirectory() and st.getPath().getName().startswith("cent_id=")
    )
    fragmented: list[str] = []
    for cell in cells:
        n_files = sum(
            1
            for f in fs.listStatus(Path(f"{path}/{cell}"))
            if f.getPath().getName().endswith(".parquet")
        )
        stats["files_before"] += n_files
        if n_files > int(files_per_cell):
            fragmented.append(cell)
        else:
            stats["files_after"] += n_files
    if not fragmented:
        return stats

    # ONE Spark job over ALL fragmented cells (round-13 verdict #3:
    # the sequential per-cell loop serialized ~0.5 s of job-submission
    # latency per cell — measured in scripts/bench_maintenance_verbs.py
    # — which dominates on a badly fragmented index where each cell's
    # data is tiny). The multi-dir read keeps the scan scoped to
    # exactly the fragmented cells (basePath preserves cent_id;
    # compact_input_files still pins the scope), partitionBy(cent_id)
    # splits the staged output per cell, and only the rename swaps
    # remain per-cell — driver FS metadata ops, not jobs.
    df = spark.read.option("basePath", path).parquet(
        *[f"{path}/{c}" for c in fragmented]
    )
    stats["compact_input_files"].extend(df.inputFiles())
    src_counts = {
        int(r["cent_id"]): r["n"]
        for r in df.groupBy("cent_id").agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if int(files_per_cell) > 1:
        # explicit count: AQE coalesces a column-only repartition,
        # collapsing the per-cell fan-out salt
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        staged = df.repartition(
            n_part,
            F.col("cent_id"),
            F.pmod(F.abs(F.hash(key)), F.lit(int(files_per_cell))),
        )
    else:
        staged = df.repartition(F.col("cent_id"))
    # one staging root beside the cells; partitionBy splits it per
    # cell. It is deleted however the rest ends: a failed write, count
    # or swap leaves the live cells old or new, never the root
    tmp = staging_dir(f"{path}/{fragmented[0]}", "ivfc")
    try:
        (
            staged.sortWithinPartitions("cent_id", key)
            .write.partitionBy("cent_id")
            .parquet(tmp)
        )
        # readability + per-cell row-conservation of the compacted copy
        # BEFORE anything destructive happens: a lossy rewrite must not
        # replace the only copy of a cell
        new_counts = {
            int(r["cent_id"]): r["n"]
            for r in spark.read.parquet(tmp)
            .groupBy("cent_id").agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        if new_counts != src_counts:
            bad = sorted(
                set(src_counts) ^ set(new_counts)
                | {c for c in src_counts
                   if new_counts.get(c) != src_counts[c]}
            )
            raise IOError(
                f"ivf_compact: compacted copy disagrees with source on "
                f"cell(s) {bad} — index left untouched"
            )
        for cell in fragmented:
            cid = int(cell.split("=", 1)[1])
            if cid in src_counts:
                stats["rows"] += src_counts[cid]
                swap_in_dir(
                    fs, Path, f"{tmp}/{cell}", f"{path}/{cell}",
                    "ivf_compact",
                )
                stats["cells_compacted"] += 1
            # else only empty files: nothing staged for this cell
            stats["files_after"] += sum(
                1
                for f in fs.listStatus(Path(f"{path}/{cell}"))
                if f.getPath().getName().endswith(".parquet")
            )
    finally:
        fs.delete(Path(tmp), True)
    return stats


def rebalance_cells(
    spark,
    path: str,
    hot_threshold: int,
    empty_threshold: int = 0,
    split_factor: int = 2,
    n_iter: int = 2,
    key: str = "vec_id",
    vec: str = "embedding",
) -> dict:
    """TARGETED rebalance of a :func:`write_ivf_partitioned` layout
    (round-11 verdict #3 — x83 observes imbalance, this acts on it):
    split each cell holding more than ``hot_threshold`` vectors into
    ``split_factor`` sub-cells via a LOCAL Lloyd refinement over that
    cell's vectors only, retire cells at or under ``empty_threshold``
    (their vectors reassign to the nearest surviving centroid), and
    rewrite ONLY the affected partition directories — everything else
    is untouched on disk. The alternative this replaces is re-running
    kmeans over the whole corpus because one cell went hot.

    Mechanics, in order:

    1. Per-cell counts from one count-only scan (no data columns read
       — parquet row-group metadata) pick the hot and empty sets.
    2. Each hot cell's directory is read BY PATH (``.../cent_id=H`` —
       untouched cells are structurally outside the scan; the files
       actually read are returned in ``split_input_files`` so tests
       can pin it), refined with :func:`kmeans_refine` seeded by the
       cell's ``split_factor`` lowest keys, and its vectors assigned
       to the refined sub-centroids. Sub-cells get fresh ids
       ``max(cent_id) + 1 ...`` allocated over hot cells ascending,
       sub-seeds by ascending seed key — deterministic, so a SQL
       oracle can reproduce the whole operation (x86).
    3. The new sub-cell dirs install via the same staged-rename
       protocol as the store verbs: data lands under an
       underscore-temp (invisible to Spark's listing), the hot dir
       moves aside, sub-dirs rename in, the old dir is deleted last —
       a crash leaves either the old cell or a rollback-able
       ``__old_*``, never double-counted vectors.
    4. Retired cells' vectors (if any) append into surviving cell
       dirs via the :func:`ivf_append` path (O(retired rows)), then
       the empty dirs are removed.
    5. ``_centroids`` is rewritten (split + retired ids out, sub-ids
       in) through ``sources.store.install_staged``, so probers
       re-plan against the new geometry atomically.

    Cost: O(hot + retired cells' data); the corpus is never reshuffled
    and untouched dirs are never rewritten (byte-identical — pinned in
    tests/test_scale_layout.py). Single-writer maintenance, like
    compaction. Returns {split: {old: [new ids]}, retired: [...],
    reassigned: n, split_input_files: [...]}.

    Reference analog: none — the reference has no ANN surface; this is
    the LLM-pipeline half of the brief (index maintenance under skew,
    the serving-latency-tail fix x83 measures).
    """
    from etsd_time_series_database_spark.sources.store import (
        _hadoop_fs,
        install_staged,
        staging_dir,
    )

    fs, Path = _hadoop_fs(spark, path)
    check_ivf_meta(spark, path, key, vec)
    cents = read_centroids(spark, path).collect()  # nlist rows: metadata
    cent_ids = sorted(int(r["cent_id"]) for r in cents)
    counts = {
        int(r["cent_id"]): r["n"]
        for r in spark.read.parquet(path)
        .groupBy("cent_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    hot = sorted(
        c for c in cent_ids if counts.get(c, 0) > int(hot_threshold)
    )
    empty = sorted(
        c
        for c in cent_ids
        if counts.get(c, 0) <= int(empty_threshold) and c not in hot
    )
    if len(empty) == len(cent_ids):
        raise ValueError(
            "rebalance_cells: every cell is at or under empty_threshold "
            "— nothing would survive to hold the corpus"
        )
    stats: dict = {
        "split": {},
        "retired": empty,
        "reassigned": 0,
        "split_input_files": [],
    }
    next_id = (max(cent_ids) if cent_ids else 0) + 1
    new_cents: list[tuple[int, list]] = []
    for h in hot:
        cell = spark.read.parquet(f"{path}/cent_id={h}")
        stats["split_input_files"].extend(cell.inputFiles())
        seeds = [
            int(r[key])
            for r in cell.select(key).orderBy(key).limit(split_factor).collect()
        ]
        refined = kmeans_refine(cell, seeds, n_iter=n_iter, key=key, vec=vec)
        # remap seed-keyed centroid ids -> fresh ids (ascending seed)
        id_map = {s: next_id + i for i, s in enumerate(sorted(seeds))}
        next_id += len(seeds)
        stats["split"][h] = sorted(id_map.values())
        mapping = F.create_map(
            *[F.lit(x) for kv in id_map.items() for x in kv]
        )
        refined = refined.withColumn(
            "cent_id", mapping[F.col("cent_id")]
        ).localCheckpoint()
        new_cents.extend(
            (int(r["cent_id"]), r["cent_vec"]) for r in refined.collect()
        )
        assigned = assign_cells(cell, [], key, vec, _centroids=refined)
        cell_dir = f"{path}/cent_id={h}"
        tmp = staging_dir(cell_dir, "rebal")
        try:
            assigned.repartition(F.col("cent_id")).write.partitionBy(
                "cent_id"
            ).parquet(tmp)
            sub_parts = [
                st.getPath().getName()
                for st in fs.listStatus(Path(tmp))
                if st.getPath().getName().startswith("cent_id=")
            ]
            old_dir = Path(cell_dir)
            old = Path(staging_dir(cell_dir, "old"))
            if not fs.rename(old_dir, old):
                raise IOError(f"rebalance: failed to move cent_id={h} aside")
            installed = []
            for sp in sub_parts:
                if not fs.rename(Path(f"{tmp}/{sp}"), Path(f"{path}/{sp}")):
                    for done in installed:  # roll back: old cell returns whole
                        fs.delete(Path(f"{path}/{done}"), True)
                    fs.rename(old, old_dir)
                    raise IOError(
                        f"rebalance: failed to install split of cell {h}"
                    )
                installed.append(sp)
            fs.delete(old, True)
        finally:
            fs.delete(Path(tmp), True)
    # surviving centroid table: drop split + retired, add sub-cells
    gone = set(hot) | set(empty)
    survivors = [
        (int(r["cent_id"]), r["cent_vec"])
        for r in cents
        if int(r["cent_id"]) not in gone
    ] + new_cents
    cent_df = spark.createDataFrame(
        survivors, "cent_id int, cent_vec array<float>"
    )
    # retired cells with stragglers: reassign against the NEW geometry
    for e in empty:
        e_dir = Path(f"{path}/cent_id={e}")
        if not fs.exists(e_dir):
            continue
        stragglers = spark.read.parquet(f"{path}/cent_id={e}")
        n = stragglers.count()
        if n:
            assign_cells(
                stragglers, [], key, vec, _centroids=cent_df
            ).repartition(F.col("cent_id")).write.mode(
                "append"
            ).partitionBy("cent_id").parquet(path)
            stats["reassigned"] += n
        fs.delete(e_dir, True)
    install_staged(
        spark, f"{path}/_centroids", "cent", cent_df.coalesce(1).write.parquet
    )
    # the sidecar tracks the geometry the rebalance just changed:
    # nlist follows the surviving centroid set (dim/metric/columns
    # are invariants of the layout)
    meta = read_ivf_meta(spark, path)
    if meta is not None:
        from etsd_time_series_database_spark.sources.store import (
            write_meta_sidecar,
        )

        meta["nlist"] = len(survivors)
        write_meta_sidecar(spark, path, IVF_META, meta)
    return stats


def nearest_cells(
    centroids: DataFrame,
    query_vec: list[float],
    nprobe: int = 2,
) -> list[int]:
    """Plan a multi-probe: the ``nprobe`` nearest centroid ids for a
    query vector, by descending cosine (ties: lowest cent_id).

    Driver-side over the BOUNDED centroid table (nlist rows — the IVF
    index metadata, not data), exactly like an ANN library's query
    planner; the corpus itself is never touched here. ``centroids`` is
    a (cent_id, cent_vec) frame, e.g. :func:`kmeans_refine` output.
    """
    lit_q = F.array(*[F.lit(float(x)) for x in query_vec])
    # literal aliased to a NAME first: name-typed operands build the
    # guarded cosine through one F.expr string (see exprs.dot_product's
    # py4j round-trip note) instead of ~1200 Column calls
    rows = (
        centroids.select("cent_id", "cent_vec", lit_q.alias("__qv"))
        .select(
            "cent_id", cosine_similarity("cent_vec", "__qv").alias("__cos")
        )
        .orderBy(F.col("__cos").desc(), F.col("cent_id"))
        .limit(nprobe)
        .collect()
    )
    return [int(r["cent_id"]) for r in rows]


def ivf_probe_partitioned(
    spark,
    path: str,
    query_vec: list[float],
    cent_id: int | list[int],
    k: int = 5,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Top-k within the probed cell(s) of a :func:`write_ivf_partitioned`
    layout.

    ``cent_id`` is one cell id or a list of them (a real ANN probe
    visits ``nprobe > 1`` cells — pick them with :func:`nearest_cells`).
    The membership predicate is a partition-directory filter — Catalyst
    prunes every unprobed cell before any I/O (the ANN analog of the
    time-range block skip in sources/store.py), so the scan reads
    exactly ``nprobe`` directories. Exact cosine runs only over the
    probed cells' rows; merged top-k is a TakeOrdered, not a global
    sort.
    """
    meta = check_ivf_meta(spark, path, key, vec, adopt=False)
    if meta is not None and len(query_vec) != int(meta["dim"]):
        raise ValueError(
            f"ivf_probe_partitioned: query vector has "
            f"{len(query_vec)} components but the layout's dim is "
            f"{meta['dim']} — cosine against mismatched widths is "
            "meaningless"
        )
    cells = [cent_id] if isinstance(cent_id, int) else sorted(set(cent_id))
    lit_q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        spark.read.parquet(path)
        .filter(F.col("cent_id").isin(cells))
        .select(key, F.col(vec), lit_q.alias("__qv"))
        .select(key, cosine_similarity(vec, "__qv").alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(key))
        .limit(k)
    )


def semantic_dedup(
    embeddings: DataFrame,
    centroid_ids: list[int],
    tau: float = 0.4,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    partition the embedding space into cells (nearest seed centroid by
    cosine), then inside each cell drop every vector whose cosine to
    an EARLIER (lower-id) cell member reaches ``tau``. Keep-the-
    earliest is the deterministic version of the paper's keep-one
    policy.

    Output per vector: cell, the max cosine to any prior cell member
    (``max_prior_cos``, -2 when it has none — below any real cosine),
    and the drop verdict.

    Scale shape: assignment is one broadcast of the centroid table +
    one ``max_by`` hash-agg shuffle (same as kmeans_refine); the
    within-cell comparison is an equi-join on cell id with the
    pairwise cosine evaluated post-join. Pair count is bounded by the
    cell-size distribution, NOT corpus²: SemDeDup at production scale
    picks k ~ n/target_cell_size precisely so cells stay bounded
    (tens of thousands), which caps the per-cell quadratic term the
    same way the LSH band width caps x06. The cosine is the codegen'd
    sequential fold of functions/exprs.py — bit-identical in DuckDB's
    list_reduce, so even the tie-free drop verdict hash-matches.
    """
    cents = embeddings.filter(F.col(key).isin(centroid_ids)).select(
        F.col(key).alias("cent_id"), F.col(vec).alias("cent_vec")
    )
    assigned = _nearest_cell(
        embeddings.crossJoin(F.broadcast(cents)).select(
            key,
            vec,
            "cent_id",
            cosine_similarity(vec, "cent_vec").alias("__cos"),
        ),
        key,
        vec,
    )
    prior = assigned.select(
        F.col(key).alias("__ka"),
        F.col("cent_id").alias("__ca"),
        F.col(vec).alias("__va"),
    )
    prior_max = (
        prior.join(
            assigned,
            (F.col("__ca") == F.col("cent_id")) & (F.col("__ka") < F.col(key)),
        )
        .groupBy(key)
        .agg(F.max(cosine_similarity("__va", vec)).alias("__mp"))
    )
    return (
        assigned.join(prior_max, key, "left")
        .select(
            key,
            "cent_id",
            F.round(F.coalesce(F.col("__mp"), F.lit(-2.0)), 6).alias(
                "max_prior_cos"
            ),
            F.coalesce(F.col("__mp") >= F.lit(tau), F.lit(False)).alias(
                "dropped"
            ),
        )
        .orderBy(key)
    )


def hard_negatives(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 3,
    key: str = "vec_id",
    vec: str = "embedding",
    label: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the ``k`` most-similar vectors with a DIFFERENT label —
    the near-boundary negatives that make a contrastive batch
    informative (easy negatives teach nothing; false negatives —
    same-label neighbors — are excluded by construction).

    Plan: the query set broadcasts (bounded — negatives are mined per
    training batch, not per corpus), the corpus scans once with the
    codegen cosine fold, and the per-query top-k is a rank window on
    the query id (WindowGroupLimit pushes the k-filter into the sort,
    so each partition materializes only k rows per query). Total
    tie-break (cosine DESC, candidate id) keeps results
    engine-portable.
    """
    from pyspark.sql.window import Window

    q = embeddings.filter(F.col(key).isin(query_ids)).select(
        F.col(key).alias("q_vec_id"),
        F.col(vec).alias("__qv"),
        F.col(label).alias("__ql"),
    )
    scored = (
        embeddings.crossJoin(F.broadcast(q))
        .filter(F.col(label) != F.col("__ql"))
        .select(
            "q_vec_id",
            F.col(key).alias("neg_vec_id"),
            cosine_similarity(vec, "__qv").alias("cosine"),
        )
    )
    w = Window.partitionBy("q_vec_id").orderBy(
        F.col("cosine").desc(), F.col("neg_vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.lit(k))
        .select("q_vec_id", "rank", "neg_vec_id", "cosine")
        .orderBy("q_vec_id", "rank")
    )


# Round-15 measured attempt, rejected: a slice-free subspace distance
# (element_at(vec, s*sub_len + j + 1) terms, no intermediate slice)
# measured 177.6 s task vs 168.9 s for slice + the width-guarded
# unrolled sq_l2_distance at 500k x 64 vectors (64M scored rows,
# scripts/bench_pq_encode.py): the per-term dynamic index arithmetic
# costs more than one 8-float slice materialization per scored row.
# The UNROLL itself is the win either way — the same harness put the
# round-14 slice + interpreted fold at 666.9 s (3.9x). Kept: slice +
# sq_l2_distance(width=sub_len).


def _check_pq_n_cents(n_cents: int) -> None:
    """The PQ encode packs (d2, cent_id) into one DECIMAL with a
    10^13 shift; d2's 1e-6 quantum then clears only a < 10^7 cent_id
    range, so the argmin contract requires n_cents < 10^7 (any real
    codebook is <= 65536). m/n_cents are user-settable via the
    write-pq CLI, so this is enforced, not assumed."""
    if not (0 < n_cents < 10**7):
        raise ValueError(
            f"n_cents must be in [1, 10^7) for the packed-decimal "
            f"argmin to preserve the (d2, cent_id) ordering; got {n_cents}"
        )


def pq_topk(
    embeddings: DataFrame,
    query_id: int = 0,
    k: int = 10,
    m: int = 8,
    n_cents: int = 16,
    dim: int = 64,
    key: str = "vec_id",
    vec: str = "embedding",
    base: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization ANN top-k (Jégou et al. 2011): split each
    ``dim``-d vector into ``m`` subvectors, quantize every subvector to
    its nearest codebook centroid, then answer the query by asymmetric
    distance computation (ADC) — sum of precomputed query-to-centroid
    subspace distances, never touching the raw corpus vectors.

    This is the memory-side complement to the IVF layout: at 100 TB
    the m-byte codes (here m=8 → 8 bytes/vector vs 256 raw) are what
    actually fits in executor memory / a serving tier, and the encode
    below is exactly the job that materializes them (one pass, like
    write_ivf_partitioned materializes cells). Codebooks use the first
    ``n_cents`` corpus vectors' subvectors as centroids — the
    deterministic, oracle-able stand-in for per-subspace k-means (the
    production path trains them with kmeans_refine per subspace; the
    encode/ADC machinery is identical either way).

    Shape: codebook = n_cents × m sub-centroids (KB-sized, broadcast);
    encode = corpus × (m·n_cents) broadcast nested-loop scored rows
    collapsing through ONE map-side-combinable min-struct hash agg to
    (key, s, cent_id) — the standard O(n·m·k_c) PQ encode cost, shuffle
    = m rows of three scalars per vector (code bytes, not vectors);
    ADC = broadcast join against the m·n_cents query table + one
    hash agg per key + TakeOrdered top-k. No global sort, no
    cartesian pair blowup.

    Determinism: per-element double math has identical fold shape on
    both engines (functions.exprs.sq_l2_distance); the per-subspace
    argmin ties break on cent_id; the ADC sum goes through DECIMAL
    (order-independent); final ordering is on the exact decimal sum
    with key tiebreak.

    ``base`` restricts which vectors are encoded and scored (defaults
    to the full ``embeddings`` corpus): pass an IVF cell's members to
    get the FAISS-style IVF-PQ composite (see :func:`ivfpq_topk`) —
    the codebook and query table always come from ``embeddings``, so
    codes are comparable across cells.
    """
    from etsd_time_series_database_spark.functions.exprs import (
        DEC,
        sq_l2_distance,
    )

    _check_pq_n_cents(n_cents)
    sub_len = dim // m
    s_col = F.explode(F.array(*[F.lit(s) for s in range(m)])).alias("s")
    cents = (
        embeddings.filter(F.col(key).between(1, n_cents))
        .select(F.col(key).alias("cent_id"), F.col(vec).alias("cv"))
        .select("cent_id", s_col, "cv")
        .select(
            "cent_id",
            "s",
            F.slice("cv", F.col("s") * sub_len + 1, sub_len).alias("cvs"),
        )
    )
    sub = F.slice(vec, F.col("s") * sub_len + 1, sub_len)
    if base is None:
        base = embeddings
    codes = (
        base.filter(F.col(key) != query_id)
        .select(key, vec)
        .crossJoin(F.broadcast(cents))
        .select(
            key,
            "s",
            "cent_id",
            sq_l2_distance(sub, F.col("cvs"), width=sub_len).alias("d2"),
        )
        # The per-subspace argmin must stay a map-side-combinable
        # HashAggregate: BOTH min(struct) and min_by with a struct
        # ordering force SortAggregate (non-primitive buffer — the q35
        # OHLC lesson), so (d2, cent_id) packs into ONE order-preserving
        # DECIMAL: d2 quantized to 1e-6 (the codebase-wide export
        # quantum; identical cast on the oracle side) shifted by 10^13,
        # which scales the quantum to 1e7 — so the ordering is correct
        # ONLY while cent_id < 10^7 (guarded above; realistic codebooks
        # are <= 65536 centroids). Ties within the quantum break to the
        # lowest cent_id — exactly the argmin contract.
        .withColumn(
            "__ord",
            F.col("d2").cast("decimal(19,6)")
            * F.expr("CAST(10000000000000 AS DECIMAL(14,0))")
            + F.col("cent_id").cast("decimal(13,0)"),
        )
        .groupBy(key, "s")
        .agg(F.min_by("cent_id", "__ord").alias("cent_id"))
    )
    qd = (
        embeddings.filter(F.col(key) == query_id)
        .select(F.col(vec).alias("qv"))
        .crossJoin(F.broadcast(cents))
        .select(
            "s",
            "cent_id",
            sq_l2_distance(
                F.slice("qv", F.col("s") * sub_len + 1, sub_len), F.col("cvs")
            ).alias("qd2"),
        )
    )
    return (
        codes.join(F.broadcast(qd), ["s", "cent_id"])
        .groupBy(key)
        .agg(F.sum(F.col("qd2").cast(DEC)).alias("__sd"))
        .orderBy("__sd", key)
        .limit(k)
        .select(key, F.round(F.col("__sd").cast("double"), 6).alias("adc_d2"))
    )


def ivfpq_topk(
    embeddings: DataFrame,
    query_id: int = 0,
    centroid_ids: list[int] | None = None,
    k: int = 10,
    m: int = 8,
    n_cents: int = 16,
    dim: int = 64,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """IVF-PQ composite (the FAISS production layout): IVF cell
    pruning decides WHICH vectors are scored, product quantization
    decides HOW — the query probes only its own coarse cell and ranks
    that cell's members by asymmetric PQ distance against broadcast
    per-subspace tables.

    At 100 TB this is the serving shape that actually fits: the cell
    prunes the corpus to ~1/nlist (on disk: partition pruning via
    write_ivf_partitioned), and the PQ codes of one cell — m bytes a
    vector — fit an executor's memory where raw vectors would not.
    Composes :func:`assign_cells` (coarse quantizer, broadcast
    centroids, ONE max_by hash-agg) with :func:`pq_topk` restricted to
    the cell (``base=``); the fine codebook is corpus-level so codes
    stay comparable across cells.

    Determinism matches both parents (decimal ADC sums, packed-decimal
    argmin, cent_id/key tiebreaks).
    """
    if centroid_ids is None:
        centroid_ids = list(range(1, 9))
    cells = assign_cells(embeddings, centroid_ids, key, vec)
    q_cell = cells.filter(F.col(key) == query_id).select(
        F.col("cent_id").alias("__qcell")
    )
    members = (
        cells.crossJoin(F.broadcast(q_cell))
        .filter(F.col("cent_id") == F.col("__qcell"))
        .select(key, vec)
    )
    return pq_topk(
        embeddings,
        query_id=query_id,
        k=k,
        m=m,
        n_cents=n_cents,
        dim=dim,
        key=key,
        vec=vec,
        base=members,
    )


def write_pq_codes(
    embeddings: DataFrame,
    path: str,
    m: int = 8,
    n_cents: int = 16,
    dim: int = 64,
    mode: str = "overwrite",
    key: str = "vec_id",
    vec: str = "embedding",
) -> None:
    """Materialize the PQ code table — the compressed serving artifact
    the ADC probe reads INSTEAD of raw vectors. At 100 TB this is the
    point of PQ: (key, s, cent_id) is m small ints per vector (vs
    dim·4 bytes raw), so the scored relation fits a serving tier.

    The encode is :func:`pq_topk`'s packed-decimal min_by hash-agg run
    once over the whole corpus (every vector, including the query-side
    ids — codes are query-independent). The per-subspace codebook
    (cent_id, s, cvs) persists under ``{path}/_codebook`` (underscore
    = invisible to the corpus listing, same convention as the IVF
    layout's ``_centroids``), so a prober needs only the index path.
    """
    from etsd_time_series_database_spark.functions.exprs import sq_l2_distance

    _check_pq_n_cents(n_cents)
    sub_len = dim // m
    s_col = F.explode(F.array(*[F.lit(s) for s in range(m)])).alias("s")
    cents = (
        embeddings.filter(F.col(key).between(1, n_cents))
        .select(F.col(key).alias("cent_id"), F.col(vec).alias("cv"))
        .select("cent_id", s_col, "cv")
        .select(
            "cent_id",
            "s",
            F.slice("cv", F.col("s") * sub_len + 1, sub_len).alias("cvs"),
        )
    )
    sub = F.slice(vec, F.col("s") * sub_len + 1, sub_len)
    codes = (
        embeddings.select(key, vec)
        .crossJoin(F.broadcast(cents))
        .select(
            key,
            "s",
            "cent_id",
            sq_l2_distance(sub, F.col("cvs"), width=sub_len).alias("d2"),
        )
        .withColumn(
            "__ord",
            F.col("d2").cast("decimal(19,6)")
            * F.expr("CAST(10000000000000 AS DECIMAL(14,0))")
            + F.col("cent_id").cast("decimal(13,0)"),
        )
        .groupBy(key, "s")
        .agg(F.min_by("cent_id", "__ord").alias("cent_id"))
    )
    codes.write.mode(mode).parquet(path)
    cents.coalesce(1).write.mode("overwrite").parquet(path + "/_codebook")


def pq_probe_codes(
    spark,
    path: str,
    query_vec,
    k: int = 10,
    key: str = "vec_id",
    exclude_id: int | None = None,
) -> DataFrame:
    """ADC top-k against a :func:`write_pq_codes` layout: build the
    m×n_cents query-distance table from the persisted codebook and the
    raw query vector (driver-side KB of work), broadcast it, and rank
    the code table — the scan reads ONLY the 3-int code columns, never
    an embedding. One broadcast hash join + one per-key hash agg +
    TakeOrdered, identical math to the live :func:`pq_topk` ADC."""
    from etsd_time_series_database_spark.functions.exprs import sq_l2_distance

    codes = spark.read.parquet(path)
    cb = spark.read.parquet(path + "/_codebook")
    q = spark.createDataFrame([([float(x) for x in query_vec],)], ["qv"])
    qd = (
        cb.crossJoin(F.broadcast(q))
        .select(
            "s",
            "cent_id",
            sq_l2_distance(
                F.slice("qv", F.col("s") * F.size("cvs") + 1, F.size("cvs")),
                F.col("cvs"),
            ).alias("qd2"),
        )
    )
    out = codes
    if exclude_id is not None:
        out = out.filter(F.col(key) != exclude_id)
    from etsd_time_series_database_spark.functions.exprs import DEC

    return (
        out.join(F.broadcast(qd), ["s", "cent_id"])
        .groupBy(key)
        .agg(F.sum(F.col("qd2").cast(DEC)).alias("__sd"))
        .orderBy("__sd", key)
        .limit(k)
        .select(key, F.round(F.col("__sd").cast("double"), 6).alias("adc_d2"))
    )


def centroid_similarity(
    embeddings: DataFrame,
    label: str = "label",
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Per-label centroid profile: the mean embedding of every label
    class, then the pairwise cosine between class centroids — the
    separability matrix an embedding-quality check reads (labels whose
    centroids sit at cosine ≈ 1 are indistinguishable to a classifier;
    the going-in sanity check before training on labeled embeddings).

    Shape: posexplode each vector once (Generate — the lambda-vs-
    explode rule), ONE map-side hash-agg to (label, dim) DECIMAL sums,
    reassemble per-label centroid arrays (labels × dim rows — KB), and
    a labels² self-join for the cosine matrix — with L labels that is
    L(L−1)/2 rows of driver-scale work regardless of corpus size.

    Determinism: per-dim means close from exact DECIMAL sums and are
    quantized with round(·, 6) BEFORE reuse (the _bucket_means
    exact-half rule), so both engines fold the cosine over identical
    doubles; output rounds at the export convention.
    """
    from etsd_time_series_database_spark.functions.exprs import (
        cosine_similarity as _cos,
    )

    dims = (
        embeddings.select(label, F.posexplode(vec).alias("dim", "v"))
        .groupBy(label, "dim")
        .agg(
            F.round(
                F.sum(F.col("v").cast(DEC_KM)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("m")
        )
    )
    cents = dims.groupBy(label).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "m"))),
            lambda s: s["m"],
        ).alias("cv")
    )
    a = cents.select(F.col(label).alias("label_a"), F.col("cv").alias("ca"))
    b = cents.select(F.col(label).alias("label_b"), F.col("cv").alias("cb"))
    return (
        a.join(b, F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            F.round(_cos("ca", "cb"), 6).alias("centroid_cosine"),
        )
        .orderBy("label_a", "label_b")
    )


def label_dispersion(
    embeddings: DataFrame,
    label: str = "label",
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Within-label embedding dispersion: for every label class, the
    MEAN PAIRWISE COSINE among its (unit-normalized) members and the
    centroid norm — the intra-class dual of x63's between-class
    separability matrix (cos ≈ 1 inside a class = collapsed/duplicate
    members; low cos = the class is semantically diffuse; read both
    before trusting labeled embeddings).

    No pairwise join anywhere: for unit vectors,
    sum_pairs cos(u_i, u_j) = (||Σu||² − Σ||u||²) / 2, so the whole
    statistic closes from PER-DIMENSION component sums — one Generate
    (posexplode) pass, one (label, dim) DECIMAL hash-agg, one
    label-level rollup of dims-sized rows. O(n·d) work, O(labels · d)
    shuffle, exact at any corpus size where an n² pairs table is
    impossible.

    Determinism: the per-vector norm is the same sequential double
    fold as the cosine oracle helper (plans/pipeline._duck_cos);
    normalized components quantize with round(·, 6) BEFORE the
    decimal sums (the x63 _bucket_means rule), so Σu (DECIMAL(18,6)
    sums) and Σ||u_rounded||² (DECIMAL(28,12) sums of exact 12-dp
    squares) are bit-identical on both engines and the closing
    formula folds identical doubles. Zero-norm vectors are dropped
    (they have no direction); singleton labels report NULL cosine.
    """
    # == sqrt(aggregate(vec, 0.0, acc + x*x)): the module-level
    # l2_norm is that exact fold, width-hinted (round 15) so 64-wide
    # corpora run the unrolled codegen chain, result-identical.
    norm = l2_norm(vec)
    # the divisor guard (NULL, not 0, for dropped rows) matters under
    # ANSI: Catalyst may evaluate the projection lambda on rows the
    # adjacent filter discards, and 0-division would raise
    safe_nrm = F.when(F.col("__nrm") > 0, F.col("__nrm"))
    u = (
        embeddings.withColumn("__nrm", norm)
        .filter(F.col("__nrm") > 0)
        .select(
            F.col(label),
            F.transform(
                F.col(vec),
                lambda x: F.round(x.cast("double") / safe_nrm, 6),
            ).alias("__u"),
        )
    )
    dims = (
        u.select(label, F.posexplode("__u").alias("dim", "__ud"))
        .groupBy(label, "dim")
        .agg(
            F.sum(F.col("__ud").cast("decimal(18,6)")).alias("__s"),
            F.sum(
                (F.col("__ud") * F.col("__ud")).cast("decimal(28,12)")
            ).alias("__q"),
            F.count(F.lit(1)).alias("__cnt"),
        )
    )
    n = F.max("__cnt").cast("double")
    sum_sq = F.sum(
        F.col("__s").cast("double") * F.col("__s").cast("double")
    )
    qsum = F.sum("__q").cast("double")
    return (
        dims.groupBy(label)
        .agg(
            F.max("__cnt").cast("bigint").alias("n_vecs"),
            F.when(
                n > 1,
                F.round((sum_sq - qsum) / (n * (n - F.lit(1.0))), 6),
            ).alias("mean_pairwise_cos"),
            F.round(F.sqrt(sum_sq) / n, 6).alias("centroid_norm"),
        )
        .orderBy(label)
    )
