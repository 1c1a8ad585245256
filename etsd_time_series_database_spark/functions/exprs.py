"""JVM-side expression helpers (no Python UDFs in any of these).

Numeric conventions for engine-vs-oracle determinism
----------------------------------------------------
Floating-point SUM/AVG are order-dependent, and a distributed engine
sums in partition order while a single-node oracle sums sequentially.
Every aggregate that crosses rows therefore goes through DECIMAL
(exact, associative), and only the final scalar is cast back to
DOUBLE and rounded to 6 places:

    sum(x)  -> cast(round(sum(cast(x as decimal(18,6))), 6) as double)
    avg(x)  -> round(cast(sum_dec as double) / count(x), 6)

Per-row arithmetic (a*b, a-b, a/b) is bit-identical across IEEE-754
engines as long as the textual expression shape matches, so row-level
math stays in fast double codegen. This is also the right call at
100 TB: decimal partial aggregates are associative, so map-side
combine stays correct and the merge order chosen by AQE can't change
the answer.

Timestamps are exchanged as epoch microseconds (BIGINT) to dodge
engine/session timezone rendering differences.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,6)"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def epoch_us(col: Column | str) -> Column:
    """Timestamp -> epoch microseconds (BIGINT). DuckDB: epoch_us(ts)."""
    return F.unix_micros(_c(col))


def epoch_s(col: Column | str) -> Column:
    """Timestamp -> whole epoch seconds (BIGINT). DuckDB: epoch_us(ts)//1000000."""
    return F.floor(F.unix_micros(_c(col)) / F.lit(1_000_000)).cast("bigint")


def round6(col: Column) -> Column:
    return F.round(col, 6)


def dsum(col: Column | str, alias: str) -> Column:
    """Order-independent exact SUM of a double column; see module doc.

    No round(): the decimal partial sums are exact, so the final
    double is bit-identical to any sequential oracle — round() itself
    is NOT portable across engines (Spark rounds via BigDecimal of the
    shortest decimal repr, DuckDB via float multiply) and is avoided.
    """
    return F.sum(_c(col).cast(DEC)).cast("double").alias(alias)


def davg(col: Column | str, alias: str) -> Column:
    """Order-independent AVG: exact decimal sum / exact count — the
    final double division is IEEE-deterministic on both engines."""
    c = _c(col)
    return (F.sum(c.cast(DEC)).cast("double") / F.count(c)).alias(alias)


def bucket_epoch(col: Column | str, width_s: int) -> Column:
    """Tumbling-window bucket start in epoch seconds (BIGINT).

    Pure integer arithmetic so Spark and any ANSI oracle agree:
    (epoch_us div (width*1e6)) * width.  This is the RRA consolidation
    bucket of the reference's RRD export (reference
    code/plugins/edoRRD.c:44-74, RRA spec in
    'ECM-1240 storage format 2.txt:127-148').
    """
    w_us = width_s * 1_000_000
    return (F.floor(F.unix_micros(_c(col)) / F.lit(w_us)) * F.lit(width_s)).cast("bigint")


def _el(col: Column, i: int) -> Column:
    return F.element_at(col, i + 1).cast("double")


def _unrolled_dot(a: Column, b: Column, width: int) -> Column:
    """The fold's left-associated sum written out as a static chain:
    (((0.0 + a1*b1) + a2*b2) + ...) — bit-identical to the
    zip_with/aggregate fold (including the 0.0 + -0.0 head), but pure
    codegen'd double arithmetic instead of an interpreted
    higher-order-function eval per row."""
    acc = F.lit(0.0)
    for i in range(width):
        acc = acc + _el(a, i) * _el(b, i)
    return acc


def _width_guard(a: Column, b: Column | None, width: int) -> Column:
    g = F.size(a) == F.lit(width)
    if b is not None:
        g = g & (F.size(b) == F.lit(width))
    return g


# ---- SQL-text construction of the guarded folds --------------------
# Building a width-64 unrolled chain out of pyspark Column operators
# costs ~1200 py4j round-trips PER QUERY BUILD (~1.2 s of driver wall
# on every plan construction — measured as x14's only regression in
# the round-15 bench: executor task 96 -> 146 ms while wall tripled).
# When both operands are plain column names the identical expression
# tree is built as ONE F.expr() string instead (a single py4j call +
# a JVM-side parse): same parse result, same codegen, same bits.

def _qid(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _sql_dot(a: str, b: str, width: int) -> str:
    t = "0.0D"
    for i in range(1, width + 1):
        t += (
            f" + (CAST(element_at({a}, {i}) AS DOUBLE) * "
            f"CAST(element_at({b}, {i}) AS DOUBLE))"
        )
    return t


def _sql_hof_dot(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, (acc, x) -> acc + x)"
    )


def _sql_guard(a: str, b: str | None, width: int) -> str:
    g = f"(size({a}) = {width})"
    if b is not None:
        g += f" AND (size({b}) = {width})"
    return g


def dot_product(
    a: Column | str, b: Column | str, width: int | None = None
) -> Column:
    """Sequential-order dot product of two array<float/double> columns.

    F.aggregate folds left-to-right, matching a sequential oracle
    exactly up to ulps. The fold is a higher-order function —
    CodegenFallback, i.e. interpreted per row. Pass ``width`` (the
    expected vector width) to wrap a STATICALLY UNROLLED arithmetic
    chain in a CASE size guard: arrays of exactly that width run the
    unrolled codegen'd chain, every other input falls back to the
    fold, and both branches are bit-identical by construction (the
    chain IS the fold's left-associated sum). Measured at 5M x 64
    floats: task time 118.8 s (fold) -> 46.7 s (guarded chain), 2.5x
    (scripts/bench_vector_fold.py; the guard also keeps each
    generated method under the JIT's 8 KB compile limit — the BARE
    unrolled chain compiles into one 15.8 KB method that HotSpot
    refuses to JIT and measured 2.8x SLOWER than the fold).
    """
    if width is not None and isinstance(a, str) and isinstance(b, str):
        qa, qb = _qid(a), _qid(b)
        return F.expr(
            f"CASE WHEN {_sql_guard(qa, qb, width)} THEN "
            f"{_sql_dot(qa, qb, width)} ELSE {_sql_hof_dot(qa, qb)} END"
        )
    ca, cb = _c(a), _c(b)
    prods = F.zip_with(ca, cb, lambda x, y: x.cast("double") * y.cast("double"))
    hof = F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)
    if width is None:
        return hof
    return F.when(_width_guard(ca, cb, width), _unrolled_dot(ca, cb, width)).otherwise(
        hof
    )


def l2_norm(a: Column | str, width: int | None = None) -> Column:
    """L2 norm; ``width`` engages the same guarded unrolled chain as
    :func:`dot_product` (result-identical, 2.5x on matching widths)."""
    if width is not None and isinstance(a, str):
        qa = _qid(a)
        hof_sq = (
            f"aggregate({qa}, 0.0D, (acc, x) -> "
            "acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
        )
        return F.expr(
            f"CASE WHEN {_sql_guard(qa, None, width)} THEN "
            f"SQRT({_sql_dot(qa, qa, width)}) ELSE SQRT({hof_sq}) END"
        )
    ca = _c(a)
    hof = F.sqrt(
        F.aggregate(
            ca, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )
    if width is None:
        return hof
    return F.when(
        _width_guard(ca, None, width), F.sqrt(_unrolled_dot(ca, ca, width))
    ).otherwise(hof)


def cosine_similarity(
    a: Column | str, b: Column | str, width: int | None = None
) -> Column:
    """cosine(a,b) as double; compose of dot/norms. ``width`` guards
    ONE unrolled chain for the whole composite (see dot_product);
    name-typed operands build through one F.expr string (the py4j
    round-trip note above)."""
    if width is not None and isinstance(a, str) and isinstance(b, str):
        qa, qb = _qid(a), _qid(b)
        hof_nrm = (
            "SQRT(aggregate({0}, 0.0D, (acc, x) -> "
            "acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
        )
        return F.expr(
            f"CASE WHEN {_sql_guard(qa, qb, width)} THEN "
            f"({_sql_dot(qa, qb, width)}) / "
            f"(SQRT({_sql_dot(qa, qa, width)}) * "
            f"SQRT({_sql_dot(qb, qb, width)})) "
            f"ELSE ({_sql_hof_dot(qa, qb)}) / "
            f"({hof_nrm.format(qa)} * {hof_nrm.format(qb)}) END"
        )
    ca, cb = _c(a), _c(b)
    hof = dot_product(ca, cb) / (l2_norm(ca) * l2_norm(cb))
    if width is None:
        return hof
    unrolled = _unrolled_dot(ca, cb, width) / (
        F.sqrt(_unrolled_dot(ca, ca, width)) * F.sqrt(_unrolled_dot(cb, cb, width))
    )
    return F.when(_width_guard(ca, cb, width), unrolled).otherwise(hof)


FP_MOD = 1_000_000_007
FP_BASE = 31


def with_sortable_bits(df, src: Column | str, out: str):
    """Attach :func:`double_sortable_bits`(src) as column ``out`` via a
    CHAIN OF PROJECTIONS instead of one nested expression.

    The single-Column form duplicates its exponent/significand core
    into every CASE branch that references it (Catalyst expressions
    are trees, and codegen's subexpression elimination skips
    conditionally-evaluated subtrees), so the log2/pow chain runs ~6x
    per row — measured at 2.5 us/row vs 0.2 us for the same math
    materialized once (scripts/ and q33 profiling, round 15). Here
    each intermediate is a real projected column referenced multiple
    times downstream; CollapseProject keeps non-cheap multi-referenced
    aliases as separate projections, so every piece evaluates once per
    row. The heavy chain runs UNCONDITIONALLY on a specials-clamped
    magnitude (1.0 for zero/Inf/NaN rows — their outputs come from the
    final constant CASE instead), which is also what makes it safe:
    no log2(0)/floor(Inf) ever evaluates.

    Output values are IDENTICAL to double_sortable_bits, NULL for
    NULL included (pinned in tests/test_operators_unit.py against the
    same doubleToLongBits reference). The helper columns are dropped
    before returning.
    """
    x = _c(src)
    d = df.withColumn("__dsb_x", x)
    xx = F.col("__dsb_x")
    a = F.abs(xx)
    finite_norm = (
        ~F.isnan(xx)
        & (a >= F.lit(2.0**-1022))
        & (a < F.lit(float("inf")))
    )
    boosted = finite_norm & (a < F.lit(2.0**-500))
    d = d.withColumn(
        "__dsb_a",
        F.when(boosted, a * F.lit(2.0**600)).otherwise(
            F.when(finite_norm, a).otherwise(F.lit(1.0))
        ),
    )
    d = d.withColumn("__dsb_e0", F.floor(F.log2(F.col("__dsb_a"))))
    d = d.withColumn(
        "__dsb_m0",
        F.col("__dsb_a")
        * F.pow(F.lit(2.0), (F.lit(52) - F.col("__dsb_e0")).cast("double")),
    )
    m0, e0 = F.col("__dsb_m0"), F.col("__dsb_e0")
    d = d.withColumn(
        "__dsb_m",
        F.when(m0 >= F.lit(2.0**53), m0 * F.lit(0.5))
        .when(m0 < F.lit(2.0**52), m0 * F.lit(2.0))
        .otherwise(m0),
    )
    d = d.withColumn(
        "__dsb_e",
        F.when(m0 >= F.lit(2.0**53), e0 + 1)
        .when(m0 < F.lit(2.0**52), e0 - 1)
        .otherwise(e0)
        - F.when(boosted, F.lit(600)).otherwise(F.lit(0)),
    )
    normal_bits = (F.col("__dsb_e") + F.lit(1023)) * F.lit(1 << 52) + (
        F.col("__dsb_m").cast("bigint") - F.lit(1 << 52)
    )
    sub_bits = ((a * F.lit(2.0**537)) * F.lit(2.0**537)).cast("bigint")
    mag = F.when(a < F.lit(2.0**-1022), sub_bits).otherwise(normal_bits)
    # NULL in, NULL out: without the guard a NULL falls through every
    # null-valued CASE condition to the chain's otherwise (bits(1.0))
    o = F.when(
        xx.isNotNull(),
        F.when(F.isnan(xx), F.lit(0x7FF8000000000000))
        .when(xx == F.lit(float("inf")), F.lit(0x7FF0000000000000))
        .when(xx == F.lit(float("-inf")), F.lit(-1 - 0x7FF0000000000000))
        .when(
            xx == F.lit(0.0),
            F.when(
                xx.cast("string") == F.lit("-0.0"), F.lit(-1)
            ).otherwise(F.lit(0)),
        )
        .when(xx < F.lit(0.0), F.lit(-1) - mag)
        .otherwise(mag)
        .cast("bigint"),
    )
    return d.withColumn(out, o).drop(
        "__dsb_x", "__dsb_a", "__dsb_e0", "__dsb_m0", "__dsb_m", "__dsb_e"
    )


def poly_fingerprint(text: Column | str) -> Column:
    """Deterministic rolling polynomial hash of a string (document
    fingerprinting for dedup pipelines): h = (h*31 + ascii(ch)) mod 1e9+7.

    Expressed with split/transform/aggregate so it runs in the JVM and
    is reproducible in ANSI SQL (DuckDB list_reduce) — unlike
    engine-builtin hash() which is not portable across engines.

    Character walk (round-15 optimization): ``split(c, '')`` yields
    one element per CODE POINT — Spark's UTF8String split emits full
    supplementary characters as single elements (verified on SMP
    emoji/ideographs; the round-14 rejection note assumed Java
    String.split's code-unit behavior, which does not apply) — so the
    walk is one linear pass where the old ``substr(c, i, 1)`` walk
    re-seeked from the string head per position, O(len^2) in code
    points. 400k-shingle head-to-head
    (scripts/bench_poly_fingerprint.py): task 4106 -> 2468 ms (-40%);
    the code-point-safe alternatives regexp_extract_all('(?s).')
    (-18%) and UTF-32 byte slicing (2x WORSE) lost. Hash values are
    identical for every input including the empty string (one ''
    element folds ascii('') = 0, the same hash 0 the old descending
    sequence(1,0) walk produced); non-BMP identity is pinned in
    tests/test_operators_unit.py against the old walk and a Python
    code-point reference.
    """
    c = _c(text)
    codes = F.transform(F.split(c, ""), lambda ch: F.ascii(ch))
    return F.aggregate(
        codes,
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * FP_BASE + x.cast("bigint")) % F.lit(FP_MOD),
    )


def sq_l2_distance(
    a: Column | str, b: Column | str, width: int | None = None
) -> Column:
    """Squared L2 distance between two array<float/double> columns as a
    sequential left-to-right fold (same oracle-matching shape as
    dot_product). ``width`` engages the guarded unrolled chain (see
    dot_product; result-identical by construction)."""
    ca, cb = _c(a), _c(b)
    diffs = F.zip_with(
        ca,
        cb,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    hof = F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)
    if width is None:
        return hof
    acc = F.lit(0.0)
    for i in range(width):
        d = _el(ca, i) - _el(cb, i)
        acc = acc + d * d
    return F.when(_width_guard(ca, cb, width), acc).otherwise(hof)


def double_sortable_bits(col: Column | str) -> Column:
    """BIGINT image of a DOUBLE that is order-isomorphic to Spark's
    total ordering of doubles (java.lang.Double.compare): for any two
    doubles a, b:  compare(a, b) == compare(bits(a), bits(b)), with
    NaN above +Inf and -0.0 just below +0.0.

    This is the IEEE-754 sortable-bits trick (sign-adjusted raw bits)
    computed with pure arithmetic — no quantization anywhere, so ties
    and orderings of the original doubles are preserved EXACTLY. It
    exists to turn struct-ordered argmin/argmax aggregations (whose
    non-primitive comparison buffers force SortAggregate) into
    primitive-ordered ones that plan as map-side-combinable
    HashAggregate (round-15 optimization; see similarity.assign_cells).

    Construction (all steps exact):
      * the exponent guess floor(log2(|x|)) is corrected by
        re-deriving the significand M = |x| * 2^(52-e) and nudging e
        until M lands in [2^52, 2^53) — power-of-two scaling of a
        double is exact, so M is the exact integer significand;
      * normals then map to the actual IEEE bit pattern
        (e+1023)*2^52 + (M - 2^52); subnormals to |x| * 2^1074 (their
        bit pattern verbatim, staged as two *2^537 scalings because
        2^1074 overflows a double); magnitudes below 2^-500 are
        pre-scaled by 2^600 so the significand scaling never
        overflows;
      * negatives map to -1 - bits(|x|) (strictly order-reversing,
        the standard sortable-bits complement), so -0.0 lands on -1 —
        strictly between the smallest negative subnormal (-2) and
        +0.0 (0) — and NaN on the canonical quiet-NaN bits.

    Pinned against java.lang.Double.doubleToLongBits on boundary and
    random bit patterns in tests/test_operators_unit.py.
    """
    x = _c(col)
    a = F.abs(x)
    # normals (and the boost branch keeps tiny magnitudes in range)
    boosted = a < F.lit(2.0**-500)
    a2 = F.when(boosted, a * F.lit(2.0**600)).otherwise(a)
    e0 = F.floor(F.log2(a2))
    m0 = a2 * F.pow(F.lit(2.0), (F.lit(52) - e0).cast("double"))
    m = (
        F.when(m0 >= F.lit(2.0**53), m0 * F.lit(0.5))
        .when(m0 < F.lit(2.0**52), m0 * F.lit(2.0))
        .otherwise(m0)
    )
    e = (
        F.when(m0 >= F.lit(2.0**53), e0 + 1)
        .when(m0 < F.lit(2.0**52), e0 - 1)
        .otherwise(e0)
        - F.when(boosted, F.lit(600)).otherwise(F.lit(0))
    )
    normal_bits = (e + F.lit(1023)) * F.lit(1 << 52) + (
        m.cast("bigint") - F.lit(1 << 52)
    )
    sub_bits = ((a * F.lit(2.0**537)) * F.lit(2.0**537)).cast("bigint")
    mag_bits = F.when(a < F.lit(2.0**-1022), sub_bits).otherwise(normal_bits)
    return (
        F.when(F.isnan(x), F.lit(0x7FF8000000000000))
        .when(x == F.lit(float("inf")), F.lit(0x7FF0000000000000))
        .when(x == F.lit(float("-inf")), F.lit(-1 - 0x7FF0000000000000))
        .when(
            # -0.0 == 0.0 is true, so the sign must come from the
            # rendering (1/x is blocked by ANSI even for doubles);
            # the cast only evaluates on actual zeros (lazy CASE).
            x == F.lit(0.0),
            F.when(x.cast("string") == F.lit("-0.0"), F.lit(-1)).otherwise(
                F.lit(0)
            ),
        )
        .when(x < F.lit(0.0), F.lit(-1) - mag_bits)
        .otherwise(mag_bits)
        .cast("bigint")
    )
