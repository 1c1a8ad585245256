"""Driver-contract guards: invariants the round driver depends on but
cannot enforce itself. Each failure mode here has already bitten a past
round — these tests turn them into suite failures instead of judge
findings.

* Correctness window: the driver verifies only the first 50 sorted
  catalog names against the DuckDB oracle. Every SURVEY §2.2 declared
  query (q01-q29, q32-q42; q30/q31 retired round 3 as plan-duplicates
  of q07/q08) must sort inside that window, or a new registration
  silently drops a declared-inventory query out of verification.
* Bench stdout: the driver keeps a ~2000-char tail of bench.py stdout
  and parses the LAST JSON line. Round 4's per-query SQLMetrics pushed
  that line to ~5.4 KB and the round recorded parsed:null. The line
  must stay compact; metrics belong in the bench_metrics.json side
  file.
* SELFCHECK staleness: scripts/selfcheck.py snapshots a cross-engine
  (Spark vs DuckDB) verdict per catalog entry. Rounds 3 AND 4 both
  shipped a refresh that was then invalidated by later registrations;
  key-set equality makes that a test failure.
"""

from __future__ import annotations

import json
from pathlib import Path

from etsd_time_series_database_spark.plans import catalog

REPO = Path(__file__).resolve().parent.parent

DRIVER_WINDOW = 50
# SURVEY §2.2 declared inventory (q30/q31 retired as exact duplicates)
DECLARED = {f"q{i:02d}" for i in range(1, 43)} - {"q30", "q31"}


def test_declared_queries_inside_driver_window():
    first = sorted(catalog())[:DRIVER_WINDOW]
    prefixes = {n.split("_", 1)[0] for n in first}
    missing = sorted(DECLARED - prefixes)
    assert not missing, (
        f"declared SURVEY §2.2 queries {missing} sort outside the driver's "
        f"first-{DRIVER_WINDOW} correctness window — rename the new "
        "registrations (x-prefix) so declared queries stay verified"
    )


def test_bench_stdout_line_stays_compact():
    """Reconstruct the exact FINAL stdout payload bench.py prints
    (worst-case field widths) and assert it fits the driver's
    ~2000-char tail with headroom. Since round 11 the final line
    carries per-query shuffle_mb (short keys) and skew_compare moved
    to its own EARLIER stdout line — only the final line must parse,
    the skew line just needs to be visible in the tail at realistic
    sizes. If this fails, a new headline query must be offset by
    moving something to the bench_metrics.json side file."""
    headline = sorted(n for n, q in catalog().items() if q.headline)
    # short keys must stay unique or two queries' shuffle bytes merge
    shorts = [n.split("_", 1)[0] for n in headline]
    assert len(set(shorts)) == len(shorts), "headline short-key clash"
    payload = {
        "metric": "headline_queries_total",
        "value": 9999.9999,
        "unit": "sec",
        "regime": "isolated_jvm",
        "queries": {n: 9999.9999 for n in headline},
        "shuffle_mb": {s: 99999.99 for s in shorts},
        "sf": 0.1,
    }
    line = json.dumps(payload)
    assert len(line) < 1800, (
        f"bench.py final stdout line would be {len(line)} chars; the "
        "driver retains only ~2000 — move detail to bench_metrics.json"
    )


def test_selfcheck_matches_catalog():
    # both scale factors: a registration without refreshed evidence in
    # EITHER snapshot is the round-4 staleness bug
    for fname in ("SELFCHECK.json", "SELFCHECK_SF01.json"):
        selfcheck = json.loads((REPO / fname).read_text())
        have = set(selfcheck)
        want = set(catalog())
        assert have == want, (
            f"{fname} is stale: missing={sorted(want - have)} "
            f"extra={sorted(have - want)} — rerun scripts/selfcheck.py "
            "(sf0.01 and sf0.1 route to their own snapshots)"
        )


def test_selfcheck_all_green():
    for fname in ("SELFCHECK.json", "SELFCHECK_SF01.json"):
        selfcheck = json.loads((REPO / fname).read_text())
        bad = sorted(
            name
            for name, row in selfcheck.items()
            if not (row.get("rows_match") and row.get("hash_match", True))
        )
        assert not bad, f"{fname} has non-green entries: {bad}"


def test_selfcheck_snapshots_are_scale_distinct():
    """The two snapshots must actually be from different scale factors:
    x31's row count equals the documents row count (500 at sf0.01,
    5000 at sf0.1), so identical values mean one file clobbered the
    other (the mid-round-6 bug the output routing fixed)."""
    a = json.loads((REPO / "SELFCHECK.json").read_text())
    b = json.loads((REPO / "SELFCHECK_SF01.json").read_text())
    assert a["x31_segment_dedup"]["spark_rows"] == 500
    assert b["x31_segment_dedup"]["spark_rows"] == 5000


def _package_functions():
    """Every top-level function of the package as ``ast`` nodes (nested
    defs stay inside their enclosing top-level function)."""
    import ast

    for f in (REPO / "etsd_time_series_database_spark").rglob("*.py"):
        for top in ast.parse(f.read_text()).body:
            if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield top


def _calls_by_function(attr: str, receiver: str | None) -> dict[str, int]:
    """{top-level function: n} for calls ``<receiver>.<attr>(`` (any
    receiver, or a bare ``<attr>(``, when None) anywhere in the
    package, nested defs counted toward their enclosing top-level
    function."""
    import ast

    out: dict[str, int] = {}
    for top in _package_functions():
        for node in ast.walk(top):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if (
                isinstance(f, ast.Attribute)
                and f.attr == attr
                and (
                    receiver is None
                    or isinstance(f.value, ast.Name) and f.value.id == receiver
                )
                or receiver is None
                and isinstance(f, ast.Name)
                and f.id == attr
            ):
                out[top.name] = out.get(top.name, 0) + 1
    return out


def _cleans_up_in_try() -> set[str]:
    """Top-level functions holding a ``try`` whose ``except`` or
    ``finally`` calls ``.delete(`` — a staging cleanup."""
    import ast

    return {
        top.name
        for top in _package_functions()
        for t in ast.walk(top)
        if isinstance(t, ast.Try)
        and any(
            isinstance(c, ast.Call)
            and isinstance(c.func, ast.Attribute)
            and c.func.attr == "delete"
            for part in [*t.handlers, *t.finalbody]
            for c in ast.walk(part)
        )
    }


def test_directory_swaps_go_through_swap_in_dir():
    """Every single-directory rewrite stages, cleans up and swaps
    through ``store.install_staged``, and every FileSystem handle
    comes from ``store._hadoop_fs``: hand copies of the stage drifted
    (six of nine leaked their staging dir when the write failed). The
    multi-directory installs keep their own staging root and its one
    cleanup: ivf-compact's per-cell swap, the rebalance split and the
    stream sink's commit-log rewrite, whose renames stay their own."""
    multi = {"ivf_compact", "rebalance_cells", "compact_stream_sink"}
    assert set(_calls_by_function("swap_in_dir", None)) == {
        "install_staged", "ivf_compact"
    }
    assert set(_calls_by_function("staging_dir", None)) == multi | {
        "install_staged", "swap_in_dir"
    }
    assert set(_calls_by_function("install_staged", None)) == {
        "compact_partition", "amend_events", "sync_partition",
        "refresh_derived_tier", "compact_ingest_partition",
        "minhash_index_compact", "incremental_dedup", "rebalance_cells",
        "materialize_tier_ladder",
    }
    assert _cleans_up_in_try() == multi | {"install_staged"}
    renames = _calls_by_function("rename", "fs")
    assert set(renames) <= {
        "swap_in_dir", "compact_stream_sink", "rebalance_cells"
    }, renames
    assert sum(renames.values()) - renames["swap_in_dir"] == 5, renames
    assert set(_calls_by_function("getFileSystem", None)) == {"_hadoop_fs"}


def test_interactive_metadata_comes_from_the_footer():
    """A single file's schema (and the CLI's channel names) come from
    one driver-side footer read, ``store.read_footer``, passed to
    ``store.read_parquet``: the readers that once ran a
    schema-inference job make no bare ``read.parquet(`` call. The
    CLI's ``min(ts)`` scan ``_bounds(`` runs only inside the ``begin``
    callables that ``cmd_query`` and ``cmd_dump`` hand to
    ``resolve_range``, which calls them only when the range refers to
    ``begin``: a query with absolute bounds runs no metadata job."""
    import ast

    readers = {"load_table", "raw_ts_micros_divisor", "_load_events", "cmd_query"}
    assert readers <= set(_calls_by_function("read_footer", None))
    assert readers <= set(_calls_by_function("read_parquet", None))
    bare = {
        top.name
        for top in _package_functions()
        if top.name in readers
        for node in ast.walk(top)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "parquet"
        and isinstance(node.func.value, ast.Attribute)
        and node.func.value.attr == "read"
    }
    assert not bare, bare

    def is_bounds(node):
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "_bounds"
        )

    calls, in_begin = [], []
    for top in _package_functions():
        for node in ast.walk(top):
            if is_bounds(node):
                calls.append((top.name, id(node)))
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "resolve_range"
            ):
                in_begin += [
                    (top.name, id(n))
                    for kw in node.keywords
                    if kw.arg == "begin" and isinstance(kw.value, ast.Lambda)
                    for n in ast.walk(kw.value)
                    if is_bounds(n)
                ]
    assert sorted(calls) == sorted(in_begin)
    assert {name for name, _ in calls} == {"cmd_query", "cmd_dump"}


def test_install_paths_count_their_staged_copy_from_footers():
    """A staged copy's rows come from its footers
    (``store.count_staged``), not from a ``read.parquet(...).count()``
    scan: the scan ran two Spark jobs per install and logged "All
    paths were ignored" on the underscore-prefixed staging root. The
    install paths are the functions that stage a copy."""
    import ast

    installs = set(_calls_by_function("install_staged", None)) | set(
        _calls_by_function("staging_dir", None)
    )
    scans = {
        top.name
        for top in _package_functions()
        if top.name in installs
        for node in ast.walk(top)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "count"
        and isinstance(node.func.value, ast.Call)
        and isinstance(node.func.value.func, ast.Attribute)
        and node.func.value.func.attr == "parquet"
    }
    assert not scans, scans
    assert set(_calls_by_function("count_staged", None)) == {
        "amend_events", "refresh_derived_tier", "compact_ingest_partition",
        "compact_stream_sink", "minhash_index_compact",
    }


def test_session_turns_off_dataframe_call_site_capture(spark):
    """PySpark's per-call call-site capture (``_with_origin``) costs
    about five py4j round trips on every Column/DataFrame call.
    ``is_debugging_enabled`` reads this conf once per process."""
    key = "spark.python.sql.dataFrameDebugging.enabled"
    assert spark.conf.get(key) == "false"


def test_derived_tier_contract_has_one_copy():
    """The derived-tier rules (``store.check_derived_tier``) and the
    salted whole-tier rewrite (``store.refresh_derived_tier``) exist
    once: the downsample sink, the digest tier and amend's pre-check
    all go through them. Hand copies drifted — amend compared only the
    bucket width while the refresh compared the whole meta, and only
    the CLI refused a day refresh of a flat sink."""
    import ast

    from etsd_time_series_database_spark.sources import store

    tier_sidecars = {"_downsample_meta.json", "_digest_meta.json"}

    def is_call(node, name):
        f = getattr(node, "func", None)
        return isinstance(node, ast.Call) and (
            isinstance(f, ast.Name) and f.id == name
            or isinstance(f, ast.Attribute) and f.attr == name
        )

    def reads_tier_sidecar(node):
        # read_meta_sidecar(spark, path, <tier sidecar>)
        return any(
            is_call(n, "read_meta_sidecar")
            and len(n.args) == 3
            and (
                isinstance(n.args[2], ast.Constant)
                and n.args[2].value in tier_sidecars
                or isinstance(n.args[2], ast.Attribute)
                and n.args[2].attr == "sidecar"
            )
            for n in ast.walk(node)
        )

    divisor, misaligned, compares, salted = set(), set(), set(), set()
    for top in _package_functions():
        read_names = {
            t.id
            for n in ast.walk(top)
            if isinstance(n, ast.Assign) and reads_tier_sidecar(n.value)
            for t in n.targets
            if isinstance(t, ast.Name)
        }

        def from_sidecar(operand):
            if isinstance(operand, ast.Subscript):
                operand = operand.value
            return isinstance(operand, ast.Name) and operand.id in read_names

        for n in ast.walk(top):
            if (
                isinstance(n, ast.BinOp)
                and isinstance(n.op, ast.Mod)
                and isinstance(n.left, ast.Constant)
                and n.left.value == 86_400
            ):
                divisor.add(top.name)
            if is_call(n, "buckets_misaligned"):
                misaligned.add(top.name)
            if isinstance(n, ast.Compare) and any(
                isinstance(op, (ast.Eq, ast.NotEq)) for op in n.ops
            ):
                # a sidecar compared against something that is not
                # itself a sidecar (digest-diff compares two tiers'
                # sidecars with each other, which is not a request)
                sides = [from_sidecar(o) for o in [n.left, *n.comparators]]
                if any(sides) and not all(sides):
                    compares.add(top.name)
            if (
                is_call(n, "partitionBy")
                and [a.value for a in n.args if isinstance(a, ast.Constant)]
                == ["dt"]
                and any(is_call(h, "hash") for h in ast.walk(top))
            ):
                salted.add(top.name)
    assert divisor == {"check_derived_tier"}, divisor
    assert misaligned == {"check_derived_tier"}, misaligned
    assert compares == {"check_derived_tier"}, compares
    assert salted == {"refresh_derived_tier"}, salted
    assert not hasattr(store, "read_digest_tier_meta")
    assert not hasattr(store, "write_digest_tier_meta")


def test_rra_consolidation_rules_have_one_copy():
    """The RRA consolidation rules behind q75, q79, q80/q81, q82, s20
    and the CLI ``fetch`` exist once, in ``operators.trends``' private
    helpers. Hand copies drifted: the ``avg_v`` rounding disagreed with
    the DuckDB oracle in all six copies, and the tier-ladder check was
    an ``assert`` that ``python -O`` drops."""
    import ast

    def is_call(node, attr, *args):
        f = getattr(node, "func", None)
        return (
            isinstance(node, ast.Call)
            and isinstance(f, ast.Attribute)
            and f.attr == attr
            and [getattr(a, "value", None) for a in node.args] == list(args)
        )

    def has_text(node, text):
        return isinstance(node, ast.Constant) and text in str(node.value)

    def names(node):
        return {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}

    rules = {
        # (expected - n) * 100 <= xff_pct * expected
        "xff": lambda n: isinstance(n, ast.Compare)
        and isinstance(n.ops[0], ast.LtE)
        and isinstance(n.left, ast.BinOp)
        and isinstance(n.left.op, ast.Mult)
        and getattr(n.left.right, "value", None) == 100,
        # <sum>.cast("double") / F.col("n")
        "avg_v": lambda n: isinstance(n, ast.BinOp)
        and isinstance(n.op, ast.Div)
        and is_call(n.left, "cast", "double")
        and is_call(n.right, "col", "n"),
        # the coarser bucket of a compose: "bucket_us div {w}"
        "compose": lambda n: has_text(n, "bucket_us div"),
        "tier_multiple": lambda n: has_text(n, "is not a multiple of"),
        # [w for w in widths if width_s % w == 0]
        "route": lambda n: isinstance(n, ast.comprehension)
        and any(
            isinstance(c, ast.Compare)
            and isinstance(c.left, ast.BinOp)
            and isinstance(c.left.op, ast.Mod)
            and "width_s" in names(c.left.left)
            for c in n.ifs
        ),
    }
    found: dict[str, dict[str, int]] = {k: {} for k in rules}
    for top in _package_functions():
        for n in ast.walk(top):
            for k, rule in rules.items():
                if rule(n):
                    found[k][top.name] = found[k].get(top.name, 0) + 1
    assert found == {
        "xff": {"_rra_finish": 1},
        "avg_v": {"_rra_finish": 1},
        "compose": {"_rra_compose": 1},
        "tier_multiple": {"_rra_cascade": 1},
        "route": {"_coarsest_dividing": 1},
    }, found


def test_only_hysteresis_keeps_a_scalable_switch():
    """The stitched (channel, bucket) form is the one path of every
    channel-window operator; the channel-global forms live in
    ``tests/plain_windows.py`` as test references. Only q62's
    ``hysteresis_episodes`` keeps its ``scalable`` switch, because its
    ``"auto"`` mode picks a side by a measured crossover. q33's value
    bucket width is a module constant, not a parameter."""
    import ast

    def params(f):
        a = f.args
        return {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}

    funcs = list(_package_functions())
    assert [f.name for f in funcs if "scalable" in params(f)] == [
        "hysteresis_episodes"
    ]
    assert not [f.name for f in funcs if "value_bucket_bits" in params(f)]
    kwargs = [
        f.name
        for f in funcs
        for n in ast.walk(f)
        if isinstance(n, ast.keyword) and n.arg == "scalable"
    ]
    assert not kwargs, kwargs
    branches = [
        f.name
        for f in funcs
        for n in ast.walk(f)
        if isinstance(n, ast.If)
        and "scalable" in {x.id for x in ast.walk(n.test) if isinstance(x, ast.Name)}
    ]
    assert branches == ["hysteresis_episodes"] * 2, branches
