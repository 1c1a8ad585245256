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


def _calls_by_function(attr: str, receiver: str | None) -> dict[str, int]:
    """{top-level function: n} for calls ``<receiver>.<attr>(`` (any
    receiver when None) anywhere in the package, nested defs counted
    toward their enclosing top-level function."""
    import ast

    out: dict[str, int] = {}
    for f in (REPO / "etsd_time_series_database_spark").rglob("*.py"):
        for top in ast.parse(f.read_text()).body:
            if not isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == attr
                    and (
                        receiver is None
                        or isinstance(node.func.value, ast.Name)
                        and node.func.value.id == receiver
                    )
                ):
                    out[top.name] = out.get(top.name, 0) + 1
    return out


def test_directory_swaps_go_through_swap_in_dir():
    """Every single-directory install goes through
    ``store.swap_in_dir`` and every FileSystem handle through
    ``store._hadoop_fs``: an inline copy of the swap drifts (one
    leaked its temp on a failed move-aside, one deleted the live dir
    before its rename). The two multi-file protocols keep their own
    renames: the stream sink's commit-log rewrite and the rebalance
    one-to-many hot-cell install."""
    renames = _calls_by_function("rename", "fs")
    assert set(renames) <= {
        "swap_in_dir", "compact_stream_sink", "rebalance_cells"
    }, renames
    assert sum(renames.values()) - renames["swap_in_dir"] == 6, renames
    assert set(_calls_by_function("getFileSystem", None)) == {"_hadoop_fs"}
