"""Harness-parity regression: the driver's correctness gate passes a
VANILLA SparkSession (no repo get_spark(), none of session.py's confs)
into ``__spark_entry__.queries()``. Round 1 lost 30/50 rows because the
events loader silently depended on a conf only get_spark() set
(spark.sql.legacy.parquet.nanosAsLong). This test rebuilds that exact
foreign-session environment in a subprocess and runs EVERY catalog
entry through it (``[full]``, slow), so any future session-conf
dependency fails here instead of in the external gate. The default
gate runs ``[fast]``: one entry reading through ``load_table`` and one
streaming replay reading through ``raw_ts_micros_divisor``, the two
paths whose schema comes from ``read_footer``'s conversion under the
session's own confs.
"""

from __future__ import annotations

import pytest

import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

# Deliberately NOT etsd_time_series_database_spark.get_spark(): this is
# the driver's session — default confs only.
spark = (
    SparkSession.builder.master("local[4]")
    .appName("harness-parity")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
import __spark_entry__ as e

qs = e.queries()
names = {names!r} or sorted(qs)
failures = []
for name in names:
    try:
        n = qs[name](spark, {sf!r}).count()
        if n < 0:
            failures.append((name, "negative row count"))
    except Exception as ex:  # noqa: BLE001 - report every entry
        failures.append((name, repr(ex)[:300]))
for name, err in failures:
    print(f"FAIL {{name}}: {{err}}")
print(f"ran {{len(names)}} entries, {{len(failures)}} failures")
spark.stop()
if not failures:
    print("PARITY_PASS")
"""


FAST = ("q04_range_aggregate", "s01_carry_forward_replay")


@pytest.mark.parametrize(
    "names",
    [FAST, pytest.param(None, marks=pytest.mark.slow)],
    ids=["fast", "full"],
)
def test_vanilla_session_runs_entire_catalog(names):
    """A foreign SparkSession with default confs must be able to run
    every catalog entry (fails on round-1 code with
    PARQUET_TYPE_ILLEGAL; passes once load_table is self-sufficient)."""
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            _SCRIPT.format(repo=str(REPO), sf=SF, names=names),
        ],
        capture_output=True,
        text=True,
        timeout=1800,
        cwd=str(REPO),
    )
    assert proc.returncode == 0, f"stderr:\n{proc.stderr[-4000:]}"
    assert "PARITY_PASS" in proc.stdout, f"stdout:\n{proc.stdout[-4000:]}"
