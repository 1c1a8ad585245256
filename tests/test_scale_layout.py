"""Scale-layout tests: bucketed co-located joins (no shuffle) and
salted skew mitigation (same results as the direct formulation)."""

from __future__ import annotations

import importlib

import pytest
from pyspark.sql import functions as F

from etsd_time_series_database_spark.sources.store import (
    load_table,
    write_bucketed_table,
)
from tests.conftest import SF_SMOKE

skew = importlib.import_module("etsd_time_series_database_spark.operators.skew")


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    l = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    o = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    write_bucketed_table(l, "li_b", "l_orderkey", n_buckets=8)
    write_bucketed_table(o, "or_b", "o_orderkey", n_buckets=8)
    yield "li_b", "or_b"
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS or_b")


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    """With broadcast off (the 100 TB fact-fact situation: neither side
    fits), bucketed tables join with NO exchange on either side."""
    li, orr = bucketed_tables
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        j = spark.table(li).join(
            spark.table(orr), F.col("l_orderkey") == F.col("o_orderkey")
        )
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        # co-located: neither side is exchanged before the join
        assert "Exchange hashpartitioning" not in plan
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_bucketed_join_correct(spark, bucketed_tables):
    li, orr = bucketed_tables
    got = (
        spark.table(li)
        .join(spark.table(orr), F.col("l_orderkey") == F.col("o_orderkey"))
        .count()
    )
    l = load_table(spark, SF_SMOKE, "lineitem")
    o = load_table(spark, SF_SMOKE, "orders")
    want = l.join(o, l.l_orderkey == o.o_orderkey).count()
    assert got == want


def test_bucketed_overwrite_resolves_location_through_catalog(spark):
    """overwrite clears the orphaned location of the table it targets —
    resolved via the current database's catalog location — never the
    default-warehouse path of a same-named table in another database."""
    df = spark.range(40).withColumnRenamed("id", "k")
    write_bucketed_table(df, "default.t", "k", n_buckets=2)
    loc = (
        spark.sql("DESCRIBE TABLE EXTENDED default.t")
        .filter(F.col("col_name") == "Location")
        .collect()[0]["data_type"]
    )
    prev = spark.catalog.currentDatabase()
    spark.sql("CREATE DATABASE IF NOT EXISTS other")
    try:
        spark.catalog.setCurrentDatabase("other")
        write_bucketed_table(df.limit(5), "t", "k", n_buckets=2)
        assert spark.table("other.t").count() == 5
        spark.catalog.refreshTable("default.t")
        assert spark.read.parquet(loc).count() == 40
        assert spark.table("default.t").count() == 40
    finally:
        spark.catalog.setCurrentDatabase(prev)
        spark.sql("DROP DATABASE IF EXISTS other CASCADE")
        spark.sql("DROP TABLE IF EXISTS default.t")


def test_salted_agg_matches_direct(spark):
    e = load_table(spark, SF_SMOKE, "events")
    got = {
        r.event_type: (r.n, r.total, r.vmin, r.vmax, round(r.vavg, 9))
        for r in skew.salted_agg(
            e,
            ["event_type"],
            {
                "n": ("count", "value"),
                "total": ("sum", "value"),
                "vmin": ("min", "value"),
                "vmax": ("max", "value"),
            },
            n_salts=16,
            avg_pairs={"vavg": ("total", "n")},
        ).collect()
    }
    want = {
        r.event_type: (r.n, r.total, r.vmin, r.vmax, round(r.vavg, 9))
        for r in e.groupBy("event_type")
        .agg(
            F.count("value").alias("n"),
            F.sum("value").alias("total"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
            (F.sum("value") / F.count("value")).alias("vavg"),
        )
        .collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k][0] == want[k][0] and got[k][2] == want[k][2]
        assert got[k][3] == want[k][3]
        assert abs(got[k][1] - want[k][1]) < 1e-6
        assert abs(got[k][4] - want[k][4]) < 1e-9


def test_salted_join_matches_plain_join(spark):
    e = load_table(spark, SF_SMOKE, "events").withColumnRenamed(
        "event_type", "k"
    )
    dim = (
        load_table(spark, SF_SMOKE, "events")
        .select(F.col("event_type").alias("k"))
        .distinct()
        .withColumn("tag", F.upper("k"))
    )
    got = (
        skew.salted_join(e, dim, "k", n_salts=4)
        .groupBy("k", "tag")
        .count()
    )
    want = e.join(dim, "k").groupBy("k", "tag").count()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_retention_drops_old_partitions(spark, tmp_path):
    from etsd_time_series_database_spark.sources.store import (
        create_events_table,
        drop_partitions_before,
        read_events_table,
    )

    df = spark.createDataFrame(
        [
            ("2026-01-01 10:00:00", "a", 1.0, 1),
            ("2026-01-02 10:00:00", "a", 2.0, 2),
            ("2026-01-03 10:00:00", "a", 3.0, 3),
        ],
        "ts string, event_type string, value double, event_id bigint",
    ).withColumn("ts", F.to_timestamp("ts"))
    # file: URI on purpose — the maintenance ops must go through the
    # Hadoop FS API (object-store portable), not os.listdir/shutil
    path = "file:" + str(tmp_path / "tbl")
    create_events_table(df, path, mode="overwrite")

    dropped = drop_partitions_before(path, "2026-01-03", spark=spark)
    assert dropped == ["dt=2026-01-01", "dt=2026-01-02"]
    left = read_events_table(spark, path)
    assert [r.event_id for r in left.collect()] == [3]


def test_compact_partition_merges_files_preserves_rows(spark, tmp_path):
    from etsd_time_series_database_spark.sources.store import (
        compact_partition,
        create_events_table,
        read_events_table,
    )

    local = str(tmp_path / "tbl")
    path = "file:" + local  # Hadoop FS path, not a driver-local one
    # three appends -> three files in the same date partition
    for i in range(3):
        df = spark.createDataFrame(
            [(f"2026-01-01 00:00:{i:02d}", "a", float(i), i)],
            "ts string, event_type string, value double, event_id bigint",
        ).withColumn("ts", F.to_timestamp("ts"))
        create_events_table(df, path, mode="append")

    import os

    part = os.path.join(local, "dt=2026-01-01")
    before = len([f for f in os.listdir(part) if f.endswith(".parquet")])
    assert before >= 3
    n = compact_partition(spark, path, "dt=2026-01-01", target_files=1)
    assert n == before
    after = len([f for f in os.listdir(part) if f.endswith(".parquet")])
    assert after == 1
    rows = read_events_table(spark, path).orderBy("event_id").collect()
    assert [r.value for r in rows] == [0.0, 1.0, 2.0]


def test_ivf_partitioned_layout_prunes_to_one_cell(spark, tmp_path):
    """write_ivf_partitioned + ivf_probe_partitioned: the cent_id
    predicate must be satisfied by partition-directory pruning — the
    probe's scan reads ONE cell's files, not the corpus (the ANN
    analog of the ts block skip)."""
    import pyspark.sql.functions as F

    from etsd_time_series_database_spark.operators.similarity import (
        ivf_probe_partitioned,
        write_ivf_partitioned,
    )
    from etsd_time_series_database_spark.sources.store import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "ivf")
    write_ivf_partitioned(emb, centroid_ids=[0, 1, 2, 3], path=path)

    # layout: one directory per cell
    import os

    cells = sorted(d for d in os.listdir(path) if d.startswith("cent_id="))
    assert len(cells) >= 2

    qv = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    probe = ivf_probe_partitioned(spark, path, qv, cent_id=0, k=3)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    # partition filter, pruned scan: only the cent_id=0 directory
    assert "PartitionFilters" in plan
    assert "cent_id#" in plan.split("PartitionFilters")[1][:200]
    rows = probe.collect()
    assert 0 < len(rows) <= 3
    # the probe's answers really are from cell 0
    cell0 = {
        r["vec_id"]
        for r in spark.read.parquet(path)
        .filter(F.col("cent_id") == 0)
        .collect()
    }
    assert all(r["vec_id"] in cell0 for r in rows)


def test_ivf_multi_probe_prunes_to_nprobe_cells(spark, tmp_path):
    """Multi-probe (nprobe > 1): nearest_cells plans the probe list
    over the bounded centroid table, and the probe scan's file count
    equals exactly nprobe — one file per probed cell directory, every
    unprobed cell pruned before I/O."""
    import pyspark.sql.functions as F

    from etsd_time_series_database_spark.operators.similarity import (
        ivf_probe_partitioned,
        nearest_cells,
        write_ivf_partitioned,
    )
    from etsd_time_series_database_spark.plans.metrics import (
        collect_plan_metrics,
    )
    from etsd_time_series_database_spark.sources.store import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cids = [0, 1, 2, 3]
    path = str(tmp_path / "ivf_mp")
    write_ivf_partitioned(emb, centroid_ids=cids, path=path)

    import os

    n_cells = len([d for d in os.listdir(path) if d.startswith("cent_id=")])
    assert n_cells == len(cids)
    # write shape: one file per cell directory (repartition by cent_id)
    for d in sorted(os.listdir(path)):
        if d.startswith("cent_id="):
            files = [
                f
                for f in os.listdir(os.path.join(path, d))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, (d, files)

    cents = emb.filter(F.col("vec_id").isin(cids)).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    qv = emb.filter(F.col("vec_id") == 7).collect()[0]["embedding"]
    nprobe = 2
    cells = nearest_cells(cents, qv, nprobe=nprobe)
    assert len(cells) == nprobe and len(set(cells)) == nprobe

    probe = ivf_probe_partitioned(spark, path, qv, cells, k=5)
    probe.collect()
    m = collect_plan_metrics(probe)
    assert m["scan_files"] == nprobe, m
    # answers only from the probed cells
    probed = {
        r["vec_id"]
        for r in spark.read.parquet(path)
        .filter(F.col("cent_id").isin(cells))
        .collect()
    }
    assert all(r["vec_id"] in probed for r in probe.collect())
    # single-cell probes keep working through the same entry point
    one = ivf_probe_partitioned(spark, path, qv, cells[0], k=3)
    one.collect()
    assert collect_plan_metrics(one)["scan_files"] == 1


def test_ivf_append_maintains_layout_incrementally(spark, tmp_path):
    """ivf_append assigns a new batch against the layout's stored
    centroids and appends into the existing cell dirs: probes see the
    union, assignments agree with a from-scratch rebuild, and the old
    cell files are not rewritten."""
    import os

    import pyspark.sql.functions as F

    from etsd_time_series_database_spark.operators.similarity import (
        assign_cells,
        ivf_append,
        read_centroids,
        write_ivf_partitioned,
    )
    from etsd_time_series_database_spark.sources.store import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    base = emb.filter(F.col("vec_id") < 40)
    new = emb.filter((F.col("vec_id") >= 40) & (F.col("vec_id") < 60))
    cids = [0, 1, 2, 3]
    path = str(tmp_path / "ivf_inc")
    write_ivf_partitioned(base, centroid_ids=cids, path=path)

    def files(p):
        out = set()
        for d in os.listdir(p):
            if d.startswith("cent_id="):
                for f in os.listdir(os.path.join(p, d)):
                    if f.endswith(".parquet"):
                        out.add(os.path.join(d, f))
        return out

    before = files(path)
    ivf_append(new, path)
    after = files(path)
    assert before <= after and len(after) > len(before)

    got = spark.read.parquet(path)
    assert got.count() == 60
    # appended assignments match assigning against the same centroids
    want = {
        (r["vec_id"], r["cent_id"])
        for r in assign_cells(
            new, [], _centroids=read_centroids(spark, path)
        ).collect()
    }
    have = {
        (r["vec_id"], r["cent_id"])
        for r in got.filter(F.col("vec_id") >= 40).collect()
    }
    assert have == want


def test_pq_codes_layout_probe_matches_live_and_reads_no_vectors(
    spark, tmp_path
):
    """write_pq_codes + pq_probe_codes must reproduce the live pq_topk
    ADC ranking exactly, and the probe's code scan must read ONLY the
    3-int code columns — never an embedding (that is the point of the
    compressed layout)."""
    import importlib

    from pyspark.sql import functions as F

    sim = importlib.import_module(
        "etsd_time_series_database_spark.operators.similarity"
    )
    from etsd_time_series_database_spark.sources.store import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "pqidx")
    sim.write_pq_codes(emb, path)

    qv = emb.filter(F.col("vec_id") == 0).collect()[0].embedding
    probe = sim.pq_probe_codes(spark, path, qv, k=10, exclude_id=0)
    live = sim.pq_topk(emb, query_id=0, k=10)
    assert [tuple(r) for r in probe.collect()] == [
        tuple(r) for r in live.collect()
    ]

    plan = probe._jdf.queryExecution().executedPlan().toString()
    # the code-table scan must not touch any embedding column
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    code_scans = [ln for ln in scans if "cent_id" in ln or "pqidx" in ln]
    assert code_scans, plan
    assert all("embedding" not in ln for ln in scans), scans


def test_minhash_index_lifecycle(spark, tmp_path):
    """Cross-run dedup index: write on a base corpus, append a shard
    (old band files untouched), probe a new batch — candidates equal
    the in-run LSH join restricted to (new x indexed) pairs, and the
    signature recipe is pinned by the layout's _meta."""
    import os

    import pyspark.sql.functions as F

    from etsd_time_series_database_spark.operators.dedup import (
        minhash_index_append,
        minhash_lsh_candidates,
        minhash_probe_new,
        read_minhash_index,
        write_minhash_index,
    )
    from etsd_time_series_database_spark.sources.store import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    base = docs.filter(F.col("doc_id") % 3 == 1)
    shard = docs.filter(F.col("doc_id") % 3 == 2)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    path = str(tmp_path / "mh_index")
    write_minhash_index(base, path, hash_mode="poly")

    def files(p):
        out = set()
        for d in os.listdir(p):
            if d.startswith("band="):
                for f in os.listdir(os.path.join(p, d)):
                    if f.endswith(".parquet"):
                        out.add(os.path.join(d, f))
        return out

    before = files(path)
    minhash_index_append(shard, path)
    after = files(path)
    # append-only: existing band files untouched, new ones added
    assert before <= after and len(after) > len(before)

    # recipe roundtrip
    _, meta = read_minhash_index(spark, path)
    assert (meta["n"], meta["rows_per_band"], meta["hash_mode"]) == (
        3, 2, "poly",
    )

    got = {
        (r["new_id"], r["index_id"])
        for r in minhash_probe_new(new, path).collect()
    }
    # oracle: the in-run LSH self-join over the FULL corpus, keeping
    # only pairs that cross the (new, indexed) boundary
    all_pairs = minhash_lsh_candidates(docs, hash_mode="poly").collect()
    want = set()
    for r in all_pairs:
        a_new, b_new = r["doc_a"] % 3 == 0, r["doc_b"] % 3 == 0
        if a_new and not b_new:
            want.add((r["doc_a"], r["doc_b"]))
        elif b_new and not a_new:
            want.add((r["doc_b"], r["doc_a"]))
    assert got == want and len(got) > 0


def test_incremental_dedup_drops_and_appends_survivors(spark, tmp_path):
    """incremental_dedup: shard docs colliding with the index or with
    an earlier-keyed in-shard collider are dropped; survivors come
    back with all columns, get persisted to survivors_path BEFORE the
    index append, and a RE-RUN of the same shard reproduces the SAME
    survivor set (self-matches excluded — retry-idempotent)."""
    import pyspark.sql.functions as F

    from etsd_time_series_database_spark.operators.dedup import (
        incremental_dedup,
        minhash_probe_new,
        write_minhash_index,
    )
    from etsd_time_series_database_spark.sources.store import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    base = docs.filter(F.col("doc_id") % 3 != 0)
    shard = docs.filter(F.col("doc_id") % 3 == 0)
    path = str(tmp_path / "mh_inc")
    out = str(tmp_path / "survivors")
    write_minhash_index(base, path, hash_mode="poly")

    cross_ids = {
        r["new_id"] for r in minhash_probe_new(shard, path).collect()
    }
    survivors = incremental_dedup(shard, path, survivors_path=out)
    ids = {r["doc_id"] for r in survivors.collect()}
    assert survivors.columns == shard.columns
    assert ids.isdisjoint(cross_ids)
    assert len(ids) > 0
    # persisted output matches the returned frame
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == ids
    # retry AFTER a successful append: self-matches are excluded, so
    # the same shard reproduces the same survivors instead of
    # colliding with its own indexed signatures and emptying the set
    again = incremental_dedup(shard, path)
    assert {r["doc_id"] for r in again.collect()} == ids
    # an accidental double-feed IS detectable when asked for:
    # exclude_self=False surfaces the survivors' self-matches that the
    # default (retry-idempotent) probe hides
    self_hits = {
        r["new_id"]
        for r in minhash_probe_new(
            shard, path, exclude_self=False
        ).collect()
        if r["new_id"] == r["index_id"]
    }
    assert self_hits == ids
    default_hits = {
        (r["new_id"], r["index_id"])
        for r in minhash_probe_new(shard, path).collect()
    }
    assert all(a != b for a, b in default_hits)


def test_incremental_dedup_crash_retry_keeps_shard(spark, tmp_path):
    """Crash-safety (r8 verdict #2): survivors are persisted BEFORE
    the index append. Simulate a crash between the two steps (the old
    eager-append window, inverted): run the dry-run probe, persist
    survivors, 'crash' before append, then RETRY with the full call —
    the retry must keep the shard (same survivors), not drop it as
    'already seen'. Eager append without a survivors_path is refused
    outright."""
    import pyspark.sql.functions as F
    import pytest

    from etsd_time_series_database_spark.operators.dedup import (
        incremental_dedup,
        write_minhash_index,
    )
    from etsd_time_series_database_spark.sources.store import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    base = docs.filter(F.col("doc_id") % 3 != 0)
    shard = docs.filter(F.col("doc_id") % 3 == 0)
    path = str(tmp_path / "mh_crash")
    out = str(tmp_path / "survivors")
    write_minhash_index(base, path, hash_mode="poly")

    # the unsafe ordering is no longer expressible
    with pytest.raises(ValueError, match="survivors_path"):
        incremental_dedup(shard, path, append_survivors=True)

    # step 1 of the crash-safe ordering: survivors written, no append
    first = incremental_dedup(shard, path)
    first.write.mode("overwrite").parquet(out)
    ids = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert len(ids) > 0
    # --- crash here: index never saw the shard ---
    # retry the full workflow: must reproduce the same survivor set
    retried = incremental_dedup(shard, path, survivors_path=out)
    assert {r["doc_id"] for r in retried.collect()} == ids
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == ids
    index_rows = spark.read.parquet(path).count()
    # and a SECOND full retry (crash after append) is also stable —
    # same survivors AND no duplicate signature rows in the index
    retried2 = incremental_dedup(shard, path, survivors_path=out)
    assert {r["doc_id"] for r in retried2.collect()} == ids
    assert spark.read.parquet(path).count() == index_rows


def test_minhash_probe_broadcasts_new_side(spark, tmp_path):
    """Probing a shard against the persisted index must broadcast the
    shard's band table: the corpus-sized index streams through its
    scan with NO shuffle (no SortMergeJoin anywhere in the probe
    plan) — the property that keeps daily-dedup cost O(shard) at
    100 TB."""
    import pyspark.sql.functions as F

    from etsd_time_series_database_spark.operators.dedup import (
        minhash_probe_new,
        write_minhash_index,
    )
    from etsd_time_series_database_spark.sources.store import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "mh_plan")
    write_minhash_index(docs.filter(F.col("doc_id") % 3 != 0), path)
    probe = minhash_probe_new(docs.filter(F.col("doc_id") % 3 == 0), path)
    probe.collect()  # let AQE finalize the physical plan
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_minhash_index_compact_preserves_probe(spark, tmp_path):
    """Compaction must be invisible to semantics: after several
    appends (one small file per band per shard), compacting to one
    file per band leaves the recipe, the signature multiset, and the
    probe result identical while strictly reducing the file count."""
    import os

    import pyspark.sql.functions as F

    from etsd_time_series_database_spark.operators.dedup import (
        minhash_index_append,
        minhash_index_compact,
        minhash_probe_new,
        read_minhash_index,
        write_minhash_index,
    )
    from etsd_time_series_database_spark.sources.store import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "mh_compact")
    write_minhash_index(docs.filter(F.col("doc_id") % 4 == 1), path,
                        hash_mode="poly")
    minhash_index_append(docs.filter(F.col("doc_id") % 4 == 2), path)
    minhash_index_append(docs.filter(F.col("doc_id") % 4 == 3), path)
    new = docs.filter(F.col("doc_id") % 4 == 0)

    before_rows = sorted(map(tuple, spark.read.parquet(path).collect()))
    before_probe = sorted(
        map(tuple, minhash_probe_new(new, path).collect())
    )
    _, before_meta = read_minhash_index(spark, path)

    stats = minhash_index_compact(spark, path)
    assert stats["files_after"] < stats["files_before"]
    assert stats["rows"] == len(before_rows)

    # one file per band partition after compaction
    for d in os.listdir(path):
        if d.startswith("band="):
            pq = [f for f in os.listdir(os.path.join(path, d))
                  if f.endswith(".parquet")]
            assert len(pq) == 1, (d, pq)
    assert sorted(
        map(tuple, spark.read.parquet(path).collect())
    ) == before_rows
    assert sorted(
        map(tuple, minhash_probe_new(new, path).collect())
    ) == before_probe
    _, after_meta = read_minhash_index(spark, path)
    assert after_meta == before_meta


def test_incremental_dedup_dry_run_with_output(spark, tmp_path):
    """append_survivors=False + survivors_path: persist the survivor
    set but leave the index byte-untouched (a dry run with output)."""
    import os

    import pyspark.sql.functions as F

    from etsd_time_series_database_spark.operators.dedup import (
        incremental_dedup,
        write_minhash_index,
    )
    from etsd_time_series_database_spark.sources.store import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "mh_dry")
    out = str(tmp_path / "survivors")
    write_minhash_index(
        docs.filter(F.col("doc_id") % 3 != 0), path, hash_mode="poly"
    )

    def band_files():
        files = []
        for d in sorted(os.listdir(path)):
            if d.startswith("band="):
                for f in sorted(os.listdir(os.path.join(path, d))):
                    p = os.path.join(path, d, f)
                    files.append((p, os.path.getsize(p)))
        return files

    before = band_files()
    shard = docs.filter(F.col("doc_id") % 3 == 0)
    kept = incremental_dedup(
        shard, path, survivors_path=out, append_survivors=False
    )
    assert kept.count() > 0
    assert os.path.exists(out)
    assert band_files() == before  # index untouched


def test_incremental_dedup_completes_torn_append(spark, tmp_path):
    """A crash DURING the signature append can commit only SOME of a
    key's band rows. The retry must COMPLETE the torn rows (write the
    missing bands) without duplicating the committed ones — key-level
    exclusion would leave the missing bands absent forever."""
    import pyspark.sql.functions as F

    from etsd_time_series_database_spark.operators.dedup import (
        incremental_dedup,
        minhash_band_table,
        write_minhash_index,
    )
    from etsd_time_series_database_spark.sources.store import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    base = docs.filter(F.col("doc_id") % 3 != 0)
    shard = docs.filter(F.col("doc_id") % 3 == 0)
    path = str(tmp_path / "mh_torn")
    out = str(tmp_path / "survivors")
    write_minhash_index(base, path, hash_mode="poly")

    # full run to learn the TRUE post-append index content
    survivors = incremental_dedup(shard, path, survivors_path=out)
    ids = {r["doc_id"] for r in survivors.collect()}
    want_rows = sorted(map(tuple, spark.read.parquet(path).collect()))

    # rebuild the index, then simulate a TORN append: only band 0 of
    # the survivors' signatures got committed before the crash
    write_minhash_index(base, path, hash_mode="poly")
    torn = (
        minhash_band_table(
            shard.join(
                spark.createDataFrame(
                    [(i,) for i in ids], "doc_id long"
                ),
                "doc_id",
                "left_semi",
            ),
            hash_mode="poly",
        ).filter(F.col("band") == 0)
    )
    torn.repartition(F.col("band")).write.mode("append").partitionBy(
        "band"
    ).parquet(path)

    # retry: same survivors, and the index must end up EXACTLY as a
    # clean run leaves it — missing bands completed, band 0 not doubled
    retried = incremental_dedup(shard, path, survivors_path=out)
    assert {r["doc_id"] for r in retried.collect()} == ids
    got_rows = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert got_rows == want_rows


@pytest.mark.slow
def test_rebalance_cells_splits_hot_retires_empty(spark, tmp_path):
    """rebalance_cells (round-11 verdict #3 — acting on x83's
    observation): the hot cell splits into fresh sub-cells via a LOCAL
    Lloyd over that cell only, the near-empty cell retires with its
    straggler reassigned, and the untouched cell's files are
    byte-identical afterwards. Post-rebalance assignment equals a full
    re-cluster RESTRICTED to the touched cells; the split's input
    files all live under the hot cell's directory (untouched dirs are
    structurally outside the scan); the x83 profile over the new
    geometry is flatter."""
    import hashlib
    import os

    import pyspark.sql.functions as F

    from etsd_time_series_database_spark.operators.similarity import (
        assign_cells,
        cell_balance_profile,
        kmeans_refine,
        read_centroids,
        rebalance_cells,
        write_ivf_partitioned,
    )

    rows = (
        [(i, [1.0, i * 0.009]) for i in range(100)]          # hot cluster
        + [(100 + j, [0.01 * j, 1.0]) for j in range(20)]    # healthy
        + [(120, [-1.0, 0.01])]                              # straggler
    )
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    path = str(tmp_path / "ivf_rebal")
    write_ivf_partitioned(emb, centroid_ids=[0, 100, 120], path=path)
    before_prof = {
        r["cent_id"]: r["pct_corpus"]
        for r in cell_balance_profile(
            emb, [], _centroids=read_centroids(spark, path)
        ).collect()
    }

    def cell_files(cid):
        d = os.path.join(path, f"cent_id={cid}")
        return {
            f: hashlib.sha256(
                open(os.path.join(d, f), "rb").read()
            ).hexdigest()
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    healthy_before = cell_files(100)
    stats = rebalance_cells(
        spark, path, hot_threshold=50, empty_threshold=1
    )
    # untouched cell: its pre-existing files are byte-identical (the
    # straggler reassignment APPENDS a new file there — the ivf_append
    # contract — but never rewrites what the cell already held)
    healthy_after = cell_files(100)
    assert all(
        healthy_after.get(f) == h for f, h in healthy_before.items()
    )
    # the split read only the hot cell's directory
    assert stats["split_input_files"], "split must report its scan"
    assert all(
        f"cent_id=0/" in f for f in stats["split_input_files"]
    ), stats["split_input_files"]
    # fresh ids after the max (120): two sub-cells
    assert stats["split"] == {0: [121, 122]}
    assert stats["retired"] == [120] and stats["reassigned"] == 1
    # centroid table swapped atomically to the new geometry
    cents = read_centroids(spark, path)
    assert {r["cent_id"] for r in cents.collect()} == {100, 121, 122}
    # post-rebalance assignment == full re-cluster restricted to the
    # touched cells: hot vectors re-assigned against the local Lloyd
    # refinement (seeds = the cell's two lowest keys), healthy cell
    # untouched, straggler to its nearest survivor
    got = {
        (r["vec_id"], r["cent_id"])
        for r in spark.read.parquet(path).collect()
    }
    hot_vecs = emb.filter(F.col("vec_id") < 100)
    refined = kmeans_refine(hot_vecs, [0, 1], n_iter=2)
    remap = {0: 121, 1: 122}
    want_hot = {
        (r["vec_id"], remap[r["cent_id"]])
        for r in assign_cells(
            hot_vecs, [], _centroids=refined
        ).collect()
    }
    want = (
        want_hot
        | {(100 + j, 100) for j in range(20)}
        | {
            (120, r["cent_id"])
            for r in assign_cells(
                emb.filter(F.col("vec_id") == 120), [], _centroids=cents
            ).collect()
        }
    )
    assert got == want
    # both sub-cells actually hold vectors (the split was real)
    from collections import Counter

    sizes = Counter(c for _, c in got)
    assert sizes[121] > 0 and sizes[122] > 0
    # x83 over the new geometry: the hot share flattened
    after_prof = cell_balance_profile(
        spark.read.parquet(path).select("vec_id", "embedding"),
        [],
        _centroids=cents,
    ).collect()
    assert max(r["pct_corpus"] for r in after_prof) < max(
        before_prof.values()
    )


@pytest.mark.slow
def test_ivf_compact_targets_only_fragmented_cells(spark, tmp_path):
    """ivf_compact: repeated ivf_appends fragment exactly the cells
    new data maps to; compaction rewrites ONLY cells over
    --files-per-cell (scan scope pinned via compact_input_files, the
    rebalance_cells contract), leaves every other cell's files — and
    _centroids — byte-identical, conserves rows, and probe results
    are unchanged. The CLI verb refuses a non-index path (rc 2)."""
    import hashlib
    import os

    import pyspark.sql.functions as F

    from etsd_time_series_database_spark import cli
    from etsd_time_series_database_spark.operators.similarity import (
        ivf_append,
        ivf_compact,
        ivf_probe_partitioned,
        nearest_cells,
        read_centroids,
        write_ivf_partitioned,
    )

    # two well-separated clusters; appends all land in cluster-0's cell
    rows = (
        [(i, [1.0, i * 0.001]) for i in range(40)]
        + [(100 + j, [0.001 * j, 1.0]) for j in range(40)]
    )
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    path = str(tmp_path / "ivf_frag")
    write_ivf_partitioned(emb, centroid_ids=[0, 100], path=path)
    for i in range(3):  # three appends -> three extra files in cell 0
        ivf_append(
            spark.createDataFrame(
                [(200 + i, [1.0, 0.5 + i * 0.001])],
                "vec_id int, embedding array<float>",
            ),
            path,
        )

    def cell_files(cid):
        d = os.path.join(path, f"cent_id={cid}")
        return {
            f: hashlib.sha256(
                open(os.path.join(d, f), "rb").read()
            ).hexdigest()
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    assert len(cell_files(0)) >= 4 and len(cell_files(100)) == 1
    quiet_before = cell_files(100)
    cents_dir = os.path.join(path, "_centroids")
    cents_before = {
        f: hashlib.sha256(
            open(os.path.join(cents_dir, f), "rb").read()
        ).hexdigest()
        for f in os.listdir(cents_dir)
    }
    q = [1.0, 0.4]
    probe_before = sorted(
        map(tuple, ivf_probe_partitioned(
            spark, path, q,
            nearest_cells(read_centroids(spark, path), q, nprobe=1),
            k=5,
        ).collect())
    )
    rows_before = spark.read.parquet(path).count()

    stats = ivf_compact(spark, path, files_per_cell=1)
    assert stats["cells_compacted"] == 1
    assert stats["files_after"] == 2  # one per cell
    # only the fragmented cell was read
    assert stats["compact_input_files"]
    assert all("cent_id=0/" in f for f in stats["compact_input_files"])
    # untouched cell + centroids byte-identical
    assert cell_files(100) == quiet_before
    cents_after = {
        f: hashlib.sha256(
            open(os.path.join(cents_dir, f), "rb").read()
        ).hexdigest()
        for f in os.listdir(cents_dir)
    }
    assert cents_after == cents_before
    # rows conserved, probe unchanged
    assert spark.read.parquet(path).count() == rows_before
    probe_after = sorted(
        map(tuple, ivf_probe_partitioned(
            spark, path, q,
            nearest_cells(read_centroids(spark, path), q, nprobe=1),
            k=5,
        ).collect())
    )
    assert probe_after == probe_before
    # idempotent: a second pass finds nothing to do
    again = ivf_compact(spark, path, files_per_cell=1)
    assert again["cells_compacted"] == 0 and again["rows"] == 0

    # CLI verb + non-index guard
    rc = cli.main(["ivf-compact", str(tmp_path)], spark=spark)
    assert rc == 2
    ivf_append(
        spark.createDataFrame(
            [(300, [1.0, 0.6])], "vec_id int, embedding array<float>"
        ),
        path,
    )
    rc = cli.main(["ivf-compact", path], spark=spark)
    assert rc == 0
    assert len(cell_files(0)) == 1


def test_ivf_meta_sidecar_guards_geometry(spark, tmp_path):
    """Round-13 verdict #5: the IVF layout gets the parameter sidecar
    the digest/downsample tiers got in round 13 — _centroids_meta.json
    records dim/metric/nlist and the key/vec column contract.
    write-index stamps it, append refuses a wrong-width batch or wrong
    columns BEFORE touching any cell, probe refuses a wrong-length
    query, rebalance updates nlist, and a pre-sidecar layout adopts a
    VALIDATED meta derived from its own _centroids."""
    import json
    import os

    import pyspark.sql.functions as F
    import pytest as _pytest

    from etsd_time_series_database_spark.operators.similarity import (
        ivf_append,
        ivf_probe_partitioned,
        read_ivf_meta,
        rebalance_cells,
        write_ivf_partitioned,
    )
    from etsd_time_series_database_spark.sources.store import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    base = emb.filter(F.col("vec_id") < 40)
    path = str(tmp_path / "ivf_meta")
    write_ivf_partitioned(base, centroid_ids=[0, 1, 2, 3], path=path)

    meta = read_ivf_meta(spark, path)
    dim = base.select(F.size("embedding")).first()[0]
    assert meta == {
        "dim": dim, "metric": "cosine", "nlist": 4,
        "key": "vec_id", "vec": "embedding",
    }

    def cell_files():
        out = set()
        for d in os.listdir(path):
            if d.startswith("cent_id="):
                for f in os.listdir(os.path.join(path, d)):
                    if f.endswith(".parquet"):
                        out.add(os.path.join(d, f))
        return out

    before = cell_files()
    # wrong-width batch: refused, no cell touched
    bad = emb.filter(
        (F.col("vec_id") >= 40) & (F.col("vec_id") < 50)
    ).withColumn("embedding", F.slice("embedding", 1, dim - 1))
    with _pytest.raises(ValueError, match="dim"):
        ivf_append(bad, path)
    assert cell_files() == before
    # wrong column names: refused
    with _pytest.raises(ValueError, match="key="):
        ivf_append(emb.filter(F.col("vec_id") >= 40), path, key="doc_id")
    assert cell_files() == before

    # wrong-length probe vector: refused
    with _pytest.raises(ValueError, match="components"):
        ivf_probe_partitioned(spark, path, [1.0, 2.0], 0, k=3)

    # rebalance keeps the sidecar's nlist in sync with the survivors
    stats = rebalance_cells(
        spark, path, hot_threshold=10 ** 9, empty_threshold=0
    )
    cents_now = spark.read.parquet(path + "/_centroids").count()
    assert read_ivf_meta(spark, path)["nlist"] == cents_now

    # pre-sidecar layout: a valid append ADOPTS a meta derived from
    # _centroids (never the caller's unverified claim) ...
    os.remove(os.path.join(path, "_centroids_meta.json"))
    good = emb.filter((F.col("vec_id") >= 40) & (F.col("vec_id") < 50))
    ivf_append(good, path)
    adopted = read_ivf_meta(spark, path)
    assert adopted["dim"] == dim and adopted["nlist"] == cents_now
    # ... and bogus claimed columns fail the corpus-schema validation
    os.remove(os.path.join(path, "_centroids_meta.json"))
    with _pytest.raises(ValueError, match="do not exist"):
        ivf_append(good.withColumnRenamed("vec_id", "k2")
                   .withColumnRenamed("embedding", "v2"),
                   path, key="k2", vec="v2")
