"""The one crash-safe directory swap (``sources.store.swap_in_dir``)
under injected failures.

Hadoop rename signals most failures by returning FALSE, not raising.
The fake-FileSystem tests drive the swap against an in-memory
FileSystem whose ``rename`` returns False at a chosen step, so each
rollback branch is pinned without Spark. The Spark tests inject
failures under real verbs: a failed survivors install in
``incremental_dedup`` must leave the previous survivors in place, and a
staged write that raises (an unavailable parquet codec) must leave
every verb's live data and directory listing as they were.
"""

from __future__ import annotations

import pytest

from etsd_time_series_database_spark.sources import store
from etsd_time_series_database_spark.sources.store import (
    staging_dir,
    swap_in_dir,
)
from tests.conftest import SF_SMOKE

ROOT = "file:/tbl"
DST = f"{ROOT}/dt=2026-01-01"
TMP = staging_dir(DST, "compact")


class FakeFs:
    """Directories as {path: content}; ``rename`` returns False on its
    ``fail_at``-th call (1-based; a tuple names several calls). Every
    call is logged in order."""

    def __init__(
        self, dirs: dict[str, str], fail_at: int | tuple[int, ...] = ()
    ):
        self.dirs = dict(dirs)
        self.fail_at = {fail_at} if isinstance(fail_at, int) else set(fail_at)
        self.n_renames = 0
        self.log: list[tuple] = []

    def exists(self, p: str) -> bool:
        return p in self.dirs

    def rename(self, src: str, dst: str) -> bool:
        self.n_renames += 1
        ok = (
            self.n_renames not in self.fail_at
            and src in self.dirs
            and dst not in self.dirs
        )
        self.log.append(("rename", src, dst, ok))
        if ok:
            self.dirs[dst] = self.dirs.pop(src)
        return ok

    def delete(self, p: str, recursive: bool) -> bool:
        self.log.append(("delete", p))
        return self.dirs.pop(p, None) is not None


def _swap(fs: FakeFs) -> None:
    swap_in_dir(fs, str, TMP, DST, "test")


def test_staging_dir_is_hidden_unique_sibling():
    a, b = staging_dir(DST, "compact"), staging_dir(DST, "compact")
    assert a != b
    for p in (a, b):
        parent, name = p.rsplit("/", 1)
        assert parent == ROOT and name.startswith("__compact_")


def test_failed_move_aside_leaves_dst_and_drops_only_tmp():
    fs = FakeFs({DST: "live", TMP: "new"}, fail_at=1)
    with pytest.raises(IOError, match="aside"):
        _swap(fs)
    assert fs.dirs == {DST: "live"}
    assert [e for e in fs.log if e[0] == "delete"] == [("delete", TMP)]


def test_failed_install_renames_old_back():
    fs = FakeFs({DST: "live", TMP: "new"}, fail_at=2)
    with pytest.raises(IOError, match="install"):
        _swap(fs)
    assert fs.dirs[DST] == "live"
    # the rollback is the third rename: old -> dst
    old = fs.log[0][2]
    assert fs.log[2] == ("rename", old, DST, True)
    assert old not in fs.dirs
    # the staged copy is deleted once the rollback has succeeded
    assert [e for e in fs.log if e[0] == "delete"] == [("delete", TMP)]
    assert fs.dirs == {DST: "live"}


def test_failed_install_without_old_copy_drops_tmp():
    fs = FakeFs({TMP: "new"}, fail_at=1)
    with pytest.raises(IOError, match="install"):
        _swap(fs)
    assert fs.dirs == {}
    assert [e for e in fs.log if e[0] == "delete"] == [("delete", TMP)]


def test_failed_rollback_keeps_both_copies():
    """With the install and the rollback failed, ``dst`` is absent:
    the moved-aside old copy and the staged copy are all that is left,
    so neither is deleted."""
    fs = FakeFs({DST: "live", TMP: "new"}, fail_at=(2, 3))
    with pytest.raises(IOError, match="install"):
        _swap(fs)
    old = fs.log[0][2]
    assert fs.dirs == {old: "live", TMP: "new"}
    assert not any(e[0] == "delete" for e in fs.log)


@pytest.mark.parametrize("had_old", [True, False])
def test_success_deletes_old_last(had_old):
    dirs = {DST: "live", TMP: "new"} if had_old else {TMP: "new"}
    fs = FakeFs(dirs)
    _swap(fs)
    assert fs.dirs == {DST: "new"}
    install = fs.log.index(("rename", TMP, DST, True))
    deletes = [i for i, e in enumerate(fs.log) if e[0] == "delete"]
    if had_old:
        old = fs.log[0][2]
        assert fs.log[0] == ("rename", DST, old, True)
        assert old.rsplit("/", 1)[0] == ROOT
        assert deletes == [len(fs.log) - 1] and deletes[0] > install
        assert fs.log[-1] == ("delete", old)
    else:
        assert deletes == []


class _FailingInstall:
    """Wrap a Hadoop FileSystem so the install rename of a staged
    ``__survivors_*`` dir returns False; everything else delegates."""

    def __init__(self, fs):
        self._fs = fs

    def rename(self, src, dst):
        if src.getName().startswith("__survivors_"):
            return False
        return self._fs.rename(src, dst)

    def __getattr__(self, name):
        return getattr(self._fs, name)


def test_incremental_dedup_failed_install_keeps_previous_survivors(
    spark, tmp_path, monkeypatch
):
    import pyspark.sql.functions as F

    from etsd_time_series_database_spark.operators.dedup import (
        incremental_dedup,
        write_minhash_index,
    )

    docs = store.load_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "mh")
    out = str(tmp_path / "survivors")
    write_minhash_index(
        docs.filter(F.col("doc_id") % 3 != 0), path, hash_mode="poly"
    )
    shard = docs.filter(F.col("doc_id") % 3 == 0)
    incremental_dedup(
        shard.filter(F.col("doc_id") % 2 == 0), path,
        survivors_path=out, append_survivors=False,
    )
    before = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert before
    index_rows = spark.read.parquet(path).count()

    real = store._hadoop_fs

    def failing_fs(s, p):
        fs, Path = real(s, p)
        return _FailingInstall(fs), Path

    monkeypatch.setattr(store, "_hadoop_fs", failing_fs)
    with pytest.raises(IOError, match="install"):
        incremental_dedup(
            shard.filter(F.col("doc_id") % 2 == 1), path, survivors_path=out
        )
    monkeypatch.undo()
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == before
    # the failed install stops the workflow before the index append
    assert spark.read.parquet(path).count() == index_rows



def test_failed_full_rebuild_keeps_the_live_tier(spark, tmp_path):
    """A whole-tier rebuild (``refresh_derived_tier(days=None)``,
    ``materialize_tier_ladder``) and a day refresh stage their copy
    and swap it in: a write
    whose tasks fail leaves the previous tier and its sidecar readable
    and no staging dir behind, beside the tier or inside it. The
    failure is an unavailable parquet codec, which raises in the write
    tasks themselves; an overwrite onto the live path left it an empty
    directory, and a failed day refresh left its ``__digest_*``
    staging dir inside the tier."""
    from py4j.protocol import Py4JJavaError

    from etsd_time_series_database_spark.operators.trends import (
        materialize_tier_ladder,
    )

    events = store.load_table(spark, SF_SMOKE, "events")
    raw = str(tmp_path / "raw")
    store.create_events_table(events, raw, mode="overwrite")
    dig = str(tmp_path / "digest")
    lad = str(tmp_path / "ladder")
    store.refresh_digest_tier(spark, raw, dig)
    materialize_tier_ladder(events, lad, tiers_s=(3600, 86400))
    day = min(
        q.name[len("dt="):] for q in (tmp_path / "digest").iterdir()
        if q.name.startswith("dt=")
    )
    tiers = {
        dig: store.DIGEST_TIER.sidecar, lad: "_ladder_meta.json",
    }
    before = {
        p: (
            sorted(map(tuple, spark.read.parquet(p).collect())),
            store.read_meta_sidecar(spark, p, sidecar),
        )
        for p, sidecar in tiers.items()
    }

    codec = "spark.sql.parquet.compression.codec"
    spark.conf.set(codec, "lzo")
    try:
        with pytest.raises(Py4JJavaError, match="LzoCodec"):
            store.refresh_digest_tier(spark, raw, dig)
        with pytest.raises(Py4JJavaError, match="LzoCodec"):
            store.refresh_digest_tier(spark, raw, dig, days=[day])
        with pytest.raises(Py4JJavaError, match="LzoCodec"):
            materialize_tier_ladder(events, lad, tiers_s=(3600, 21600))
    finally:
        spark.conf.unset(codec)
    for p, sidecar in tiers.items():
        assert (
            sorted(map(tuple, spark.read.parquet(p).collect())),
            store.read_meta_sidecar(spark, p, sidecar),
        ) == before[p], p
    for root in (tmp_path, tmp_path / "digest"):
        assert not [q for q in root.iterdir() if q.name.startswith("__")]


def test_staged_copy_reads_back_its_rows(spark, tmp_path):
    """Day refreshes and compactions count their staged copy at its
    ``__{kind}_*`` root from the footers (``store.count_staged``).
    Spark hides underscore entries when it lists a table and logs "All
    paths were ignored" for such a root, yet returns its rows; a day
    refresh drops the live day when that count is 0, so both reads are
    pinned here."""
    tmp = staging_dir(str(tmp_path / "tbl" / "dt=2026-01-01"), "digest")
    spark.range(37).write.parquet(tmp)
    assert spark.read.parquet(tmp).count() == 37
    assert store.count_staged(spark, tmp).rows == 37


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()))


def _events_store(spark, path):
    """Three one-row appends into one ``dt=`` partition."""
    import pyspark.sql.functions as F

    for i in range(3):
        store.create_events_table(
            spark.createDataFrame(
                [(f"2026-01-01 00:00:{i:02d}", "a", float(i), i)],
                "ts string, event_type string, value double, "
                "event_id bigint",
            ).withColumn("ts", F.to_timestamp("ts")),
            path, mode="append",
        )
    return lambda: _sorted_rows(store.read_events_table(spark, path))


def _compact_partition(spark, root):
    read = _events_store(spark, str(root))
    return (
        lambda: store.compact_partition(spark, str(root), "dt=2026-01-01"),
        read,
    )


def _amend_events(spark, root):
    import pyspark.sql.functions as F

    read = _events_store(spark, str(root))
    fix = spark.createDataFrame(
        [("2026-01-01 00:00:01", "a", 99.0, 1)],
        "ts string, event_type string, value double, event_id bigint",
    ).withColumn("ts", F.to_timestamp("ts"))
    return lambda: store.amend_events(spark, str(root), fix), read


def _compact_ingest_partition(spark, root):
    import pyspark.sql.functions as F

    from etsd_time_series_database_spark.streaming.ingest import (
        compact_ingest_partition,
        read_ingest_table,
        write_ingest_epoch,
    )

    for i in range(3):
        write_ingest_epoch(
            spark.createDataFrame(
                [(f"2026-01-01 00:{i:02d}:00", "s", "a", float(i), 0)],
                "ts string, source string, channel string, value double, "
                "status int",
            ).withColumn("ts", F.to_timestamp("ts")),
            i, str(root),
        )
    return (
        lambda: compact_ingest_partition(spark, str(root), "dt=2026-01-01"),
        lambda: _sorted_rows(read_ingest_table(spark, str(root))),
    )


def _minhash_index(spark, root):
    from etsd_time_series_database_spark.operators.dedup import (
        write_minhash_index,
    )

    docs = store.load_table(spark, SF_SMOKE, "documents")
    write_minhash_index(docs, str(root), hash_mode="poly")
    return docs


def _minhash_index_compact(spark, root):
    from etsd_time_series_database_spark.operators.dedup import (
        minhash_index_compact,
    )

    _minhash_index(spark, root)
    return (
        lambda: minhash_index_compact(spark, str(root)),
        lambda: (
            _sorted_rows(spark.read.parquet(str(root))),
            _sorted_rows(spark.read.parquet(f"{root}/_meta")),
        ),
    )


def _incremental_dedup(spark, root):
    from etsd_time_series_database_spark.operators.dedup import (
        incremental_dedup,
    )

    index = str(root.parent / "mh")
    docs = _minhash_index(spark, index)
    incremental_dedup(docs, index, survivors_path=str(root),
                      append_survivors=False)
    return (
        lambda: incremental_dedup(docs, index, survivors_path=str(root)),
        lambda: (
            _sorted_rows(spark.read.parquet(str(root))),
            spark.read.parquet(index).count(),
        ),
    )


def _ivf_index(spark, root):
    """A hot 100-vector cell, a 20-vector one, and cell 0 fragmented
    by two appends."""
    from etsd_time_series_database_spark.operators.similarity import (
        ivf_append,
        read_centroids,
        write_ivf_partitioned,
    )

    schema = "vec_id int, embedding array<float>"
    rows = [(i, [1.0, i * 0.009]) for i in range(100)] + [
        (100 + j, [0.01 * j, 1.0]) for j in range(20)
    ]
    write_ivf_partitioned(
        spark.createDataFrame(rows, schema), centroid_ids=[0, 100],
        path=str(root),
    )
    for i in range(2):
        ivf_append(
            spark.createDataFrame([(200 + i, [1.0, 0.5])], schema),
            str(root),
        )
    return lambda: (
        _sorted_rows(spark.read.parquet(str(root))),
        _sorted_rows(read_centroids(spark, str(root))),
    )


def _ivf_compact(spark, root):
    from etsd_time_series_database_spark.operators.similarity import (
        ivf_compact,
    )

    read = _ivf_index(spark, root)
    return lambda: ivf_compact(spark, str(root), files_per_cell=1), read


def _rebalance_split(spark, root):
    from etsd_time_series_database_spark.operators.similarity import (
        rebalance_cells,
    )

    read = _ivf_index(spark, root)
    return lambda: rebalance_cells(spark, str(root), hot_threshold=50), read


def _rebalance_centroids(spark, root):
    from etsd_time_series_database_spark.operators.similarity import (
        rebalance_cells,
    )

    # no hot and no empty cell: only _centroids is rewritten
    read = _ivf_index(spark, root)
    return (
        lambda: rebalance_cells(spark, str(root), hot_threshold=10**6),
        read,
    )


def _compact_stream_sink(spark, root):
    from etsd_time_series_database_spark.streaming.ingest import (
        compact_stream_sink,
    )
    from tests.test_streaming_ingest import _mk_feed, _mk_run

    src = str(root.parent / "src")
    for i in range(3):
        _mk_feed(spark, src, i)
    _mk_run(spark, src, str(root), str(root.parent / "ckpt"))
    return (
        lambda: compact_stream_sink(spark, str(root)),
        lambda: _sorted_rows(spark.read.parquet(str(root))),
    )


@pytest.mark.parametrize(
    "setup",
    [
        _compact_partition,
        _amend_events,
        _compact_ingest_partition,
        _minhash_index_compact,
        _incremental_dedup,
        _rebalance_centroids,
        _ivf_compact,
        _rebalance_split,
        _compact_stream_sink,
    ],
    ids=lambda f: f.__name__.lstrip("_"),
)
def test_failed_staged_write_leaves_no_staging_dir(spark, tmp_path, setup):
    """Every verb that stages a rewrite deletes its staging copy when
    the staged write raises: the live data reads the same and neither
    the table root nor its parent gains an entry. The failure is an
    unavailable parquet codec, which raises in the write tasks; six
    single-directory verbs and the three multi-directory installs
    left their ``__{kind}_*`` (or ``.__compact__``) stage behind."""
    from py4j.protocol import Py4JJavaError

    root = tmp_path / "tbl"
    run, read = setup(spark, root)

    def listing():
        return {
            p: sorted(q.name for q in p.iterdir()) for p in (root, tmp_path)
        }

    before = read(), listing()
    codec = "spark.sql.parquet.compression.codec"
    spark.conf.set(codec, "lzo")
    try:
        with pytest.raises(Py4JJavaError, match="LzoCodec"):
            run()
    finally:
        spark.conf.unset(codec)
    assert (read(), listing()) == before
    assert not [
        q for p in (root, tmp_path) for q in p.iterdir()
        if q.name.startswith("__")
    ]
