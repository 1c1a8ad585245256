"""The one crash-safe directory swap (``sources.store.swap_in_dir``)
under injected failures.

Hadoop rename signals most failures by returning FALSE, not raising.
The fake-FileSystem tests drive the swap against an in-memory
FileSystem whose ``rename`` returns False at a chosen step, so each
rollback branch is pinned without Spark. The last one injects the same
failure under a real verb: a failed survivors install in
``incremental_dedup`` must leave the previous survivors in place.
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
    ``fail_at``-th call (1-based). Every call is logged in order."""

    def __init__(self, dirs: dict[str, str], fail_at: int | None = None):
        self.dirs = dict(dirs)
        self.fail_at = fail_at
        self.n_renames = 0
        self.log: list[tuple] = []

    def exists(self, p: str) -> bool:
        return p in self.dirs

    def rename(self, src: str, dst: str) -> bool:
        self.n_renames += 1
        ok = (
            self.n_renames != self.fail_at
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
