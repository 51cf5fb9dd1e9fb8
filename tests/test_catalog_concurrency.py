"""Optimistic-concurrency commits, copy-on-write MERGE, and the GC and
read checks that keep a table whole under them.

On a 1000-executor deployment many jobs append to the same table at
once (parallel ingest waves, a streaming sink, a backfill).  Iceberg
serializes them with an atomic compare-and-swap on the snapshot id:
losers rebase and retry.  This catalog implements the same CAS with a
create-if-absent hard link on the manifest; ``append`` retries
automatically (appends commute), while ``compact``/``merge`` raise
:class:`CommitConflict` because their rewrite was computed against a
stale snapshot and blindly retrying would drop the concurrent writer's
rows.  ``expire_snapshots`` must never delete a dir a concurrent writer
is about to commit or has just committed.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from qfilter.catalog import Catalog, CommitConflict


@pytest.fixture()
def cat(tmp_path):
    return Catalog(str(tmp_path / "wh"))


def _mk(spark, lo, hi, tag="a"):
    return spark.range(lo, hi).select(
        F.col("id"), F.lit(tag).alias("tag")
    )


# ------------------------------------------------------------- CAS core

def test_commit_is_create_if_absent(spark, cat):
    cat.append("t", _mk(spark, 0, 5))
    snaps = cat.snapshots("t")
    m = dict(snaps[-1], id=snaps[-1]["id"] + 1)
    assert cat._commit_manifest("t", dict(m)) == m["id"]
    with pytest.raises(CommitConflict):
        cat._commit_manifest("t", dict(m))  # same id: loser must not overwrite
    # the winner's manifest is untouched
    assert len(cat.snapshots("t")) == 2


def test_concurrent_appends_all_land(spark, cat):
    """8 appends raced from 4 threads: every row lands exactly once and
    the snapshot chain is a clean 0..7 with correct parent links."""
    spark.sparkContext.setLogLevel("ERROR")

    def one(i):
        cat.append("r", _mk(spark, i * 10, i * 10 + 10, tag=f"w{i}"))

    with ThreadPoolExecutor(max_workers=4) as ex:
        list(ex.map(one, range(8)))

    snaps = cat.snapshots("r")
    assert [s["id"] for s in snaps] == list(range(8))
    assert [s["parent"] for s in snaps] == [None] + list(range(7))
    df = cat.read(spark, "r")
    assert df.count() == 80
    assert df.select("id").distinct().count() == 80


def test_compact_refuses_to_drop_concurrent_append(spark, cat, monkeypatch):
    cat.append("c", _mk(spark, 0, 20))

    real_commit = cat._commit_manifest

    def racer(table, manifest):
        if manifest.get("operation") == "replace":
            # an ingest job lands between compact's read and its commit
            monkeypatch.undo()
            cat.append("c", _mk(spark, 100, 110, tag="late"))
        return real_commit(table, manifest)

    monkeypatch.setattr(cat, "_commit_manifest", racer)
    with pytest.raises(CommitConflict):
        cat.compact(spark, "c", target_file_bytes=1 << 30)

    # nothing lost: the concurrent append is visible, table is whole
    df = cat.read(spark, "c")
    assert df.count() == 30
    # and the retry (now against the current snapshot) succeeds
    cat.compact(spark, "c", target_file_bytes=1 << 30)
    assert cat.read(spark, "c").count() == 30


# ------------------------------------------------- copy-on-write MERGE

def test_merge_upsert_semantics(spark, cat):
    cat.append("m", _mk(spark, 0, 10, tag="old"))
    pre_sid = cat.snapshots("m")[-1]["id"]
    src = _mk(spark, 5, 15, tag="new")  # 5-9 update, 10-14 insert

    cat.merge(spark, "m", src, on=["id"])
    rows = {r["id"]: r["tag"] for r in cat.read(spark, "m").collect()}
    assert len(rows) == 15
    assert all(rows[i] == "old" for i in range(0, 5))
    assert all(rows[i] == "new" for i in range(5, 15))
    # time travel: pre-merge snapshot still shows the old rows
    old = cat.read(spark, "m", snapshot=pre_sid)
    assert old.count() == 10
    assert {r["tag"] for r in old.collect()} == {"old"}
    assert cat.snapshots("m")[-1]["operation"] == "overwrite"


def test_incremental_read_refuses_overwrite(spark, cat):
    cat.append("x", _mk(spark, 0, 10))      # snapshot 0
    cat.append("x", _mk(spark, 10, 20))     # snapshot 1
    cat.merge(spark, "x", _mk(spark, 0, 2, tag="upd"), on=["id"])  # snapshot 2
    # the delta across an overwrite is undefined -> hard error, exactly
    # like Iceberg's incremental append scan
    with pytest.raises(ValueError, match="overwrite"):
        cat.read_incremental(spark, "x", since_snapshot=0)
    # but a window that stops before the overwrite still works
    inc = cat.read_incremental(spark, "x", since_snapshot=0, to_snapshot=1)
    assert sorted(r["id"] for r in inc.collect()) == list(range(10, 20))


def test_merge_then_expire_gc(spark, cat):
    cat.append("e", _mk(spark, 0, 10))
    cat.merge(spark, "e", _mk(spark, 0, 5, tag="v2"), on=["id"])
    before = cat.read(spark, "e").count()
    deleted = cat.expire_snapshots("e", keep_last=1)
    assert len(deleted) == 1  # the pre-merge append dir
    assert cat.read(spark, "e").count() == before


def test_expire_never_deletes_concurrently_committed_dirs(spark, cat):
    """The GC race ADVICE flagged: a writer commits BETWEEN the
    expirer's snapshot-list read and its deletion scan.  The re-read
    (not the grace window — forced off here) must protect the new dir."""
    cat.append("t", _mk(spark, 0, 10))
    cat.append("t", _mk(spark, 10, 20))

    orig = cat.snapshots
    state = {"fired": False}

    def racy_snapshots(table):
        out = orig(table)
        if not state["fired"]:
            state["fired"] = True
            # concurrent writer wins its CAS while the expirer plans
            Catalog(cat.warehouse).append("t", _mk(spark, 20, 30, tag="late"))
        return out

    cat.snapshots = racy_snapshots
    try:
        cat.expire_snapshots("t", keep_last=1, orphan_grace_s=0.0)
    finally:
        cat.snapshots = orig
    # the concurrent append's rows survive the GC
    assert cat.read(spark, "t").count() == 30


def test_expire_spares_fresh_orphan_by_default(spark, cat, tmp_path):
    """An unreferenced dir younger than the grace window is an
    in-flight writer's pre-commit data, not garbage."""
    import os

    cat.append("t", _mk(spark, 0, 10))
    # simulate a writer that has written data but not yet committed
    pending = cat._new_data_dir("t", "w")
    _mk(spark, 10, 20).write.parquet(pending)
    assert cat.expire_snapshots("t", keep_last=1) == []
    assert os.path.isdir(pending)
    # ... and is GC'd once past the grace window
    old = __import__("time").time() - 7 * 86400
    os.utime(pending, (old, old))
    deleted = cat.expire_snapshots("t", keep_last=1)
    assert deleted == [os.path.normpath(pending)]


def test_merge_rejects_duplicate_source_keys(spark, cat):
    cat.append("t", _mk(spark, 0, 10))
    dup_src = _mk(spark, 0, 3).unionByName(_mk(spark, 2, 3, tag="twin"))
    with pytest.raises(ValueError, match="duplicate"):
        cat.merge(spark, "t", dup_src, on=["id"])


def test_merge_rejects_schema_drift(spark, cat):
    cat.append("t", _mk(spark, 0, 10))
    wide = _mk(spark, 0, 3).withColumn("extra", F.lit(1))
    with pytest.raises(ValueError, match="absent from target"):
        cat.merge(spark, "t", wide, on=["id"])
    narrow = _mk(spark, 0, 3).drop("tag")
    with pytest.raises(ValueError, match="missing target columns"):
        cat.merge(spark, "t", narrow, on=["id"])


def test_corrupt_data_file_surfaces_not_silently_empty(spark, cat):
    """_assemble must not mask a corrupt file as an empty table (the
    old bare-except did)."""
    import glob
    import os

    cat.append("t", _mk(spark, 0, 10))
    d = cat.snapshots("t")[-1]["dirs"][0]
    for f in glob.glob(os.path.join(d, "*.parquet")):
        with open(f, "wb") as fh:
            fh.write(b"not a parquet file")
    with pytest.raises(Exception) as ei:
        cat.read(spark, "t").collect()
    assert "PATH_NOT_FOUND" not in str(ei.value)
