"""Write-audit-publish staged commits (Iceberg's wap.id flow).

Why this matters at 100 TB: an ingest batch must be validated (row
counts, null rates, drift) BEFORE consumers can see it, but the data
is too big to write twice.  Staging writes the files once, invisibly;
the audit reads the would-be table; publish is a pure metadata CAS
over the already-written dir and abort leaves no trace.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from qfilter.catalog import Catalog


def _hash(df):
    cols = [F.col(c).cast("string") for c in sorted(df.columns)]
    row = F.xxhash64(*cols).cast("decimal(38,0)")
    return df.agg(F.sum(row).alias("h"), F.count("*").alias("n")).collect()[0]


@pytest.fixture()
def cat(tmp_path):
    return Catalog(str(tmp_path / "wh"))


def _mk(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"),
        (F.col("id") % 3).alias("bucket"),
        F.concat(F.lit("cap-"), F.col("id")).alias("caption"),
    )


def test_abort_leaves_no_trace(spark, cat):
    cat.append("t", _mk(spark, 0, 50))
    before = _hash(cat.read(spark, "t"))
    wap = cat.append_staged("t", _mk(spark, 50, 60))
    assert cat.read_staged(spark, "t", wap).count() == 60
    cat.abort_staged("t", wap)
    assert _hash(cat.read(spark, "t")) == before
    assert cat.staged_ids("t") == []
    data_root = os.path.join(cat.warehouse, "t", "data")
    assert not any(n.startswith("s-") for n in os.listdir(data_root))
    with pytest.raises(FileNotFoundError):
        cat.read_staged(spark, "t", wap)


def test_publish_rebases_over_concurrent_appends(spark, cat):
    cat.append("t", _mk(spark, 0, 10))
    wap = cat.append_staged("t", _mk(spark, 10, 20))
    cat.append("t", _mk(spark, 20, 30))  # lands while audit runs
    cat.publish_staged("t", wap)
    ids = sorted(r["id"] for r in cat.read(spark, "t").collect())
    assert ids == list(range(30))


def test_gc_never_reaps_staged_dirs(spark, cat):
    for i in range(3):
        cat.append("t", _mk(spark, i * 10, (i + 1) * 10))
    wap = cat.append_staged("t", _mk(spark, 100, 110))
    cat.compact(spark, "t", target_file_bytes=1 << 30)
    cat.expire_snapshots("t", keep_last=1)
    # expiry reclaimed superseded appends but not the staged commit
    assert cat.read_staged(spark, "t", wap).count() == 40
    cat.publish_staged("t", wap)
    assert cat.read(spark, "t").count() == 40


def test_publish_retry_after_crash_is_idempotent(spark, cat):
    """Crash window: manifest committed but staged file not yet
    removed.  A retry must find the published wap_id and no-op instead
    of appending the dir twice."""
    import shutil as sh

    cat.append("t", _mk(spark, 0, 10))
    wap = cat.append_staged("t", _mk(spark, 10, 20))
    staged_file = os.path.join(cat.warehouse, "t", "staged", f"{wap}.json")
    sh.copy(staged_file, staged_file + ".crash")
    sid = cat.publish_staged("t", wap)
    sh.copy(staged_file + ".crash", staged_file)  # simulate the crash window
    assert cat.publish_staged("t", wap) == sid    # retry: same snapshot
    assert cat.read(spark, "t").count() == 20     # no duplicated rows
    assert cat.staged_ids("t") == []


def test_publish_merges_schema_widened_since_staging(spark, cat):
    cat.append("t", _mk(spark, 0, 10))
    wap = cat.append_staged("t", _mk(spark, 10, 20))
    # concurrent append widens the schema while the audit runs
    cat.append("t", _mk(spark, 20, 30).withColumn("score", F.col("id") * 2))
    cat.publish_staged("t", wap)
    df = cat.read(spark, "t")
    assert "score" in df.columns
    # the widened column's data survives the publish
    assert df.filter("score is not null").count() == 10
    assert df.count() == 30


def test_stage_on_empty_table_publishes_as_first_snapshot(spark, cat):
    wap = cat.append_staged("t", _mk(spark, 0, 5))
    assert cat.read_staged(spark, "t", wap).count() == 5
    assert not cat.exists("t")
    sid = cat.publish_staged("t", wap)
    assert sid == 0
    assert cat.read(spark, "t").count() == 5
