"""Sort-order compaction = data skipping at scan time.

Parquet files carry per-column min/max footer stats; Spark (and
Iceberg's file-level stats) skip a file or row group whose range
cannot satisfy the predicate.  That only helps if the layout CLUSTERS
values — a file whose ids span the whole domain prunes nothing.  This
test proves the clustering property directly from the parquet footers:
after ``compact(sort_by=...)`` the per-file ranges are pairwise
disjoint.
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from qfilter.catalog import Catalog


@pytest.fixture()
def cat(tmp_path):
    return Catalog(str(tmp_path / "wh"))


def _file_ranges(files, col):
    """Per-file (min, max) of ``col`` from parquet footer statistics —
    exactly the stats a scan planner prunes on."""
    out = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index(col)
        mns, mxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mns.append(st.min)
            mxs.append(st.max)
        if mns:
            out.append((min(mns), max(mxs)))
    return out


def _hash(df):
    cols = [F.col(c).cast("string") for c in sorted(df.columns)]
    row = F.xxhash64(*cols).cast("decimal(38,0)")
    return df.agg(F.sum(row).alias("h"), F.count("*").alias("n")).collect()[0]


def test_sort_compaction_disjoint_file_ranges(spark, cat):
    # appends arrive hash-shuffled: every pre-compaction file spans
    # nearly the whole id domain -> zero skipping potential
    n = 4000
    df = (
        spark.range(n)
        .select(F.col("id"), (F.col("id") % 7).alias("grp"))
        .repartition(4, "id")  # hash -> each file sees the full domain
    )
    cat.append("t", df)
    before = _hash(cat.read(spark, "t"))
    pre = _file_ranges(cat.table_data_files("t"), "id")
    assert all(hi - lo > n * 0.8 for lo, hi in pre)  # no clustering

    # tiny target -> several output files, range-partitioned + sorted
    cat.compact(spark, "t", target_file_bytes=2 << 10, sort_by=["id"])
    files = cat.table_data_files("t")
    assert len(files) >= 3
    post = sorted(_file_ranges(files, "id"))
    # contiguous, pairwise-disjoint ranges: a BETWEEN predicate now
    # touches ceil(selectivity * n_files) files instead of all of them
    for (lo1, hi1), (lo2, hi2) in zip(post, post[1:]):
        assert hi1 < lo2
    assert _hash(cat.read(spark, "t")) == before
    assert cat.snapshots("t")[-1]["sort_by"] == ["id"]
