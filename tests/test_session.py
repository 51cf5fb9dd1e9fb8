"""`get_spark` configures the session without touching the process
environment; the glibc allocator thresholds reach the Python workers
through ``spark.executorEnv.*``."""

from __future__ import annotations

import os

import pandas as pd

_MALLOC_VARS = ("MALLOC_MMAP_THRESHOLD_", "MALLOC_TRIM_THRESHOLD_")


def test_get_spark_leaves_environ_unchanged(spark, monkeypatch):
    from qfilter.session import get_spark

    for var in _MALLOC_VARS:
        monkeypatch.delenv(var, raising=False)
    before = dict(os.environ)
    # same arguments as the session fixture, so this reuses its session
    get_spark(app="qfilter-tests", master="local[4]", shuffle_partitions=8)
    assert dict(os.environ) == before


def test_python_workers_get_malloc_thresholds(spark):
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def worker_env(x: pd.Series) -> pd.Series:
        import os

        return pd.Series([os.environ.get("MALLOC_MMAP_THRESHOLD_")] * len(x))

    got = {r[0] for r in spark.range(4).select(worker_env("id")).collect()}
    assert got == {"33554432"}
