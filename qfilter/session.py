"""SparkSession factory with scale-oriented defaults.

Single place where the pipeline's Spark configuration is decided, so
tests, bench, and spark-submit all run the same plan shape:

* AQE on (runtime re-plan, skew-join splitting).
* Arrow-vectorized pandas UDFs with a SMALL records-per-batch — the
  ``bytes`` cells are multi-KB..MB, so batches are sized by bytes, not
  row count (SURVEY.md §4.2 "Arrow batch memory").
* ``spark.sql.shuffle.partitions`` defaults to 2x cores locally; on a
  real cluster set it to ~2-3x total executor cores via spark-submit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "ARROW_BATCH_ROWS"]

# Overridable for experiments (BENCH/probe_832.py measures the 8->32
# scaling efficiency across batch sizes); 64 is the measured sweet spot
# for multi-KB bytes cells.
ARROW_BATCH_ROWS = int(os.environ.get("QFILTER_ARROW_BATCH_ROWS", "64"))

# glibc MALLOC_MMAP_THRESHOLD_ / MALLOC_TRIM_THRESHOLD_ for the Python
# workers (32 MiB), unless the environment sets them
_MALLOC_THRESHOLD = "33554432"


def get_spark(
    app: str = "qfilter",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    cores = os.cpu_count() or 8
    master = master or os.environ.get("QFILTER_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        n = int(master[6:-1]) if master.startswith("local[") and master[6:-1].isdigit() else cores
        shuffle_partitions = max(8, 2 * n)
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.parquet.compression.codec", "zstd")
        # multi-KB `bytes` cells make the default 4096-row vectorized
        # reader batch a heap hazard: 32 concurrent scan tasks each
        # buffering ~24 MB column chunks intermittently OOMed an 8 GB
        # heap in the streaming read (BENCH/run_volume.py hit the same
        # wall at 4x volume and caps its batch too).  512 rows bounds
        # reader memory by bytes, not row count, with no measurable
        # cost on narrow-row scans.
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        .config("spark.driver.memory", os.environ.get("QFILTER_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
    )
    # glibc allocator tuning for the Arrow/NumPy Python workers: the
    # image kernels allocate/free many few-hundred-KB temporaries per
    # batch; at default thresholds glibc serves those via mmap/munmap,
    # and with one worker per core the resulting page-fault + TLB
    # shootdown churn costs ~10-13% of kernel throughput at 32 procs
    # (interleaved A/B in BENCH/kernel_profile.py FULL_PATH).  Raising
    # the thresholds keeps such blocks on the sbrk heap.  PySpark
    # forwards spark.executorEnv.* to the Python workers it launches,
    # so this process's environment stays untouched; a value already
    # set in the environment wins.
    for var in ("MALLOC_MMAP_THRESHOLD_", "MALLOC_TRIM_THRESHOLD_"):
        b = b.config(f"spark.executorEnv.{var}", os.environ.get(var, _MALLOC_THRESHOLD))
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
