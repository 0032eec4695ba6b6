"""SparkSession builder tuned for the extraction workload.

Local mode is the test/bench environment; the same settings (AQE, Arrow,
shuffle partitioning) are what the job would ship with to a real cluster
via ``spark-submit --py-files`` (scripts/run_pipeline.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """A quarter of the machine's RAM (``MemTotal``), at least 1 GiB.

    Local mode runs the executors inside the driver JVM, so this heap is
    the whole engine's; the rest of RAM stays for the Python workers, the
    page cache and shuffle files on tmpfs.  A heap sized past what the
    machine can spare gets the JVM OOM-killed."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1024, total // 4 // 2**20)}m"


def get_spark(
    app_name: str = "ocr_translate_spark",
    cpus: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Args:
        cpus: local[N] threads; defaults to $SPARK_GRAFT_CPUS or '*'.
            ``spark.sql.shuffle.partitions`` follows it (local mode wants
            ~cores, not 200).
        extra_conf: Spark settings applied last, over the defaults below
            (e.g. ``{"spark.sql.parquet.compression.codec": "zstd"}``).
    """
    if cpus is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cpus = int(env) if env else 0
    master = f"local[{cpus}]" if cpus else "local[*]"
    n_shuffle = cpus or os.cpu_count() or 8

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # large html payloads: bound Arrow batches by rows AND bytes so a
        # run of giant co-located pages (web corpora are host-clustered;
        # single pages reach many MB) cannot blow the python worker
        # (north_star C4 analog; the byte bound is verified effective on
        # the batched mapInPandas input path in Spark 4.1).  1024 rows:
        # +18% on the Arrow extract stage vs 256 (fewer batch
        # boundaries; docs/PLANS.md round-4 audit), while giant-page runs
        # hit the 64 MB byte bound long before the row cap
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                str(64 * 1024 * 1024))
        # output codec (r5 adjudication, docs/PLANS.md "Write-side codec
        # probe"): zstd writes 32% fewer bytes — at 100 TB that is the
        # dominant I/O term and the right cluster setting — but on THIS
        # overcommitted sandbox the extra compression CPU inside the
        # fused extract+write stage regressed the 100k-page bench 2-5x
        # (systematic across reps in a clean window), while at 1M pages
        # on tmpfs it measured wall-parity.  Default stays snappy so the
        # per-round bench stays comparable; on a real cluster with
        # dedicated cores, prefer zstd via extra_conf.
        .config("spark.sql.parquet.compression.codec", "snappy")
        # scan split sizing (guide §6): deliberately left at the Spark
        # default.  An r8 A/B (16m vs 128m, interleaved per-query via the
        # runtime conf in one session) measured NO difference on any
        # fixture query: FilePartition sizing is already floored at
        # max(openCostInBytes, totalBytes/defaultParallelism), so the
        # 128 MB cap never binds for these table sizes, and the real
        # parallelism floor is the fixtures' parquet row-group layout
        # (load(parallel=True) is the remedy where a kernel needs the
        # fan-out).  On a many-file cluster the default is also the
        # guide-recommended starting point.
        # list files on the driver, never with a listing job: the parquet
        # warehouse reads every committed directory of a table, and past
        # the default threshold (32 paths) each run_extraction paid a 4th
        # job.  Reading 256 / 1024 / 4096 local directories took 0.09 /
        # 0.21 / 0.72 s listed on the driver, 1.6 / 4.7 / 16.9 s with the
        # job (local[4], 4 vCPU).  The emulation lists only local disk and
        # the Iceberg branch never uses Spark's file index; a cluster
        # reading many object-store directories can lower it (extra_conf).
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                str(2**31 - 1))
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()))
        .config("spark.ui.enabled", "false")
        # shuffle/spill on tmpfs: this box's /tmp is a single disk, which
        # serializes shuffle writes across 32 threads; a real cluster gets
        # per-executor local SSDs instead.  Spark's own SPARK_LOCAL_DIRS
        # environment variable takes precedence over this setting
        # (tests/test_session.py).
        .config("spark.local.dir", "/dev/shm/spark-local")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
