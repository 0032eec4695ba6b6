"""Session settings that other code relies on."""

from __future__ import annotations

import os


def test_spark_local_dirs_env_overrides_local_dir(spark):
    """Shuffle and spill files go under ``$SPARK_LOCAL_DIRS`` when it is set
    (Spark reads it ahead of ``spark.local.dir``), else under the
    ``spark.local.dir`` that get_spark sets."""
    assert spark.conf.get("spark.local.dir") == "/dev/shm/spark-local"
    env = os.environ.get("SPARK_LOCAL_DIRS")
    roots = env.split(",") if env else ["/dev/shm/spark-local"]
    block_manager = spark.sparkContext._jvm.org.apache.spark.SparkEnv.get().blockManager()
    dirs = [str(d.getAbsolutePath()) for d in block_manager.diskBlockManager().localDirs()]
    assert dirs
    for d in dirs:
        assert any(
            os.path.realpath(d).startswith(os.path.realpath(r) + os.sep) for r in roots
        ), (d, roots)
