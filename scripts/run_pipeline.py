"""spark-submit entry point for the extraction pipeline.

Packaging (north_rule: ``spark-submit --py-files`` on a multi-executor
cluster)::

    cd /root/repo && zip -r /tmp/otspark.zip ocr_translate_spark
    spark-submit --py-files /tmp/otspark.zip scripts/run_pipeline.py \
        --pages <pages parquet/iceberg path or 'synthetic:N'> \
        --warehouse /path/to/warehouse --repartition 256

On a real cluster, drop the ``--master local[N]`` the wrapper injects and
let the cluster manager supply executors; everything else is unchanged.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True,
                    help="pages parquet path, table:<catalog table name> "
                         "(Iceberg when the runtime has a catalog), or "
                         "synthetic:N for the generated corpus")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--repartition", type=int, default=None,
                    help="upper bound on the extract stage's width, capped "
                         "by spark.sql.shuffle.partitions (the default); "
                         "AQE sizes the stage from the shuffled bytes")
    ap.add_argument("--force", action="store_true")
    ap.add_argument("--cpus", type=int, default=0,
                    help="local[N] threads when not running under a cluster master")
    ap.add_argument("--warmup", action="store_true",
                    help="run a small untimed job first (JIT/python-worker warmup)")
    ap.add_argument("--repeat", type=int, default=1,
                    help="timed repetitions (fresh warehouse each); report the best")
    args = ap.parse_args()

    from ocr_translate_spark.corpus import pages_df
    from ocr_translate_spark.pipeline import run_extraction
    from ocr_translate_spark.session import get_spark

    spark = get_spark("extract-pipeline", cpus=args.cpus or None)
    if args.pages.startswith("synthetic:"):
        # materialize the corpus untimed, then run the job against the
        # parquet table — matches the real read-from-warehouse scenario
        import tempfile

        n = int(args.pages.split(":", 1)[1])
        parts = args.repartition or spark.sparkContext.defaultParallelism * 4
        corpus_dir = tempfile.mkdtemp(prefix="pipeline_pages_") + "/pages"
        pages_df(spark, n, partitions=parts).write.parquet(corpus_dir)
        pages = spark.read.parquet(corpus_dir)
    elif args.pages.startswith("table:"):
        # catalog table (Iceberg on a configured cluster)
        pages = spark.table(args.pages.split(":", 1)[1])
    else:
        pages = spark.read.parquet(args.pages)

    import tempfile as _tf

    if args.warmup:
        # big enough to JIT the whole path and spawn every python worker
        warm_wh = _tf.mkdtemp(prefix="warmup_wh_")
        run_extraction(
            spark, pages_df(spark, 8192, partitions=args.repartition or 32),
            warm_wh, repartition=args.repartition,
        )

    best = None
    rep_walls = []
    if args.repeat > 1:
        import os as _os

        _os.makedirs(args.warehouse, exist_ok=True)
    for rep in range(max(args.repeat, 1)):
        wh = args.warehouse if args.repeat == 1 else _tf.mkdtemp(
            prefix=f"rep{rep}_", dir=args.warehouse
        )
        t0 = time.monotonic()
        stats = run_extraction(
            spark, pages, wh,
            force=args.force, repartition=args.repartition,
        )
        wall = time.monotonic() - t0
        rep_walls.append(round(wall, 3))
        if best is None or wall < best[0]:
            best = (wall, stats)
    wall, stats = best
    out = {**stats, "wall_sec": round(wall, 3), "rep_walls": rep_walls,
           "docs_per_sec": round(stats["n_written"] / wall, 2) if wall else None}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
