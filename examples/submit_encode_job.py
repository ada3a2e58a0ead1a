#!/usr/bin/env python3
"""spark-submit entry point for the checkpointed encode job.

Package and submit (north rule: "runs via spark-submit --py-files"):

    python -m zipfile -c /tmp/cpp_parquet_spark.zip cpp_parquet_spark/
    spark-submit --py-files /tmp/cpp_parquet_spark.zip \\
        examples/submit_encode_job.py <input_parquet_dir> <output_dir> \\
        [num_parts] [snapshot_id]

The job is resumable: re-submitting with the same output_dir and the
same snapshot_id skips the partitions that snapshot already committed
and finishes the rest.  A different snapshot_id adds a new snapshot to
the store, which reads as the union of all committed snapshots (so the
same input under a new snapshot_id is stored twice).
"""

import sys


def main() -> None:
    from pyspark.sql import SparkSession

    from cpp_parquet_spark.lineage import EncodeJob
    from cpp_parquet_spark.session import MALLOC_ENV, apply_malloc_env

    input_dir = sys.argv[1]
    output_dir = sys.argv[2]
    num_parts = int(sys.argv[3]) if len(sys.argv) > 3 else 256
    snapshot = sys.argv[4] if len(sys.argv) > 4 else "snap-0"

    apply_malloc_env()
    builder = SparkSession.builder.appName("cpp-parquet-spark-encode")
    for k, v in MALLOC_ENV.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    spark = builder.getOrCreate()

    df = spark.read.parquet(input_dir)
    job = EncodeJob(output_dir, num_parts=num_parts, snapshot_id=snapshot)
    result = job.run(df)
    print(result)
    job.lineage(spark).orderBy("part_id").show(20, truncate=False)
    spark.stop()


if __name__ == "__main__":
    main()
