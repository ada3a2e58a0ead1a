"""Example: run the flagship encode pipeline on a REAL multi-executor
Spark standalone cluster launched on this machine — the north rule's
"spark-submit --py-files at N and 4N executors" deployment path,
end-to-end:

    python examples/run_on_standalone_cluster.py [n_workers] [sf_dir]

Starts a master + N one-core worker JVMs (each executor gets its own
JVM, GC, shuffle server, and Python workers), ships the engine package
to them as a zip via spark.submit.pyFiles, runs the range-partitioned
auto-codec encode over the sf documents table, prints the compression
report, and tears the cluster down.
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from cpp_parquet_spark.standalone import StandaloneCluster


def main() -> None:
    workers = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"
    with StandaloneCluster(workers=workers) as cluster:
        spark = cluster.session(executors=workers, app_name="encode-on-cluster")
        from cpp_parquet_spark.datagen import source_repos_from_documents
        from cpp_parquet_spark.engine import encode_pipeline

        df = source_repos_from_documents(spark, sf_dir)
        t0 = time.time()
        totals = (
            encode_pipeline(df, num_partitions=workers * 4)
            .groupBy("column", "codec")
            .agg(
                F.sum("plain_bytes").alias("plain"),
                F.sum("encoded_bytes").alias("encoded"),
            )
            .orderBy("column")
            .collect()
        )
        wall = time.time() - t0
        plain = sum(r["plain"] for r in totals)
        enc = sum(r["encoded"] for r in totals)
        execs = spark.sparkContext.getConf().get("spark.cores.max")
        print(f"\n{execs} executors (1 core each), wall {wall:.1f}s")
        for r in totals:
            print(f"  {r['column']:10s} {r['codec']:8s} {r['plain']:>12,} -> {r['encoded']:>10,}")
        print(f"  total {plain:,} -> {enc:,}  ({plain / max(enc, 1):.2f}x)")
        spark.stop()


if __name__ == "__main__":
    main()
