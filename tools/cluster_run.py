"""One timed leg of the standalone-cluster scaling protocol: connect to a
running Spark standalone master, run the flagship job over a
pre-materialized corpus, print one JSON line. Invoked by
tools/cluster_bench.py via spark-submit --py-files (the north rule's
execution shape), one fresh driver per leg.

    spark-submit --master spark://127.0.0.1:7077 \
        --py-files dist/blog_parser_spark.zip \
        tools/cluster_run.py <corpus> <n_runs>
"""

from __future__ import annotations

import json
import sys
import time


def main() -> None:
    corpus, n_runs = sys.argv[1], int(sys.argv[2])

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.getOrCreate()  # conf comes from submit
    spark.sparkContext.setLogLevel("ERROR")
    from blog_parser_spark.plans import pipeline

    pages = spark.read.parquet(corpus)
    n_docs = pages.count()
    total_cores = int(spark.conf.get("spark.cores.max"))

    def run() -> float:
        t0 = time.time()
        (pipeline.flagship(spark, pages, dedup=True)
         .write.mode("overwrite").format("noop").save())
        return time.time() - t0

    warmup = run()
    runs = sorted(run() for _ in range(n_runs))
    best = runs[0]
    print(json.dumps({
        "total_cores": total_cores,
        # defaultParallelism is at least 2, so it miscounts 1-core legs
        "executors": total_cores // int(
            spark.conf.get("spark.executor.cores", "1")),
        "docs": n_docs,
        "runs_sec": [round(r, 2) for r in runs],
        "best_sec": round(best, 3),
        "warmup_sec": round(warmup, 2),
        "docs_per_sec": round(n_docs / best, 1),
    }))


if __name__ == "__main__":
    main()
