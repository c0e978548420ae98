"""In-worker cProfile of a registered query's Python stages (guide §4.6):
runs the query with Spark's SQL UDF profiler enabled and prints the
aggregated per-UDF stats, so the hot lines inside mapInPandas kernels are
measured where they run instead of guessed at.

The UDF profiler sees only time inside UDFs, not what a Python task
pays before its first row (worker hand-off, ``setup_spark_files``), so
first it always prints one line: the median duration of an identity
``mapInPandas`` task over ``defaultParallelism`` partitions.

Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
       python tools/profile_udf_worker.py [<query> ...] [--top N]
"""

from __future__ import annotations

import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def python_task_seconds(spark, runs: int = 7) -> list[float]:
    """Durations (s) of identity ``mapInPandas`` tasks, one per core, over
    ``runs`` jobs after one warm-up job that starts the worker daemon;
    read from the SparkContext's status store."""
    sc = spark.sparkContext
    parts = sc.defaultParallelism
    df = spark.range(parts * 100, numPartitions=parts)
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    to_java = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    seconds: list[float] = []
    for run in range(runs + 1):
        before = set(tracker.getJobIdsForGroup())
        df.mapInPandas(lambda it: it, df.schema).write.format("noop").mode("overwrite").save()
        if run == 0:
            continue
        for job in set(tracker.getJobIdsForGroup()) - before:
            for stage in tracker.getJobInfo(job).stageIds:
                for task in to_java(store.taskList(stage, 0, 1 << 30)):
                    seconds.append(task.duration().get() / 1000)
    return seconds


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    top = 25
    for a in sys.argv[1:]:
        if a.startswith("--top"):
            top = int(a.split("=", 1)[1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from open_source_etl_spark.conf import EngineConfig
    from open_source_etl_spark.registry import all_queries
    from open_source_etl_spark.session import build_session

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    cfg = EngineConfig(master=f"local[{cpus}]", shuffle_partitions=max(int(cpus), 8))
    spark = build_session(cfg)
    spark.sparkContext.setLogLevel("ERROR")
    tasks = python_task_seconds(spark)
    print(
        f"identity mapInPandas: median {statistics.median(tasks):.3f} s per task "
        f"({len(tasks)} tasks, {spark.sparkContext.defaultParallelism} per job)"
    )
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")

    queries = all_queries()
    for name in args:
        print(f"\n================ {name} ================")
        df = queries[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        try:
            spark.profile.show(type="perf")
        except Exception as exc:
            print(f"profiler show failed: {exc}")
        try:
            spark.profile.clear()
        except Exception:
            pass
    spark.stop()


if __name__ == "__main__":
    main()
