"""Python-worker CPU per no-op mapInArrow task in a get_spark session.

    python tools/task_cpu_probe.py [n_tasks]   # default 30

Runs one-partition no-op tasks back to back at local[1], so one reused
worker serves them all, and prints the median growth of that worker's
user+system CPU from one task to the next: the fixed Python cost every
task pays (setup, import-cache invalidation, the post-task gc).
"""
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _cpu(batches):
    import resource

    import pyarrow as pa
    for _ in batches:
        pass
    r = resource.getrusage(resource.RUSAGE_SELF)
    yield pa.RecordBatch.from_pydict(
        {"pid": [os.getpid()], "cpu": [r.ru_utime + r.ru_stime]})


def main(n_tasks: int) -> None:
    from pears_lite_spark.session import get_spark
    spark = get_spark(app_name="task-cpu-probe", master="local[1]")
    spark.sparkContext.setLogLevel("ERROR")
    one = spark.range(1, numPartitions=1)
    prev, deltas = None, []
    for _ in range(n_tasks + 1):
        row = one.mapInArrow(_cpu, "pid long, cpu double").collect()[0]
        if prev is not None and prev[0] == row["pid"]:
            deltas.append((row["cpu"] - prev[1]) * 1e3)
        prev = (row["pid"], row["cpu"])
    spark.stop()
    q = statistics.quantiles(deltas, n=10)
    print(f"worker cpu per task: median {statistics.median(deltas):.1f} ms, "
          f"p10 {q[0]:.1f}, p90 {q[-1]:.1f} ({len(deltas)} tasks)")


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 30)
