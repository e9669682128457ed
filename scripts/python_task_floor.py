"""Fixed cost of a Python task: the floor under every Arrow UDF job.

``python scripts/python_task_floor.py [REPEATS]`` (default 10) runs
trivial ``mapInArrow`` jobs (the UDF passes its batches through) on
``local[SPARK_GRAFT_CPUS]`` (default: all cores) through ``get_spark``,
one warm-up job per shape, then REPEATS timed ones, and prints one line
per shape (1 partition and N = cores partitions): the median job wall,
and the median wait from task launch (the scheduler's launch time, read
from the status store's ``taskList``) to the UDF's first call in the
Python worker. The second number is the worker-side share — daemon
fork or reuse, task setup, UDF deserialization — that a UDF cannot
shorten."""
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from goskyr_spark.spark.session import get_spark

CORES = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))


def udf_called(batches):
    import pyarrow as pa
    from pyspark import TaskContext

    called = time.time()
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict({
        "part": [TaskContext.get().partitionId()], "called": [called]})


def run(spark, n_parts, group):
    """One job: (wall s, [launch -> UDF call s per task])."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    t0 = time.perf_counter()
    rows = spark.range(n_parts, numPartitions=n_parts).mapInArrow(
        udf_called, "part long, called double").collect()
    wall = time.perf_counter() - t0
    called = {r.part: r.called for r in rows}
    store = sc._jsc.sc().statusStore()
    waits = []
    for job in sc.statusTracker().getJobIdsForGroup(group):
        for stage in sc.statusTracker().getJobInfo(job).stageIds:
            tasks = store.taskList(stage, 0, n_parts)
            for i in range(tasks.size()):
                t = tasks.apply(i)
                waits.append(called[t.index()]
                             - t.launchTime().getTime() / 1000)
    return wall, waits


def main():
    repeats = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark(app="python-task-floor", master=f"local[{CORES}]",
                      shuffle_partitions=CORES,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    daemon = spark.sparkContext.getConf().get(
        "spark.python.daemon.module", "pyspark.daemon")
    print(f"local[{CORES}], daemon {daemon}, {repeats} jobs per shape")
    for n_parts in (1, CORES):
        run(spark, n_parts, f"floor-warm-{n_parts}")
        walls, waits = [], []
        for k in range(repeats):
            wall, w = run(spark, n_parts, f"floor-{n_parts}-{k}")
            walls.append(wall)
            waits += w
        print(f"{n_parts:>3} partition(s): job wall p50 "
              f"{statistics.median(walls) * 1000:.0f} ms, launch -> UDF "
              f"call p50 {statistics.median(waits) * 1000:.0f} ms "
              f"(max {max(waits) * 1000:.0f} ms, {len(waits)} tasks)")
    spark.stop()


if __name__ == "__main__":
    main()
