"""Python CPU per task of reused Spark workers.

    python tools/worker_task_cpu.py

Runs a trivial pandas UDF that references the engine over 30k rows in 64
partitions, six times on ``local[4]``.  Each task reports its worker's pid
and cumulative CPU time; the difference between consecutive samples of one
worker is the whole per-task cost (command read, file setup, UDF, the
daemon's GC).  The first run is warm-up and not counted.  Prints whether the
``_worker`` shim was installed and the median and quartiles over the tasks.
"""

from __future__ import annotations

import os
import statistics
import sys

import pandas as pd
from pyspark.sql.functions import pandas_udf

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from incubator_sedona_spark import cells  # noqa: E402
from incubator_sedona_spark.session import get_spark  # noqa: E402


def _probe(x: pd.Series) -> pd.Series:
    import os
    import sys
    import time

    _ = cells.Grid  # the UDF references the engine, as engine UDFs do
    shim = getattr(sys.modules.get("incubator_sedona_spark._worker"), "_installed", False)
    return pd.Series([f"{os.getpid()} {time.process_time()} {shim}"] * len(x))


def main() -> None:
    # workers import the engine from this checkout whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    spark = get_spark(app_name="worker-task-cpu", master="local[4]", shuffle_partitions=4)
    probe = pandas_udf(_probe, "string")
    df = spark.range(30_000, numPartitions=64).select(probe("id").alias("p"))
    samples: dict[str, list[float]] = {}
    installed = set()
    for rep in range(6):
        rows = df.groupBy("p").count().collect()
        if rep == 0:
            continue
        for r in rows:
            pid, cpu, inst = r["p"].split()
            samples.setdefault(pid, []).append(float(cpu))
            installed.add(inst)
    spark.stop()
    diffs = [b - a for ts in samples.values() for a, b in zip(sorted(ts), sorted(ts)[1:])]
    q1, med, q3 = statistics.quantiles(diffs, n=4)
    print(f"shim installed: {sorted(installed)}; workers {len(samples)}, tasks {len(diffs)}")
    print(f"Python CPU per task: median {1e3 * med:.1f} ms (quartiles {1e3 * q1:.1f}-{1e3 * q3:.1f})")


if __name__ == "__main__":
    main()
