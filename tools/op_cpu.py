"""Where each benchmark operation's wall time, jobs and CPU go, pass by pass.

    python tools/op_cpu.py --workload geo_join --seed 1 --passes 3 [--json out.json]

Runs one perfbench workload the way ``perfbench/run.py --trace 0`` does,
through its own functions (environment pinning, session start, worker
warm-up, load), then the untimed warm-up pass (printed as pass 0) and
``--passes`` passes.  Each operation runs under its own
``SparkContext.setJobGroup``, so its job and task counts are the
operation's own: there is no tracer ``persist().count()`` boundary in them.
The output checks run after each pass, outside every operation's numbers.

CPU seconds (user + system) per operation, split by where they ran:

- ``jit``: the JVM's process CPU minus the CPU of its live non-compiler
  threads.  HotSpot starts and stops compiler threads as the queue grows and
  shrinks, so their CPU is read as what the process spent beyond every
  thread still alive; a non-compiler thread that exits inside the operation
  lands here too.
- ``task``: executor task threads (``Executor task launch worker``).
- ``gc``: GC threads (``GC Thread#``, ``G1 ...``) and the VM thread.
- ``jvm_other``: every other live JVM thread (py4j serving, scheduler,
  planning, netty, ...).
- ``driver_py``: this Python process.
- ``workers``: the ``pyspark.daemon`` processes and their workers, exited
  ones included (through their parent's reaped-children time).

The last stdout line is one JSON object holding every row; ``--json`` also
writes it to a file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run as bench  # noqa: E402
from process_tree import processes  # noqa: E402

_TICK = os.sysconf("SC_CLK_TCK")
SPLIT = ("jit", "task", "gc", "jvm_other", "driver_py", "workers")


def _stat_cpu(path: str, reaped: bool) -> float:
    """utime + stime (+ cutime + cstime when ``reaped``) of a /proc stat file."""
    with open(path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(v) for v in fields[11:15 if reaped else 13]) / _TICK


def _thread_kind(name: str) -> str:
    if "CompilerThre" in name:
        return "compiler"
    if name.startswith("Executor task"):
        return "task"
    if name.startswith(("GC Thread", "G1 ", "VM Thread")):
        return "gc"
    return "jvm_other"


def sample() -> dict:
    """Cumulative CPU of the process tree, JVM threads one by one."""
    snap = {"driver_py": _stat_cpu("/proc/self/stat", False), "workers": 0.0,
            "jvm": 0.0, "threads": {}}
    for p in processes():
        try:
            if p["role"] == "jvm":
                snap["jvm"] = _stat_cpu(f"/proc/{p['pid']}/stat", True)
                for tid in os.listdir(f"/proc/{p['pid']}/task"):
                    base = f"/proc/{p['pid']}/task/{tid}"
                    with open(f"{base}/comm") as f:
                        name = f.read().strip()
                    snap["threads"][int(tid)] = (_thread_kind(name), _stat_cpu(f"{base}/stat", False))
            elif p["role"] == "daemon" or p["role"].startswith("worker"):
                snap["workers"] += _stat_cpu(f"/proc/{p['pid']}/stat", p["role"] == "daemon")
        except (OSError, ValueError):
            continue
    return snap


def split(before: dict, after: dict) -> dict[str, float]:
    """CPU seconds spent between two samples, by :data:`SPLIT`."""
    out = dict.fromkeys(SPLIT, 0.0)
    for tid, (kind, cpu) in after["threads"].items():
        if kind != "compiler":
            prev = before["threads"].get(tid)
            out[kind] += cpu - (prev[1] if prev and prev[0] == kind else 0.0)
    out["jit"] = after["jvm"] - before["jvm"] - sum(out[k] for k in ("task", "gc", "jvm_other"))
    out["driver_py"] = after["driver_py"] - before["driver_py"]
    out["workers"] = after["workers"] - before["workers"]
    return out


def run_op(spark, group: str, fn, tr) -> tuple[object, dict]:
    """Run one operation under its own job group; its wall time, jobs,
    tasks and CPU split."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    before, t0 = sample(), time.perf_counter()
    try:
        result = fn(tr)
    finally:
        wall = time.perf_counter() - t0
        after = sample()
        sc.setJobGroup("op_cpu-idle", "op_cpu-idle")
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            stage = st.getStageInfo(s)
            tasks += stage.numTasks if stage else 0
    cpu = split(before, after)
    return result, {"wall_s": wall, "jobs": len(jobs), "tasks": tasks,
                    "cpu_s": sum(cpu.values()), **{k + "_s": v for k, v in cpu.items()}}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--passes", type=int, default=3)
    p.add_argument("--json", help="also write the JSON result here")
    args = p.parse_args()
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench-work", f"opcpu-{args.workload}-{args.seed}-{os.getpid()}")
    rows, failed = [], 0
    try:
        conf = bench.pin_environment(work)
        wl = WORKLOADS[args.workload](args.seed, work)
        wl.reference()
        spark = bench.start_session(conf)
        try:
            bench.warm_workers(spark)
            wl.load(spark)
            tr = Tracer()
            for n in range(args.passes + 1):
                results = {}
                for name, fn in wl.ops():
                    results[name], row = run_op(spark, f"op_cpu-{n}-{name}", fn, tr)
                    rows.append({"pass": n, "op": name, **row})
                for name, res in results.items():
                    try:
                        failed += not wl.check(name, res, tr)
                    except Exception:
                        failed += 1
                tr.release()
        finally:
            bench.stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    cols = ["wall_s", "jobs", "tasks", "cpu_s"] + [k + "_s" for k in SPLIT]
    print(f"{'pass':>4} {'op':<14}" + "".join(f"{c:>13}" for c in cols))
    for r in rows:
        print(f"{r['pass']:>4} {r['op']:<14}" + "".join(
            f"{r[c]:>13}" if isinstance(r[c], int) else f"{r[c]:>13.2f}" for c in cols))
    out = {"workload": args.workload, "seed": args.seed, "failed": failed,
           "cpus": bench.cpu_count(), "rows": rows}
    if args.json:
        with open(args.json, "w") as f:
            json.dump(out, f, indent=1)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
