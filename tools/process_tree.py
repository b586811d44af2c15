"""Where a benchmark run's memory and CPU sit, process by process.

    python tools/process_tree.py --workload image_text --seed 1 --seconds 5

Runs one perfbench workload the way ``perfbench/run.py --trace 0`` does,
through its own functions (environment pinning, session start, worker
warm-up, load, warm-up pass, then passes for ``--seconds``).  After each
pass it prints how many ``pyspark.daemon`` processes and Python workers are
alive.  Before the session stops it prints every live process in this
process's tree: its role (driver, jvm, daemon, worker with its daemon's pid,
or other), ``VmHWM`` (peak resident set) and CPU seconds (user + system,
reaped children included).  The VmHWM column sums to the benchmark's
``peak_rss_mb``.

Spark starts one daemon per Python worker environment; a second daemon means
some plan ran on a different Python runner (the pickled-row RDD runner, for
example) than the SQL Arrow runners.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run as bench  # noqa: E402


def processes() -> list[dict]:
    """Every live process in this process's tree, with its role."""
    rows = []
    for pid in bench._tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace").strip()
            with open(f"/proc/{pid}/status") as f:
                hwm_kb = next((int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:")), 0)
        except (OSError, ValueError):
            continue
        if fields[0] == "Z":
            continue
        cpu = sum(int(v) for v in fields[11:15]) / os.sysconf("SC_CLK_TCK")
        rows.append({"pid": pid, "ppid": int(fields[1]), "cmd": cmd,
                     "hwm_mb": hwm_kb / 1024.0, "cpu_s": cpu})
    daemons = {r["pid"] for r in rows if "pyspark.daemon" in r["cmd"]}
    for r in rows:
        if r["pid"] == os.getpid():
            r["role"] = "driver"
        elif r["ppid"] in daemons:
            r["role"] = f"worker of {r['ppid']}"
        elif r["pid"] in daemons:
            r["role"] = "daemon"
        elif "java" in r["cmd"].split(" ", 1)[0]:
            r["role"] = "jvm"
        else:
            r["role"] = "other"
    return rows


def pool_line(rows: list[dict]) -> str:
    daemons = sum(r["role"] == "daemon" for r in rows)
    workers = sum(r["role"].startswith("worker") for r in rows)
    return (f"daemons {daemons} workers {workers} "
            f"tree VmHWM {sum(r['hwm_mb'] for r in rows):.0f} MB")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5.0)
    args = p.parse_args()
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench-work", f"tree-{args.workload}-{args.seed}-{os.getpid()}")
    try:
        conf = bench.pin_environment(work)
        wl = WORKLOADS[args.workload](args.seed, work)
        wl.reference()
        spark = bench.start_session(conf)
        try:
            bench.warm_workers(spark)
            print("after worker warm-up:", pool_line(processes()))
            wl.load(spark)
            tr = Tracer()
            failed = bench.run_pass(wl, tr)["failed"]
            print("after warm-up pass:  ", pool_line(processes()))
            deadline, n = time.perf_counter() + args.seconds, 0
            while n < bench.MIN_PASSES or time.perf_counter() < deadline:
                failed += bench.run_pass(wl, tr)["failed"]
                n += 1
                print(f"after pass {n}:        ", pool_line(processes()))
            rows = processes()
        finally:
            bench.stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(f"\n{'pid':>8} {'ppid':>8} {'role':<18} {'VmHWM MB':>9} {'CPU s':>8}  command")
    for r in sorted(rows, key=lambda r: (r["ppid"], r["pid"])):
        print(f"{r['pid']:>8} {r['ppid']:>8} {r['role']:<18} {r['hwm_mb']:>9.0f} "
              f"{r['cpu_s']:>8.2f}  {r['cmd'][:60]}")
    print(f"total: {pool_line(rows)}, failed operations {failed}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
