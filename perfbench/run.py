"""Seeded end-to-end benchmark of the engine's public API.

    python3 perfbench/run.py --workload geo_join --seed 1 --seconds 5 --trace 0

Runs from the root of a source checkout.  Generates the workload's inputs
from ``--seed``, computes independent reference answers, starts a Spark
session on ``local[<cpus>]``, loads the inputs three times (reporting the
median), runs one untimed warm-up pass, then runs passes back to back (one
client, closed loop) for ``--seconds``, at least one.  Every operation's output is checked against the
reference.  With ``--trace 0`` the last stdout line holds the end-to-end
metrics; with ``--trace 1`` it holds the per-layer metrics of a traced run,
whose spans are also written to ``.perfbench-out/``.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPEATS = 3
MIN_PASSES = 1
DRIVER_MEMORY = "2g"

# layer -> metrics the traced run reports for it (absent layers report 0)
LAYER_METRICS = {
    "sources.images": ["busy_s", "python_s", "python_boot_s", "rows_out", "decode_ok_share"],
    "sources.snapshots": ["busy_s", "files_written", "bytes_written"],
    "operators.joins": ["busy_s", "candidate_pairs", "pairs_out", "refine_yield", "python_s",
                        "python_boot_s", "shuffle_write_bytes", "broadcast_exchanges"],
    "operators.knn": ["busy_s", "shuffle_write_bytes"],
    "operators.tiling": ["busy_s", "rows_out"],
    "operators.mvt": ["busy_s", "python_s", "python_boot_s", "tiles_written", "bytes_written"],
    "pipeline.dedup": ["busy_s", "join_rows_out", "pairs_out", "verify_yield",
                       "shuffle_write_bytes"],
    "pipeline.setjoin": ["busy_s", "join_rows_out", "pairs_out", "verify_yield",
                         "shuffle_write_bytes"],
    "pipeline.components": ["busy_s", "components_out"],
}
SPARK_COUNTS = ["jobs", "stages", "tasks", "failed_tasks"]
RUN_METRICS = ["session.start_s", "session.worker_warmup_s", "trace.pass_s",
               "trace.untraced_pass_s", "trace.overhead_s", "trace.coverage"]


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith(("bytes", "bytes_written")):
        return "B"
    if name.endswith(("_share", "_yield", "coverage")):
        return "ratio"
    return "count"


def per_layer_names() -> list[str]:
    names = [f"{layer}.{m}" for layer, ms in LAYER_METRICS.items() for m in ms + SPARK_COUNTS]
    return RUN_METRICS + names


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def pin_environment(work: str) -> dict[str, str]:
    """Keep every file the run writes inside ``work`` and make the engine
    importable by Python workers whatever the caller's cwd."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None
    return {
        "spark.local.dir": local,
        # a heap committed up front keeps peak RSS from tracking GC sizing
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.ui.retainedExecutions": "5000",
    }


def start_session(conf: dict[str, str]):
    from incubator_sedona_spark.session import get_spark

    n = cpu_count()
    return get_spark(master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM (and with it the Python workers) and
    wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        proc.wait(timeout=60)


def warm_workers(spark) -> None:
    n = spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, n).mapInPandas(lambda it: it, "id long").count()


def _tree_pids() -> list[int]:
    """This process and all its descendants (JVM, Python daemon and workers)."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_peak_rss_mb() -> float:
    """Summed VmHWM over the process tree."""
    total_kb = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds used so far by the process tree, reaped children included
    (a worker that exits is counted through its parent's cutime/cstime)."""
    ticks = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(v) for v in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def run_pass(wl, tr) -> dict:
    """One pass: every operation timed, then every output checked."""
    tr.pass_id += 1
    results, times, failed = {}, {}, 0
    cpu0 = tree_cpu_s()
    with tr.span("pass") as ps:
        for name, fn in wl.ops():
            t0 = time.perf_counter()
            try:
                with tr.span(name):
                    results[name] = fn(tr)
                times[name] = time.perf_counter() - t0
            except Exception:
                traceback.print_exc(file=sys.stderr)
                failed += 1
    cpu = tree_cpu_s() - cpu0
    for name, res in results.items():
        try:
            good = wl.check(name, res, tr)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            good = False
        if not good:
            print(f"check failed: {wl.name}.{name}", file=sys.stderr)
            failed += 1
    tr.release()
    return {"wall": ps.end - ps.start, "cpu": cpu, "ops": times, "failed": failed,
            "attempted": len(wl.ops())}


def layer_metrics(tr, spans_by_pass: dict[int, list]) -> dict[str, float]:
    """Median over traced passes of each layer's per-pass totals."""
    selfs = tr.self_times()
    per_pass: list[dict[str, float]] = []
    coverage = []
    for pid, spans in spans_by_pass.items():
        row: dict[str, float] = {}
        for sp in spans:
            if sp.layer is None:
                continue
            c = sp.counters
            pre = sp.layer + "."
            row[pre + "busy_s"] = row.get(pre + "busy_s", 0.0) + selfs[sp.sid]
            for k in SPARK_COUNTS + ["python_s", "python_boot_s", "shuffle_write_bytes",
                                     "join_rows_out", "broadcast_exchanges"]:
                row[pre + k] = row.get(pre + k, 0.0) + c.get(k, 0.0)
            row[pre + "rows_out"] = max(row.get(pre + "rows_out", 0.0), c.get("rows_out", 0))
        for (p, layer, key), v in tr.notes.items():
            if p == pid:
                row[f"{layer}.{key}"] = v
        for layer in ("pipeline.dedup", "pipeline.setjoin"):
            joined = row.get(f"{layer}.join_rows_out", 0.0)
            row[f"{layer}.verify_yield"] = row.get(f"{layer}.pairs_out", 0.0) / joined if joined else 0.0
        root = next(sp for sp in spans if sp.name == "pass")
        read = sum(sp.counters.get("read_s", 0.0) for sp in spans)
        layer_self = sum(selfs[sp.sid] for sp in spans if sp.layer is not None)
        coverage.append(layer_self / max(root.end - root.start - read, 1e-9))
        per_pass.append(row)
    out = {k: statistics.median(r.get(k, 0.0) for r in per_pass)
           for k in {k for r in per_pass for k in r}}
    for (layer, key), v in tr.run_notes.items():
        out[f"{layer}.{key}"] = v
    cand = out.get("operators.joins.candidate_pairs", 0.0)
    out["operators.joins.refine_yield"] = (
        out.get("operators.joins.refined_pairs", 0.0) / cand if cand else 0.0)
    out["trace.coverage"] = statistics.median(coverage)
    return out


def run(args, work: str) -> dict:
    from perfbench.trace import SparkCounters, Tracer
    from perfbench.workloads import WORKLOADS

    conf = pin_environment(work)
    t0 = time.perf_counter()
    wl = WORKLOADS[args.workload](args.seed, work)
    gen_s = time.perf_counter() - t0
    wl.reference()

    t0 = time.perf_counter()
    spark = start_session(conf)
    t1 = time.perf_counter()
    try:
        warm_workers(spark)
        t2 = time.perf_counter()
        session_start_s, worker_warmup_s = t1 - t0, t2 - t1
        loads = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.load(spark)
            loads.append(time.perf_counter() - t0)
            if len(loads) < SETUP_REPEATS:
                spark.catalog.clearCache()
        plain = Tracer()
        warm = run_pass(wl, plain)
        setup_s = (gen_s + session_start_s + worker_warmup_s + statistics.median(loads)
                   + warm["wall"])
        traced = Tracer(SparkCounters(spark)) if args.trace else None
        passes, traced_passes = [], []
        deadline = time.perf_counter() + args.seconds
        while (len(passes) < MIN_PASSES or time.perf_counter() < deadline
               or (traced and len(traced_passes) < MIN_PASSES)):
            passes.append(run_pass(wl, plain))
            if traced:
                traced_passes.append(run_pass(wl, traced))
        if traced:
            wl.candidates(traced)
        peak_rss_mb = tree_peak_rss_mb()
    finally:
        stop_session(spark)

    everything = [warm] + passes + traced_passes
    attempted = sum(p["attempted"] for p in everything)
    failed = sum(p["failed"] for p in everything)
    walls = [p["wall"] for p in passes]
    op_med = {op: statistics.median(p["ops"][op] for p in passes if op in p["ops"])
              for op, _ in wl.ops() if any(op in p["ops"] for p in passes)}
    info = {
        "passes": len(passes), "pass_s": statistics.median(walls), "pass_walls_s": walls,
        "pass_cpus_s": [p["cpu"] for p in passes], "gen_s": gen_s, "session_start_s": session_start_s,
        "worker_warmup_s": worker_warmup_s, "load_repeats_s": loads,
        "warmup_pass_s": warm["wall"], **{f"{op}_s": v for op, v in op_med.items()},
        "op_geomean_s": (math.exp(statistics.fmean(math.log(v) for v in op_med.values()))
                         if op_med else 0.0),
    }
    if not traced:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_cpu_s": (statistics.median(p["cpu"] for p in passes), "s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }
        spans = plain
    else:
        by_pass: dict[int, list] = {}
        for sp in traced.spans:
            by_pass.setdefault(sp.pass_id, []).append(sp)
        values = layer_metrics(traced, by_pass)
        traced_wall = statistics.median(p["wall"] for p in traced_passes)
        values.update({
            "session.start_s": session_start_s, "session.worker_warmup_s": worker_warmup_s,
            "trace.pass_s": traced_wall, "trace.untraced_pass_s": statistics.median(walls),
            "trace.overhead_s": traced_wall - statistics.median(walls),
        })
        metrics = {n: (float(values.get(n, 0.0)), unit_of(n)) for n in per_layer_names()}
        spans = traced
    out_dir = os.path.join(ROOT, ".perfbench-out")
    os.makedirs(out_dir, exist_ok=True)
    spans.dump(os.path.join(out_dir, f"spans-{wl.name}-seed{args.seed}-trace{int(args.trace)}.jsonl"))
    for k, v in info.items():
        print(f"{wl.name} {k} {v}")
    for k, (v, unit) in metrics.items():
        print(f"{wl.name} {k} {v:.6g} {unit}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "incubator_sedona_spark")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
