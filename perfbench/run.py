"""Benchmark entry point.

    python3 perfbench/run.py --workload {queries,dags} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from ``--seed`` under
``.perfbench/`` in the current directory and removed afterwards. The last
line of stdout is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (name -> value and unit). ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` enables Spark's event log and job
groups and reports the per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

WORKLOADS = ("queries", "dags")


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, cores: int, trace: bool):
    """The engine's own session factory, with every scratch path inside
    ``work`` and, when tracing, an uncompressed event log."""
    from pb_etl_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        evdir = os.path.join(work, "events")
        os.makedirs(evdir)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evdir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    return get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf)


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs since boot."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def _status_mb(pid: int | str, field: str) -> float:
    """``VmRSS`` or ``VmHWM`` (peak RSS) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(f"{field}:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no {field} for pid {pid}")


def memory_mb(spark) -> tuple[float, float]:
    """(retained, peak) RSS of this process plus its JVM. Retained is read
    after three full GCs: G1 shrinks the heap only part of the way at each
    one and returns the freed pages in the background, and after a single
    GC the reading still split into two modes 20% apart. The peak depends
    on when G1 chose to grow the heap and varied by 15% between identical
    runs; what a run leaves behind does not."""
    jvm = spark.sparkContext._jvm
    pid = jvm.java.lang.ProcessHandle.current().pid()
    peak = _status_mb("self", "VmHWM") + _status_mb(pid, "VmHWM")
    gc.collect()
    for _ in range(3):
        jvm.java.lang.System.gc()
        time.sleep(0.75)
    return _status_mb("self", "VmRSS") + _status_mb(pid, "VmRSS"), peak


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def end_to_end(run, setup_s: float, retained_mb: float) -> dict[str, tuple[float, str]]:
    """Each operation counts with its median over the timed passes, so a
    pass that a burst of host load slowed moves no metric by itself. There
    is no latency percentile: a run has 27 timed query calls, too few for a
    steady tail (README.md has the figures)."""
    ops = run.op_medians()
    return {
        "setup_s": (setup_s, "s"),
        "suite_s": (sum(ops), "s"),
        "op_geomean_s": (statistics.geometric_mean(ops) if ops else 0.0, "s"),
        "retained_mb": (retained_mb, "MB"),
    }


LAYER_UNITS = {
    "build_s": "s", "build_jobs": "count", "plan_s": "s", "jobs": "count",
    "failed_jobs": "count", "tasks": "count", "failed_tasks": "count", "task_s": "s",
    "exec_util": "ratio", "gc_s": "s", "shuffle_write_mb": "MB", "shuffle_read_mb": "MB",
    "spill_mb": "MB", "task_skew": "ratio", "input_mb": "MB", "input_rows": "count",
    "output_mb": "MB", "output_rows": "count",
}


FAMILY_LAYERS = ("build_s", "build_jobs", "plan_s", "jobs", "task_s", "exec_util")


def per_layer(run, setup: dict[str, float], jobs, stages) -> dict[str, tuple[float, str]]:
    from perfbench.trace import layer_metrics
    from perfbench.workloads import CORPUS_STAGES, HEAVY, LIGHT, PARITY_STAGES

    n = len(run.passes)
    tr = run.tracer
    out = {k: (v, "s") for k, v in setup.items()}
    out["calib_scan_s"] = (run.extra.get("calib_scan_s", 0.0), "s")
    out["host.steal_frac"] = (run.extra["host.steal_frac"], "ratio")
    out["traced_suite_s"] = (sum(run.op_medians()), "s")
    out["failed_frac"] = (run.failed / max(run.attempted, 1), "ratio")
    layers = layer_metrics(tr, jobs, stages, run.passes, n, run.cores)
    out |= {k: (v, LAYER_UNITS[k]) for k, v in layers.items()}
    # the two query families split the layers: build and plan dominate
    # LIGHT, task time dominates HEAVY
    timed = tr.descendants(run.passes)
    for fam, names in (("light", LIGHT), ("heavy", HEAVY)):
        spans = [s for s in tr.spans if s.id in timed and s.kind == "query" and s.name in names]
        fl = layer_metrics(tr, jobs, stages, spans, n, run.cores)
        out[f"{fam}.suite_s"] = (sum(s.seconds for s in spans) / max(n, 1), "s")
        out |= {f"{fam}.{k}": (fl[k], LAYER_UNITS[k]) for k in FAMILY_LAYERS}
    out["stages_ran"] = (run.extra.get("stages_ran", 0) / max(n, 1), "count")
    out["stages_skipped"] = (run.extra.get("stages_skipped", 0) / max(n, 1), "count")
    out["skip_check_s"] = (_median(run.per_op.get("skip_check", [])), "s")
    for op in ("parity_cold", "corpus_cold", "corpus_incr"):
        out[f"{op}_s"] = (_median(run.per_op.get(op, [])), "s")
    for dag, names in (("parity", PARITY_STAGES), ("corpus", CORPUS_STAGES)):
        for st in names:
            secs = [
                s.seconds for s in tr.spans
                if s.id in timed and s.kind == "stage" and s.name == f"{dag}.{st}"
            ]
            out[f"stage.{dag}.{st}_s"] = (_median(secs), "s")
    for name in LIGHT + HEAVY:
        out[f"query.{name}_s"] = (_median(run.per_op.get(name, [])), "s")
    return out


def main(argv: list[str] | None = None, queries: dict | None = None, sizes=None) -> int:
    """CLI entry; ``queries`` and ``sizes`` let the smoke test inject a
    failing query and tiny inputs."""
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "pb_etl_spark")):
        print(f"pb_etl_spark not found under {root}: run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench import workloads as wl
    from perfbench.trace import Tracer, find_event_log, read_event_log

    work = os.path.join(root, ".perfbench", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers must import the engine; temp files stay in the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None  # recomputed from TMPDIR on next use
    os.environ["PYSPARK_PYTHON"] = sys.executable
    cores = _cores()
    spark = None
    steal0 = _cpu_jiffies()
    try:
        t0 = time.time()
        spark = start_session(work, cores, bool(args.trace))
        start_s = time.time() - t0
        run = wl.Run(Tracer(spark if args.trace else None), cores)
        sizes = sizes or wl.Sizes()
        if args.workload == "dags":
            wl.run_dags(spark, run, work, args.seed, args.seconds, sizes)
        else:
            wl.run_queries(spark, run, work, args.seed, args.seconds, sizes, queries)
        retained_mb, peak_mb = memory_mb(spark)
        app_id = spark.sparkContext.applicationId
        stop_session(spark)
        spark = None

        setup = {
            "session.start_s": start_s,
            "setup.gen_s": run.extra["setup.gen_s"],
            "setup.warm_s": run.extra["setup.warm_s"],
        }
        steal1 = _cpu_jiffies()
        run.extra["host.steal_frac"] = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
        if args.trace:
            evdir = os.path.join(work, "events")
            jobs, stages = read_event_log(find_event_log(evdir))
            metrics = per_layer(run, setup, jobs, stages)
            metrics["peak_rss_mb"] = (peak_mb, "MB")
            record = os.path.join(root, ".perfbench", f"trace-{args.workload}-{app_id}.json")
            with open(record, "w") as f:
                json.dump({"spans": run.tracer.records(), "metrics": metrics}, f)
        else:
            metrics = end_to_end(run, sum(setup.values()), retained_mb)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(f"# peak_rss_mb: {peak_mb:.0f}", file=sys.stderr)
    print(f"# host.steal_frac: {run.extra['host.steal_frac']:.4f}", file=sys.stderr)
    for name, secs in run.per_op.items():
        print(f"# {name}: " + " ".join(f"{x:.3f}" for x in secs), file=sys.stderr)
    for e in run.errors:
        print(f"FAILED {e}", file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
