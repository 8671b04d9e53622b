"""Benchmark of record for tundradb_spark.

    python3 perfbench/run.py --workload dml_mixed --seed 1 --seconds 10 --trace 0

Runs one workload (``dml_mixed`` or ``analytics_batch``) as a single
closed-loop client on a local[nproc] session, checks every output, and
prints each metric by name and unit.  The last line of stdout
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  Everything the run writes (generated tables,
Spark scratch, snapshots, the event log) stays under ``.perfbench_work/``
of the checkout it runs in.  See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import gc
import importlib
import json
import os
import random
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SF = 0.1
DRIVER_MEMORY_GB = 4

WORKLOADS = ("dml_mixed", "analytics_batch")


def _args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(cores: int, run_dir: str) -> None:
    """Pin the session's size and keep every file the JVM and Python
    write inside the checkout."""
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{min(DRIVER_MEMORY_GB, int(mem_gb // 2))}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    # every JVM, the launcher included: temp files inside the run directory
    # and no hsperfdata file under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def _session(run_dir: str, trace: bool):
    from tundradb_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _peak_rss_mb(spark) -> float:
    """High-water resident set of the driver JVM (VmHWM)."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _shutdown(spark) -> None:
    """Stop the session, then close the launcher's pipe (the gateway JVM
    exits on EOF) and wait for the JVM to end."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _report(runs: list, extra: dict) -> None:
    """Each loop's operation counts, failures and latencies (a traced run
    has an untraced loop and a traced one), then the run's details."""
    from harness import tail_summary

    for label, run in zip(("untraced", "traced"), runs):
        kinds: dict[str, list[int]] = {}
        for o in run.ops:
            k = kinds.setdefault(o.kind, [0, 0])
            k[0] += 1
            k[1] += 0 if o.ok else 1
        print(f"{label} ops: " + ", ".join(
            f"{k}={n} (failed {f})" for k, (n, f) in sorted(kinds.items())))
        for k in sorted(kinds):
            print(f"{label} latency {k}: {json.dumps(tail_summary(run, (k,)))}")
        for o in run.ops:
            if not o.ok:
                print(f"FAILED {label} {o.kind}: {o.error}")
    print("details: " + json.dumps({**runs[-1].details, **extra}, default=str)[:4000])


def main(argv: list[str]) -> int:
    args = _args(argv)
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "scripts")]
    try:  # the engine and the helpers the checks share with the repo
        import tundradb_spark  # noqa: F401
        from bench import _load_probe, _steal_ticks
        import check_oracle  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    import datagen
    import harness
    import layers
    from tracing import Tracer, coverage, read_event_log, self_times

    t_start = time.perf_counter()
    phases: dict[str, float] = {}

    def phase(name: str) -> None:
        phases[name] = round(time.perf_counter() - t_start - sum(phases.values()), 3)

    load_start, procs_start = _load_probe()
    steal_start = _steal_ticks()
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _environment(cores, run_dir)
    spark = None
    try:
        data_dir = datagen.ensure_tables(os.path.join(WORK, "data"), SF)
        mod = importlib.import_module(args.workload)
        phase("data_s")
        spark = _session(run_dir, bool(args.trace))
        phase("session_s")

        def new_run(tracer: Tracer) -> harness.Run:
            return harness.Run(spark, random.Random(args.seed), args.seconds,
                               run_dir, tracer=tracer)

        base = new_run(Tracer(False))
        setup_s, state = mod.prepare(base, data_dir)
        phase("prepare_s")
        loops = []
        for traced in ([False, True] if args.trace else [False]):
            run = new_run(Tracer(traced))
            run.details.update(base.details)
            gc.collect()
            gc.disable()  # no collector pauses inside a timed operation
            try:
                loop = mod.measure(run, state)
            finally:
                gc.enable()
            phase(f"loop{len(loops)}_s")
            mod.verify(run, state)
            phase(f"verify{len(loops)}_s")
            loops.append((run, loop))
        run, loop = loops[-1]
        rss = _peak_rss_mb(spark)
        if args.trace:
            plain_run, plain_loop = loops[0]
            extra_layer = mod.layer_state(run, state) if hasattr(mod, "layer_state") else {}
            spans = run.tracer.spans
            _shutdown(spark)  # completes the event log
            spark = None
            jobs, stage_stats = read_event_log(os.path.join(run_dir, "eventlog"))
            att = layers.Attribution(spans, jobs, stage_stats)
            metrics = {k: 0.0 for k in layers.PER_LAYER}
            metrics.update(layers.spark_totals(att, len(run.ops), loop.wall_s, cores))
            metrics.update(mod.per_layer(run, att, loop, state))
            metrics.update(extra_layer)
            metrics["spark.peak_rss_mb"] = rss
            metrics["trace.coverage"] = coverage(spans, loop.start_ms, loop.end_ms)
            metrics["trace.overhead"] = (
                (loop.wall_s / len(run.ops)) / (plain_loop.wall_s / len(plain_run.ops)) - 1.0
            )
            units = layers.PER_LAYER
            unknown = set(metrics) - set(units)
            if unknown:
                raise RuntimeError(f"unlisted per-layer metrics: {sorted(unknown)}")
            self_ms: dict[str, float] = {}
            for sp, ms in zip(spans, self_times(spans)):
                self_ms[sp.name] = self_ms.get(sp.name, 0.0) + ms
            extra = {"untraced_ops_per_s": len(plain_run.ops) / plain_loop.wall_s,
                     "jobs_traced": len(att.traced()), "jobs_total": len(jobs),
                     "self_ms_by_span": {k: round(v, 1) for k, v in self_ms.items()}}
        else:
            e2e = harness.end_to_end(run, loop, setup_s, mod.READ_KINDS)
            metrics = {k: v for k, (v, _) in e2e.items()}
            units = {k: u for k, (_, u) in e2e.items()}
            extra = {"peak_rss_mb": round(rss, 1)}
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    phase("finish_s")

    load_end, procs_end = _load_probe()
    steal_end = _steal_ticks()
    steal_s = (steal_end - steal_start) / 100.0 if min(steal_start, steal_end) >= 0 else -1
    print(f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} cores={cores} sf={SF} "
          f"driver_memory={os.environ['SPARK_DRIVER_MEMORY']}")
    print(f"host: load1_start={load_start} load1_end={load_end} "
          f"foreign_procs_start={procs_start} foreign_procs_end={procs_end} "
          f"steal_s={steal_s:.2f} loop_wall_s={loop.wall_s:.3f}")
    runs = [r for r, _ in loops]
    _report(runs, {**extra, "phases": phases})
    for name, value in metrics.items():
        print(f"metric {name} = {value:.6g} {units[name]}")
    # a traced run counts the operations of both its loops
    ops = [o for r in runs for o in r.ops]
    failed = sum(1 for o in ops if not o.ok)
    print(json.dumps({
        "correct": failed == 0 and bool(ops),
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
