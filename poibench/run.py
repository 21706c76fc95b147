"""Workload benchmark for the POI pipeline and the incremental dedup index.

    python3 poibench/run.py --workload daily_pipeline --seed 1 --seconds 20 --trace 0

Run from the repository root. One Python process drives one
``local[N]`` Spark session (N = the machine's core count, passed to
``get_spark``), stages the seeded inputs as parquet under
``.poibench/`` and runs a closed loop of the workload's operations for
``--seconds``, checking every output. Each metric is printed on its own
line as ``name value unit``; the last line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics of a separate traced
run (``--trace 1``). ``--smoke`` runs each workload at a tiny size.
See WORKLOADS.md for what each workload and metric stands for.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, for setup_s

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
PACKAGE = "trendr_data_pipeline_spark"
#: set-up repetitions per run; setup_s takes their median
SETUPS = 3
END_TO_END = {  # name -> unit
    "setup_s": "s", "op_p50_s": "s", "write_p50_s": "s", "items_per_s": "1/s",
}


def parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["daily_pipeline", "dedup_index"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (the benchmark's own test)")
    ap.add_argument("--engine-root", type=Path, default=HERE.parent,
                    help="checkout holding the engine package (default: the one this file is in)")
    return ap.parse_args(argv)


def prepare_env(work: Path, root: Path) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the run's work directory, ship the package to the workers through
    PYTHONPATH, and cap the driver heap."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # the JVM spark-submit starts first
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'}"
        f" --driver-java-options '{java_opts}' pyspark-shell"
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)
    to exit."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    except Py4JError:  # a call cut short by SIGTERM leaves the gateway unusable
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=30)


def peak_rss_mb(spark) -> float:
    """Driver peak RSS plus the peak RSS of the JVM and each process it
    started (the Python workers)."""
    import resource

    from pyspark import SparkContext

    total_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return total_kb / 1024
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(pid))
    todo = [proc.pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
        except (OSError, StopIteration):
            pass
    return total_kb / 1024


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order. Every
    name is reported on every workload; a layer a workload bypasses
    reads 0."""
    import spans

    units: dict[str, str] = {}
    for fn in spans.FUNCTIONS:
        units[f"{fn}.s"], units[f"{fn}.stages"] = "s", "count"
    for fn in spans.ROW_COUNTED:
        units[f"{fn}.rows_in"] = units[f"{fn}.rows_out"] = "count"
    for mod in spans.MODULES:
        units[f"{mod}.s"] = "s"
        for k in ("calls", "jobs", "stages", "tasks"):
            units[f"{mod}.{k}"] = "count"
    units.update(WORKLOAD_LAYER_UNITS)
    return units


def function_count_units() -> dict[str, str]:
    """Per-function calls, jobs and tasks. They are printed with the
    traced run but left out of its JSON result, whose per-layer list
    BENCHMARK.json caps at 128 names."""
    import spans

    return {f"{fn}.{k}": "count" for fn in spans.FUNCTIONS for k in ("calls", "jobs", "tasks")}


#: per-layer figures the workloads measure themselves (0 where bypassed)
WORKLOAD_LAYER_UNITS = {
    "mentions.accept_ratio": "share",
    "mentions.dedup_keep_ratio": "share",
    "text_index.probe_recall": "share",
    "text_index.bytes_per_live_doc": "bytes",
    "text_index.files": "count",
    "text_index.extend_bytes_per_doc": "bytes",
    "text_index.compact_bytes_rewritten": "bytes",
    "pipeline.write_outputs.bytes": "bytes",
    "pipeline.write_outputs.files": "count",
    "pipeline.pass.jobs": "count",
    "pipeline.pass.stages": "count",
    "pipeline.pass.tasks": "count",
    "pipeline.pass_cold_s": "s",
    "pipeline.pass_warm_s": "s",
    "session.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "trace.recompute_gap_s": "s",
    "ops_failed_share": "share",
}


def layer_report(tracer, traced_runs: list[str], extra: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics from the traced spans plus ``extra``."""
    import spans

    traced = tracer.per_function(set(traced_runs), per=max(1, len(traced_runs)))
    setup = tracer.per_function({"setup"})
    fns = {**setup, **traced}
    zero = dict(s=0.0, calls=0, rows_in=0, rows_out=0, jobs=0, stages=0, tasks=0)
    m = dict.fromkeys([*per_layer_units(), *function_count_units()], 0.0)
    for name, f in fns.items():
        for k in ("s", "calls", "jobs", "stages", "tasks"):
            m[f"{name}.{k}"] = f[k]
        if name in spans.ROW_COUNTED:
            m[f"{name}.rows_in"], m[f"{name}.rows_out"] = f["rows_in"], f["rows_out"]
    # module figures are per traced step; a module only set-up calls
    # (session) reports its set-up calls instead
    traced_mods = {n.split(".")[0] for n in traced}
    for name, f in fns.items():
        mod = name.split(".")[0]
        if (name in traced) == (mod in traced_mods):
            m[f"{mod}.s"] += f["s"]
            for k in ("calls", "jobs", "stages", "tasks"):
                m[f"{mod}.{k}"] += f[k]
    sc, wd = fns.get("mentions.score_candidates", zero), fns.get("mentions.windowed_dedup", zero)
    if sc["rows_out"]:
        m["mentions.accept_ratio"] = wd["rows_in"] / sc["rows_out"]
    if wd["rows_in"]:
        m["mentions.dedup_keep_ratio"] = wd["rows_out"] / wd["rows_in"]
    m.update(extra)
    return m


def run(args: argparse.Namespace) -> int:
    root = args.engine_root.resolve()
    if not (root / PACKAGE / "__init__.py").is_file():
        print(f"poibench: no engine package at {root / PACKAGE}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [str(root), str(HERE)]
    cores = len(os.sched_getaffinity(0))  # what nproc prints
    work = root / ".poibench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    prepare_env(work, root)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        import pyspark

        import gen
        import spans
        import workloads
        from trendr_data_pipeline_spark.session import get_spark

        spark = get_spark("poibench", cpus=cores)
        session_s = time.perf_counter() - T0
        tracer = spans.Tracer(spark, "setup", enabled=False)
        tracer.record("session.get_spark", T0, T0 + session_s)
        size = gen.SMOKE if args.smoke else gen.FULL
        w = workloads.WORKLOADS[args.workload](spark, tracer, str(work), args.seed, size)

        setups = []
        for i in range(SETUPS):
            tracer.enabled = bool(args.trace) and i == SETUPS - 1
            t = time.perf_counter()
            w.setup()
            setups.append(time.perf_counter() - t)
        tracer.enabled = False
        if args.trace:
            tracer.settle()
        t = time.perf_counter()
        w.warm()
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(setups) + warm_s

        t_start = time.perf_counter()
        while not w.ops or time.perf_counter() - t_start < args.seconds or not w.at_boundary():
            w.step()
        window_s = time.perf_counter() - t_start
        untraced = list(w.ops)
        metrics = dict(w.summary(), setup_s=setup_s)
        if args.trace:
            metrics = traced_phase(w, tracer, untraced)
            metrics["session.peak_rss_mb"] = peak_rss_mb(spark)
            tracer.dump(str(work.parent / f"spans-{args.workload}-{args.seed}.jsonl"))

        checked = w.warm_ops + w.ops
        attempted = len(checked)
        failed = sum(not o.ok for o in checked)
        if args.trace:
            metrics["ops_failed_share"] = failed / attempted
        context = dict(workload=args.workload, seed=args.seed, trace=args.trace,
                       smoke=args.smoke, nproc=cores, spark_cores=cores,
                       spark=pyspark.__version__, python=platform.python_version(),
                       session_s=round(session_s, 3), setups_s=[round(x, 3) for x in setups],
                       warm_s=round(warm_s, 3), window_s=round(window_s, 3), samples=len(untraced),
                       ops_s={k: [round(o.s, 3) for o in untraced if o.kind == k]
                              for k in sorted({o.kind for o in untraced})})
        print("context " + json.dumps(context))
        for name, (v, unit) in w.aliases().items():
            print(f"{name} {v:.6g} {unit}")
        if not args.trace:
            print(f"ops_failed_share {failed / attempted:.6g} share")
        units = per_layer_units() if args.trace else END_TO_END
        printed = {**units, **function_count_units()} if args.trace else units
        for name, v in metrics.items():
            print(f"{name} {v:.6g} {printed[name]}")
        out = dict(correct=failed == 0, attempted=attempted, failed=failed, metrics={
            k: {"value": v, "unit": units[k]} for k, v in metrics.items() if k in units})
        print(json.dumps(out))
        return 0
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


def traced_phase(w, tracer, untraced) -> dict[str, float]:
    """The traced run: ``w.traced_steps`` traced steps after the
    untraced window, then the workload's own trace figures (overhead,
    recomputation gap)."""
    n_untraced = len(w.ops)
    runs = []
    for i in range(w.traced_steps):
        tracer.run_id = f"traced-{i}"
        runs.append(tracer.run_id)
        tracer.enabled = True
        w.step()
        tracer.enabled = False
        tracer.settle()
        tracer.release()
    extra = w.layer_metrics()
    extra.update(w.trace_figures(untraced, w.ops[n_untraced:], runs))
    return layer_report(tracer, runs, extra)


if __name__ == "__main__":
    sys.exit(run(parse(sys.argv[1:])))
