"""Benchmark entry point: one workload, one seed, one Spark session.

    python3 perfbench/run.py --workload el_link --seed 1 --seconds 3 --trace 0

Runs from any working directory.  It builds the workload's inputs from
the seed, starts ``local[N]`` with N the usable core count, reads the
inputs once, then runs one pass of the workload and checks it: one run
is what one invocation of the matching ``cli.py`` command does.  A pass
takes longer than ``--seconds`` (``run_seconds`` in BENCHMARK.json), so
the window always holds exactly that one pass.  With
``--trace 1`` the pass is traced (spans + Spark event log) and the run
reports per-layer metrics instead of the end-to-end ones.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``.  The line before it
is the run report: run context, every pass's figures and each check's
failures.

Everything is written under ``.perfbench_work/`` in the repo root and
removed at exit.  Exits 2 without a result when the program is not next
to the benchmark.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
END_TO_END = (
    ("setup_s", "s"), ("wall_s", "s"), ("cpu_s", "s"), ("peak_rss_mb", "MB"),
    ("records_per_s", "1/s"),
)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_context(cores: int) -> dict:
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    code = hashlib.sha1()
    pkg = os.path.join(ROOT, "entity_linking_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    code.update(fh.read())
    return {"nproc": cores, "pyspark": pyspark.__version__, "git_commit": commit,
            "code_sha1": code.hexdigest()}


def start_spark(work: str, cores: int, trace: bool):
    from entity_linking_spark.session import get_spark

    conf = {
        # small fixed heap: the box's memory is shared, and a fixed cap
        # keeps peak RSS from following the GC's heap-growth choices
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp "
                                         f"-Dderby.system.home={work}/derby",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]", cores=cores,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for
    every one of them to exit."""
    import procstat
    from pyspark import SparkContext

    started = [p for p in procstat.tree_pids() if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()   # the JVM exits on EOF of its stdin
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    for pid in started:
        while time.monotonic() < deadline:
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.1)
        else:
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def measure(args, work: str) -> tuple[dict, dict]:
    import procstat
    import workloads
    from spans import Tracer

    cores = len(os.sched_getaffinity(0))
    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "loadavg_start": os.getloadavg(), **run_context(cores)}
    steal0, total0 = procstat.box_cpu_ticks()
    wl = workloads.WORKLOADS[args.workload](None, work, args.seed)
    builds = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.build(rep, parts=max(2 * cores, 8))   # get_spark's default parallelism
        builds.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    spark = wl.spark = start_spark(work, cores, bool(args.trace))
    try:
        input_failures = wl.warm()
        session_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(builds)
        report.update(input_build_s=builds, session_s=session_s, setup_s=setup_s)

        tracer = Tracer(spark.sparkContext) if args.trace else None
        passes = [one_pass(wl, 0, tracer)]
        passes[0]["failures"] += input_failures
        if tracer is not None:
            try:
                extra, failures = wl.trace_extra(tracer)
            except Exception:
                extra, failures = {}, [traceback.format_exc()]
            passes[0]["failures"] += failures
    finally:
        stop_spark(spark)
    report["passes"] = passes
    report["loadavg_end"] = os.getloadavg()
    steal1, total1 = procstat.box_cpu_ticks()
    report["cpu_steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)

    ok = [p for p in passes if not p["failures"]]
    if args.trace:
        metrics = layer_metrics(work, tracer, passes[0], extra)
        units = _layer_units()
    else:
        metrics = {"setup_s": setup_s,
                   **{k: passes[0].get(k, 0.0) for k, _ in END_TO_END[1:]}}
        units = dict(END_TO_END)
    result = {
        "correct": len(ok) == len(passes),
        "attempted": len(passes),
        "failed": len(passes) - len(ok),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    return report, result


def one_pass(wl, i: int, tracer) -> dict:
    import procstat

    procstat.reset_peak()
    cpu0 = procstat.tree_cpu_s()
    t0 = time.perf_counter()
    rec = {}
    try:
        if tracer is None:
            out = wl.run_pass(i)
        else:
            with tracer.install(), tracer.traced_pass() as bounds:
                out = wl.run_pass(i, tracer)
            rec["bounds"] = bounds
            rec["last_span"] = len(tracer.spans)
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = procstat.tree_cpu_s() - cpu0
        rec["peak_rss_mb"] = procstat.tree_peak_rss_mb()
        rec["records_per_s"] = wl.records / rec["wall_s"]
        rec["failures"] = wl.check(out)
        rec["quality"] = {k: v for k, v in out.items() if isinstance(v, (int, float))}
    except Exception:
        rec.setdefault("wall_s", time.perf_counter() - t0)
        rec["failures"] = [traceback.format_exc()]
    wl.after_pass()
    return rec


def _layer_units() -> dict:
    import layers

    return {name: unit for name, unit, _ in layers.catalogue()}


def layer_metrics(work: str, tracer, traced: dict, extra: dict) -> dict:
    import eventlog
    import layers

    if "last_span" not in traced:     # the traced pass raised
        return {name: 0.0 for name, _, _ in layers.catalogue()}
    groups = eventlog.rollup(eventlog.event_files(os.path.join(work, "eventlog")))
    out = layers.pass_metrics(tracer, traced["last_span"], traced["bounds"], groups)
    quality = traced["quality"]
    for name in ("pairwise_f1", "blocking_recall", "retrieval_at_1"):
        if name in quality:
            out[f"evaluate.metrics.{name}"] = quality[name]
    out["trace.hooks.wall_s"] = tracer.hook_s
    out.update(extra)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "entity_linking_spark", "__init__.py")):
        log(f"no entity_linking_spark package next to {HERE}; nothing to benchmark")
        return 2

    import workloads
    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}")
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # The program and its Python workers import from the repo root, and
    # nothing the caller's shell set may redirect the session's settings.
    for var in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_EXTRA_CONF",
                "SPARK_GRAFT_ADVISORY_PARTITION", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(var, None)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = ""
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    try:
        report, result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass    # another run still uses it
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
