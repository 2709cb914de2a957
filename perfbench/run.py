"""Benchmark runner for the crawl engine.

    python3 perfbench/run.py --workload crawl_grow --seed 1 --seconds 8 --trace 0

Runs one workload from BENCHMARK.json on a local Spark session built by the
engine's own ``session.get_spark``, checks the outputs, and prints as its
last stdout line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (every end-to-end metric with ``--trace 0``, every per-layer
metric with ``--trace 1``).  A line before it, starting ``perfbench-detail``,
carries the host fingerprint, per-unit walls, exact counts and spans.

Everything the run writes goes under ``.perfbench_work/`` in the checkout,
which is removed when the run ends.  Exit code 1 means a check failed, 2
that the engine or BENCHMARK.json is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
#: Driver heap: the inputs are tens of MB, and the host is shared.
DRIVER_MEM = "2g"
#: local[N] with N = usable cores, capped to keep Python workers' memory small.
MAX_CORES = 8


class Context:
    """State one run hands to its workload and probes."""

    def __init__(self, args) -> None:
        self.root = ROOT
        self.work = WORK
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.rng = random.Random(args.seed)
        self.cores = min(len(os.sched_getaffinity(0)), MAX_CORES)
        self.checks: list = []
        self.detail: dict = {}
        self.failed_tasks = 0
        self.spark = None
        self.tracer = None

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append({"name": name, "ok": bool(ok), "detail": detail})

    def start_session(self):
        from crawler_engine_spark.session import get_spark

        conf = {
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK}/tmp",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(os.path.join(WORK, "eventlog"))
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(WORK, "eventlog"),
                # the default zstd codec is unreadable with the stdlib
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        self.spark = get_spark(
            "perfbench", master=f"local[{self.cores}]",
            shuffle_partitions=self.cores, extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def peak_rss_mb(self) -> float:
        from perfbench.spans import tree_peak_rss_mb

        return tree_peak_rss_mb(os.getpid())

    def count_failed_tasks(self) -> int:
        """Failed or retried tasks of every job the status tracker kept
        (untraced runs set no job group)."""
        st = self.spark.sparkContext.statusTracker()
        stages = set()
        for jid in st.getJobIdsForGroup():
            info = st.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        failed = 0
        for sid in stages:
            si = st.getStageInfo(sid)
            if si is not None:
                failed += si.numFailedTasks
        return failed


def _stop_processes() -> None:
    """Shut the driver JVM down and wait for it and the Python workers it
    started; spark.stop() leaves the JVM running until this process exits."""
    from pyspark import SparkContext

    from perfbench.spans import descendants

    gateway = SparkContext._gateway
    if gateway is None:
        return
    pids = descendants(os.getpid())
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    for pid in pids:
        while _running(pid) and time.monotonic() < deadline:
            time.sleep(0.1)
        if _running(pid):
            os.kill(pid, signal.SIGKILL)


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie waiting to be reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _fingerprint(ctx: Context) -> dict:
    import platform

    import pyspark

    from perfbench.probes import calibration_pages, kernel_rate

    jvm = ctx.spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "usable_cores": len(os.sched_getaffinity(0)),
        "master": ctx.spark.sparkContext.master,
        "java": jvm.System.getProperty("java.version"),
        "spark": ctx.spark.version,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "kernel_calibration_pages_per_s": kernel_rate(calibration_pages()),
    }


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def _metric(spec_entries, values: dict) -> dict:
    missing = [e["name"] for e in spec_entries if e["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    return {
        e["name"]: {"value": values[e["name"]], "unit": e["unit"]}
        for e in spec_entries
    }


def run(args) -> int:
    spec = _load_spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; one of {names}", file=sys.stderr)
        return 2

    from perfbench import workloads
    from perfbench.spans import Tracer

    ctx = Context(args)
    try:
        t0 = time.perf_counter()
        ctx.start_session()
        ctx.spark.range(1).count()  # the first job loads the SQL engine classes
        session_s = time.perf_counter() - t0
        ctx.tracer = Tracer(ctx.spark.sparkContext,
                            f"{args.workload}-{args.seed}", jobs=ctx.trace)
        fingerprint = _fingerprint(ctx)
        timed = workloads.WORKLOADS[args.workload](ctx)
        setup = ctx.tracer.named("setup")[0]
        e2e = {
            "setup_s": session_s + setup.wall_s,
            "wall_s": timed.wall_s,
            "urls_per_s": timed.urls_per_s,
        }
        if ctx.trace:
            from perfbench.probes import layer_metrics

            log_dir = os.path.join(WORK, "eventlog")
            app = ctx.spark.sparkContext.applicationId
            values = layer_metrics(ctx, ctx.tracer, timed, os.path.join(log_dir, app))
            values["traced.wall_s"] = timed.wall_s
            metrics = _metric(spec["per_layer"], values)
        else:
            ctx.failed_tasks = ctx.count_failed_tasks()
            metrics = _metric(spec["end_to_end"], e2e)
    finally:
        ctx.stop_session()
        _stop_processes()

    failed_checks = [c for c in ctx.checks if not c["ok"]]
    failed = timed.failed_rows + ctx.failed_tasks + len(failed_checks)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": int(ctx.trace), "fingerprint": fingerprint,
        "session_s": session_s, "end_to_end": e2e,
        "units": len(timed.unit_walls), **timed.detail, **ctx.detail,
        "failed_rows": timed.failed_rows, "failed_tasks": ctx.failed_tasks,
        "checks": len(ctx.checks), "failed_checks": failed_checks,
        "spans": ctx.tracer.dump(),
    }
    print("perfbench-detail " + json.dumps(detail, sort_keys=True))
    print(json.dumps({
        "correct": not failed_checks,
        "attempted": timed.attempted + len(ctx.checks),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if not failed_checks else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ROOT, "crawler_engine_spark")):
        print("crawler_engine_spark is not in this checkout", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        print("BENCHMARK.json is not in this checkout", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    try:
        return run(args)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
