#!/usr/bin/env python3
"""Seeded, clean-state benchmark of validation_database_spark.

    python3 perfbench/run.py --workload recon_ref --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from the
seed, starts a local Spark session with a task slot for every second
core the process may use, times the workload's public entry point after
a fixed number of warm-up calls, checks every output against the
generator's truth and prints, as the last line of stdout, one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones from a separate, event-logged pass. The line before
it is an information record (sizes, every call time, counts).

Everything the run writes goes under ``.bench_work/`` in the
repository root; the exit code is 1 when any output check fails and
2 when the package cannot be imported.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")

# the reference tool's own warm run: 2 vs 1.94M rows, both reports
REFERENCE_RUN_S = 8.94
SETUPS = 5  # session set-ups per run; setup_s is their median
MIN_PAIRS = 2  # plain + traced call pairs in a traced run, at least


def _environment(cpus: int) -> None:
    """Keep every file the run and its JVM / Python workers write
    inside WORK, put the package on the workers' import path and cap
    native thread pools so no more threads than cores are busy."""
    for sub in ("tmp", "spark-local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    paths = [ROOT, os.environ.get("PYTHONPATH", "")]
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_WAREHOUSE": os.path.join(WORK, "warehouse"),
            "SPARK_DRIVER_MEMORY": "3g",
            # the launcher JVM that spark-submit starts before the driver
            "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "PYTHONPATH": os.pathsep.join(p for p in paths if p),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "OMP_NUM_THREADS": "1",
            "OPENBLAS_NUM_THREADS": "1",
            "MKL_NUM_THREADS": "1",
            "ARROW_NUM_THREADS": "1",
        }
    )
    tempfile.tempdir = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _spark_conf(traced: bool) -> dict[str, str]:
    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
    }
    if traced:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(WORK, "eventlog"),
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            }
        )
    return conf


class Bench:
    """Runs a workload's calls and keeps the failure accounting."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failures: list[str] = []
        self.pinned_after_run = 0

    def timed_call(self, spark, tracer=None) -> float:
        """One clean-state call: no persisted frame left from earlier
        work, then the public call, then the output checks (untimed)."""
        from validation_database_spark.util import release_pins

        self.attempted += 1
        try:
            release_pins()
            left = spark.sparkContext._jsc.getPersistentRDDs().size()
            if left:
                raise RuntimeError(f"{left} persisted RDDs left before a timed call")
            self.wl.reset()
            t0 = time.perf_counter()
            if tracer is None:
                out = self.wl.call(spark)
            else:
                with tracer.span("run"):
                    out = self.wl.call(spark)
            dt = time.perf_counter() - t0
            self.pinned_after_run = max(
                self.pinned_after_run, spark.sparkContext._jsc.getPersistentRDDs().size()
            )
            errs = self.wl.check(out)
        except Exception:  # a failed call is counted, the run goes on
            errs = [traceback.format_exc(limit=3)]
            dt = float("nan")
        finally:
            release_pins()
        if errs:
            self.failures.append(f"call {self.attempted}: " + "; ".join(errs))
        return dt

    def measure(self, spark, seconds: float, min_calls: int) -> list[float]:
        """Calls back to back until ``seconds`` have passed and at
        least ``min_calls`` were made."""
        times: list[float] = []
        t0 = time.perf_counter()
        while len(times) < min_calls or time.perf_counter() - t0 < seconds:
            times.append(self.timed_call(spark))
        return times

    def measure_pairs(self, spark, seconds: float, tracer) -> tuple[list[float], list[float]]:
        """Plain calls and calls inside a ``run`` span, in ABBA order
        so a warm-up trend favours neither arm; the span's own cost
        is their difference."""
        plain: list[float] = []
        spanned: list[float] = []
        t0 = time.perf_counter()
        while len(plain) < MIN_PAIRS or time.perf_counter() - t0 < seconds:
            if len(plain) % 2 == 0:
                plain.append(self.timed_call(spark))
                spanned.append(self.timed_call(spark, tracer))
            else:
                spanned.append(self.timed_call(spark, tracer))
                plain.append(self.timed_call(spark))
        return plain, spanned

    def audit(self, spark) -> None:
        """The workload's untimed extra check call, if it has one."""
        if self.wl.audit is None:
            return
        self.attempted += 1
        try:
            errs = self.wl.audit(spark)
        except Exception:
            errs = [traceback.format_exc(limit=3)]
        finally:
            from validation_database_spark.util import release_pins

            release_pins()
        if errs:
            self.failures.append("audit: " + "; ".join(errs))


def _median(xs: list[float]) -> float:
    xs = [x for x in xs if x == x]
    return statistics.median(xs) if xs else float("nan")


def _start(traced: bool):
    from validation_database_spark.session import get_spark

    return get_spark(app_name="perfbench", extra_conf=_spark_conf(traced))


def run(args, cpus: int, spec: dict) -> tuple[dict, dict]:
    import workloads

    wl = workloads.make(args.workload, WORK, args.seed, cpus)
    t = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t
    bench = Bench(wl)
    traced = bool(args.trace)
    info: dict = {"workload": args.workload, "seed": args.seed, "slots": cpus,
                  "cores": len(os.sched_getaffinity(0)),
                  "input": wl.describe(), "gen_s": gen_s}
    if args.workload == "recon_ref":
        info["reference_run_s"] = REFERENCE_RUN_S

    t = time.perf_counter()
    spark = _start(traced)
    session_start_s = time.perf_counter() - t
    try:
        wl.touch(spark)
        setups = [time.perf_counter() - T_START - gen_s]
        first = bench.timed_call(spark)
        warm = [bench.timed_call(spark) for _ in range(wl.warm_calls)]
        info.update(first_run_s=first, warmup_s=warm)
        if not traced:
            times = bench.measure(spark, args.seconds, wl.min_calls)
            for _ in range(SETUPS - 1):
                spark.stop()
                t = time.perf_counter()
                spark = _start(False)
                wl.touch(spark)
                setups.append(time.perf_counter() - t)
            run_s = _median(times)
            info.update(run_s=times, setup_s=setups, pinned_after_run=bench.pinned_after_run)
            e2e = {
                "setup_s": _median(setups),
                "run_s": run_s,
                "throughput_per_s": wl.items / run_s,
                "pass_frac": 1 - len(bench.failures) / bench.attempted,
            }
            return {m["name"]: (e2e[m["name"]], m["unit"]) for m in spec["end_to_end"]}, info

        from spans import Tracer

        tracer = Tracer(spark.sparkContext)
        plain, spanned = bench.measure_pairs(spark, args.seconds, tracer)
        bench.audit(spark)
        wl.spans(spark, tracer)
        heap_mb = _retained_heap_mb(spark)
        spark.stop()
        spark = None
        stats = tracer.attribute(os.path.join(WORK, "eventlog"))
        whole = stats["run"]
        layer = {
            "session.start_s": session_start_s,
            "session.first_run_s": first,
            "config.jobs_per_run": whole.jobs / len(spanned),
            "config.stages_per_run": whole.stages / len(spanned),
            "config.cpu_s": whole.cpu_s / len(spanned),
            "util.pinned_after_run": bench.pinned_after_run,
            "util.retained_heap_mb": heap_mb,
            "trace.run_s": _median(spanned),
            "trace.overhead_frac": _median(spanned) / _median(plain) - 1,
            **wl.layer_metrics(stats),
        }
        info.update(run_s=plain, traced_run_s=spanned,
                    spans={k: v.summary() for k, v in stats.items()})
        # every per-layer metric; a workload that bypasses a layer reports 0
        metrics = {m["name"]: (layer.get(m["name"], 0), m["unit"]) for m in spec["per_layer"]}
        return metrics, info
    finally:
        if spark is not None:
            spark.stop()
        info.update(failures=bench.failures, attempted=bench.attempted,
                    counts=getattr(wl, "counts", None))


def _retained_heap_mb(spark) -> float:
    """Driver JVM heap in use after every pin is released and a full GC."""
    from validation_database_spark.util import release_pins

    release_pins()
    spark._jvm.System.gc()
    rt = spark._jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def _stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM (and with it the
    Python workers it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)  # metric names and units
    cores = len(os.sched_getaffinity(0))
    # Spark task slots: half the cores. The JVM's JIT compiler and GC
    # threads, the Python UDF workers and the driver need the rest;
    # with a slot per core a call kept more threads busy than there
    # are cores, and its time followed the scheduler.
    cpus = max(1, cores // 2)
    shutil.rmtree(WORK, ignore_errors=True)
    _environment(cpus)
    try:
        import pyspark  # noqa: F401

        import validation_database_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {workloads.WORKLOADS}",
              file=sys.stderr)
        return 2
    try:
        metrics, info = run(args, cpus, spec)
    finally:
        _stop_jvm()
    failed = len(info["failures"])
    print(json.dumps(info, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": info["attempted"],
                "failed": failed,
                "metrics": {
                    k: {"value": v if v == v else None, "unit": u}  # NaN: a failed call
                    for k, (v, u) in metrics.items()
                },
            }
        )
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
