#!/usr/bin/env python3
"""Whole-build benchmark of the scene/dataset ETL engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload tile_dataset --seed 1 --seconds 15 --trace 0

One process, one closed-loop client: the process starts a
``local[<cores>]`` Spark session, makes the workload's inputs from the
seed, runs one cold build, then runs warm builds back to back for
``--seconds`` seconds, each one started only after the previous one has
finished and its output has been checked. Every build starts from clean
state: cached data and checkpoint blocks are dropped, and sinks go to a
fresh path.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run wraps each
layer of the engine in spans (see ``spans.py``), reports per-layer metrics
and writes every span to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
MIN_BUILDS = 1
GEN_REPEATS = 3
# the engine's own session defaults (driver heap included) are kept
SPARK_CONF = {"spark.ui.showConsoleProgress": "false"}
# the traced run reads every span's jobs and stages back from the status store
TRACE_CONF = {"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    return p.parse_args(argv)


def start_session(work: str, trace: bool):
    """The tuned engine session on every core of this host, with all
    scratch space kept inside the checkout."""
    ncpu = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    from convml_data_spark import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    conf = dict(SPARK_CONF, **(TRACE_CONF if trace else {}))
    conf["spark.local.dir"] = local
    conf["spark.sql.warehouse.dir"] = os.path.join(work, "warehouse")
    spark = get_spark(app_name="perfbench", master=f"local[{ncpu}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def clean_state(spark) -> None:
    """Drop everything a previous build left behind: cached DataFrames,
    checkpoint blocks, and (through a JVM GC) its shuffle files."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in the JVM's /proc status")


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort at shutdown
            proc.kill()
            proc.wait()


class Runner:
    def __init__(self, args):
        self.args = args
        self.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.n_out = 0

    def run_build(self, wl, expected, label: str):
        """One build into a fresh sink path; returns (seconds, items) or
        None when it raised or failed its output check."""
        out_dir = os.path.join(self.work, "out", f"{label}-{self.n_out}")
        self.n_out += 1
        self.attempted += 1
        try:
            t = time.perf_counter()
            result = wl.build(out_dir)
            dt = time.perf_counter() - t
            problems = wl.check(result, expected)
            items = wl.items(result)
        except Exception:  # noqa: BLE001 - a failed build is counted, the run goes on
            traceback.print_exc()
            self.failed += 1
            return None
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
        if problems:
            print(f"# {label}: output check failed: {problems}", file=sys.stderr)
            self.failed += 1
            return None
        return dt, items

    def main(self) -> dict:
        import workloads

        args = self.args
        # every temporary file the engine, its JVMs or its workers make stays
        # in the checkout (no hsperfdata files in /tmp either)
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        t_setup = time.perf_counter()
        spark = start_session(self.work, bool(args.trace))
        session_s = time.perf_counter() - t_setup
        try:
            size = workloads.SIZES[args.workload][args.size]
            wl = workloads.WORKLOADS[args.workload](spark, args.seed, self.work, size)
            gens, digests = [], set()
            for _ in range(GEN_REPEATS):
                t = time.perf_counter()
                digests.add(wl.generate())
                gens.append(time.perf_counter() - t)
            if len(digests) != 1:
                raise RuntimeError("the same seed generated different inputs")
            # the replay reads only the generated inputs; it is not set-up time
            expected = wl.replay()
            t = time.perf_counter()
            self.run_build(wl, expected, "cold")
            setup_s = session_s + statistics.median(gens) + time.perf_counter() - t
            if args.trace:
                metrics = self.traced(spark, wl, expected, session_s)
            else:
                metrics = self.timed(spark, wl, expected, setup_s)
        finally:
            stop_session(spark)
            shutil.rmtree(self.work, ignore_errors=True)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }

    def warm_builds(self, spark, wl, expected, seconds: float, label: str, before=None, after=None):
        runs = []
        t_end = time.perf_counter() + seconds
        n = 0
        while n < MIN_BUILDS or time.perf_counter() < t_end:
            clean_state(spark)
            if before:
                before(n)
            r = self.run_build(wl, expected, f"{label}{n}")
            if after:
                after(n, r)
            n += 1
            if r is not None:
                runs.append(r)
        return runs

    def timed(self, spark, wl, expected, setup_s: float) -> dict:
        runs = self.warm_builds(spark, wl, expected, self.args.seconds, "warm")
        if not runs:
            raise RuntimeError("every timed build failed")
        # items per second is not reported: with one timed build per run it
        # is only the reciprocal of build_s_p50 scaled by a constant. Peak
        # RSS is per-layer: under the host-sized heap it follows the JVM's
        # heap-growth timing and spreads as wide as any end-to-end bound
        return {
            "build_s_p50": {"value": statistics.median(dt for dt, _ in runs), "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }

    def traced(self, spark, wl, expected, session_s: float) -> dict:
        """Untraced warm builds for the overhead reference, then traced
        builds for the per-layer numbers (half the run each)."""
        import layer_metrics
        import spans

        half = self.args.seconds / 2.0
        untraced = self.warm_builds(spark, wl, expected, half, "ref")
        tracer = spans.Tracer(spark.sparkContext)
        wrapper = spans.LayerWrapper(tracer)
        per_build: list[dict] = []
        walls: list[tuple[float, int]] = []

        def before(n):
            tracer.build_id = n
            wrapper.counters = {}

        def after(n, r):
            tracer.resolve()
            per_build.append(dict(wrapper.counters))
            if r is not None:
                walls.append(r)

        wrapper.install()
        try:
            self.warm_builds(spark, wl, expected, half, "traced", before, after)
        finally:
            wrapper.uninstall()
        tracer.build_id = None
        session = spans.Span(id=len(tracer.spans), name="session.start", layer="session",
                             start=0.0, end=session_s, self_s=session_s)
        tracer.spans.append(session)
        path = self.write_spans(tracer)
        print(f"# spans written to {path}", file=sys.stderr)
        ref = statistics.median(dt for dt, _ in untraced) if untraced else 0.0
        return layer_metrics.per_layer(tracer.spans, per_build, walls, ref, jvm_peak_rss_mb(spark))

    def write_spans(self, tracer) -> str:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"spans-{self.args.workload}-seed{self.args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"workload": self.args.workload, "seed": self.args.seed,
                       "spans": [s.as_dict() for s in tracer.spans]}, fh)
        return path


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "convml_data_spark")):
        print("perfbench: run from the root of a checkout of the engine "
              "(no convml_data_spark/ here)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    out = Runner(args).main()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
