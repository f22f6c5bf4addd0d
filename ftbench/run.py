"""Benchmark entry point: one workload per process.

    python3 ftbench/run.py --workload build|search --seed N --seconds S --trace 0|1

Run from the repository root. The last line of standard output is one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. The line before it is
an informational record (load at start, input and check times, sample
counts, set-up parts, peak RSS of each process). Exits non-zero without a
result when the engine is not importable.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

import procs

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK_ROOT = os.path.join(REPO, ".ftbench_work")


class Session:
    """The Spark session of one run: start, ship the engine, first job, and
    a teardown that returns only when the JVM and its workers are gone."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None
        self.jvm = None
        self.parts: dict[str, float] = {}

    def start(self, cores: int) -> None:
        from pyspark import SparkContext
        from pyspark.sql import functions as F

        from engine import packaging
        from engine.session import get_spark
        from engine.tokenizer import tokenize_udf

        local = os.path.join(self.work, "local")
        t = time.perf_counter()
        self.spark = get_spark(
            "ftbench", cpus=cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
            },
        )
        self.jvm = SparkContext._gateway.proc
        self.parts["get_spark"] = time.perf_counter() - t
        t = time.perf_counter()
        zip_path = packaging.make_pyfiles_zip(os.path.join(self.work, "engine_pyfiles.zip"))
        self.spark.sparkContext.addPyFile(zip_path)
        self.parts["ship"] = time.perf_counter() - t
        t = time.perf_counter()
        # the first job starts the Python workers and imports the shipped engine
        (
            self.spark.range(1 << 12, numPartitions=cores)
            .selectExpr("CAST(id AS STRING) AS s", "id % 7 AS k")
            .withColumn("t", tokenize_udf(F.col("s")))
            .groupBy("k").agg(F.count("*"))
            .collect()
        )
        self.parts["first_job"] = time.perf_counter() - t

    def stop(self, timeout: float = 60.0) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        pids = [self.jvm.pid] + procs.descendants(self.jvm.pid)
        try:
            self.spark.stop()
        finally:
            self.spark = None
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
            # the JVM exits when its stdin closes
            if self.jvm.stdin is not None:
                self.jvm.stdin.close()
            try:
                self.jvm.wait(timeout)
            except subprocess.TimeoutExpired:
                self.jvm.kill()
                self.jvm.wait(timeout)
            deadline = time.monotonic() + timeout
            while any(procs.alive(p) for p in pids) and time.monotonic() < deadline:
                time.sleep(0.1)
            for p in pids:
                if procs.alive(p):
                    os.kill(p, signal.SIGKILL)
            while any(procs.alive(p) for p in pids):
                time.sleep(0.1)


def tree_snapshot(root: str) -> dict:
    snap = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            try:
                st = os.stat(p)
            except OSError:
                continue
            snap[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return snap


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["build", "search"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    if not os.path.isfile(os.path.join(REPO, "engine", "__init__.py")):
        print(f"ftbench: no engine package under {REPO}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)

    with open("/proc/loadavg") as f:
        load_at_start = f.read().split()[:3]
    java_at_start = procs.count_named("java")
    data_dir = os.path.join(REPO, "data")
    data_before = tree_snapshot(data_dir)

    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "local"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "local")
    tempfile.tempdir = None
    session = Session(work)
    try:
        import inputs
        import workloads
        from tracing import Tracer

        t = time.perf_counter()
        corpus = inputs.write_corpus(os.path.join(work, "pages.parquet"), args.seed)
        plan = inputs.plan_terms(corpus.df, args.seed)
        warmup = None
        if args.workload == "build":
            warmup = inputs.write_corpus(
                os.path.join(work, "warmup.parquet"), args.seed + 1, inputs.WARMUP_PAGES
            )
        fixtures = None
        if args.trace:
            fixtures = inputs.write_fixtures(os.path.join(work, "fixtures"))
        inputs_s = time.perf_counter() - t

        cores = min(4, os.cpu_count() or 1)
        t_setup = time.perf_counter()
        session.start(cores)
        ctx = workloads.Ctx(
            spark=session.spark, work=work, seed=args.seed,
            seconds=args.seconds, trace=bool(args.trace), corpus=corpus, plan=plan,
            tracer=Tracer(False), fixtures=fixtures, warmup=warmup,
        )
        ctx.info["workload"] = args.workload
        res = workloads.WORKLOADS[args.workload](ctx)
        if args.trace:
            workloads.catalog(ctx)
        setup_wall = ctx.setup_end - t_setup - ctx.setup_checks_s
        rss = procs.peak_rss_mb(session.jvm.pid)
        ctx.info["setup_parts"] = session.parts
        ctx.info["rss_mb"] = rss
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        t = time.perf_counter()
        session.stop()
        teardown_s = time.perf_counter() - t
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:  # another run's work directory is still there
            pass

    if tree_snapshot(data_dir) != data_before:
        ctx.fail(ctx.op(), f"{data_dir} changed during the run")

    if args.trace:
        metrics = workloads.per_layer(ctx)
    else:
        metrics = workloads.end_to_end(ctx, res)
        ctx.info["raw"]["setup_s"] = setup_wall
        metrics["setup_s"] = (setup_wall * ctx.scale(), "s")
        metrics["python_peak_rss_mb"] = (rss["driver"] + rss["workers"], "MB")
    failed = len(ctx.failed_ops)
    info = dict(
        ctx.info, seed=args.seed, cores=cores, loadavg_at_start=load_at_start,
        other_java_at_start=java_at_start, inputs_s=round(inputs_s, 3),
        checks_s=round(ctx.checks_s, 3), teardown_s=round(teardown_s, 3),
        run_s=round(time.perf_counter() - t_start, 3),
    )
    print(json.dumps({"info": info}, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": ctx.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
