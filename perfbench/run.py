#!/usr/bin/env python3
"""Benchmark for the gene-expression pipeline and the curation plan.

Run from the repository root:

    python3 perfbench/run.py --workload gexp_classify --seed 1 --seconds 10 --trace 0

``--trace 0`` times the workload's public call in a closed loop and
prints the end-to-end metrics. There is no warm-up call: the first
call runs on a cold JVM, as a pipeline launched once per process
does. ``--trace 1`` makes two untraced calls and then a traced replay
of the same public calls (one span per layer, Spark event log on) and
prints the per-layer metrics. Without ``--workload``
every workload runs, each in a fresh process, and a table is printed.
The last line of standard output is always one JSON object.

Each run is one process with one Spark session at ``local[nproc]``,
the package's default session config and nothing else set. Inputs are
generated from ``--seed`` into ``.perfbench_work/`` under the current
directory, which is removed again at exit.
"""

from __future__ import annotations

import time

START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SETUPS = 3

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "items_per_s": "1/s",
}

PER_LAYER = {
    **{f"{layer}.{m}": unit for layer in tracing.LAYERS for m, unit in tracing.layer_metric_units(layer)},
    "operators.filters.genes_kept_share": "ratio",
    "ml.cv.fold_s.max": "s",
    "ml.cv.fold_s.median": "s",
    "ml.models.fit_s": "s",
    "ml.models.jobs_per_fit": "count",
    "ml.metrics.score_s": "s",
    "llm.dedup.dup_share": "ratio",
    "llm.mixture.kept_share": "ratio",
    "host.peak_rss_mb": "MB",
    "host.job_overhead_ms": "ms",
    "host.loadavg_1m": "load",
    "trace.wall_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.overhead_s": "s",
    "trace.top_level_s": "s",
}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def isolate_env(work: Path) -> None:
    """The package's defaults plus ``SPARK_GRAFT_CPUS=$(nproc)``; Spark
    scratch and every temp file inside the work directory."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    for sub, var in (("spark-local", "SPARK_LOCAL_DIRS"), ("tmp", "TMPDIR")):
        (work / sub).mkdir(parents=True, exist_ok=True)
        os.environ[var] = str(work / sub)
    # the JVM's own temp files (native libraries, perf data) too
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"


class Run:
    """One workload in this process: set-ups (session up, inputs
    scanned once), measured calls, optional traced replay, checks."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: Path) -> None:
        self.wl = WORKLOADS[workload](seed)
        self.seconds, self.trace, self.work = seconds, trace, work
        self.attempted = 0
        self.failed = 0
        self.spark = None

    def checked(self, what: str, fn) -> None:
        """Count one attempted call; record it as failed when ``fn``
        raises or returns any failed check."""
        self.attempted += 1
        try:
            bad = fn()
        except Exception:
            bad = [traceback.format_exc()]
        self.failed += bool(bad)
        for b in bad:
            log(f"FAILED {what}: {b}")

    def session(self, paths, extra_configs=None):
        from gexp_ml_dask_spark.session import get_spark

        self.spark = get_spark(extra_configs=extra_configs)
        handles = self.wl.load(self.spark, paths)
        for df in handles if isinstance(handles, tuple) else (handles,):
            df.count()
        return handles

    def stop_session(self) -> None:
        self.spark.stop()
        self.spark = None

    def timed_call(self, handles):
        t0 = time.perf_counter()
        try:
            return self.wl.call(self.spark, handles), None, time.perf_counter() - t0
        except Exception:
            return None, traceback.format_exc(), time.perf_counter() - t0
        finally:
            self.spark.catalog.clearCache()

    def execute(self) -> dict:
        import bench  # measurement helpers shared with the suite bench
        import gexp_ml_dask_spark.session  # noqa: F401  (import cost counts as set-up)

        imported = time.perf_counter()
        host = bench.host_telemetry()
        t0 = time.perf_counter()
        paths = self.wl.generate(_mkdir(self.work / "in"))
        log(f"inputs generated in {time.perf_counter() - t0:.2f}s")

        setups = []
        for i in range(SETUPS):
            if i:
                self.stop_session()
            t0 = time.perf_counter()
            handles = self.session(paths)
            setups.append(time.perf_counter() - t0 + (imported - START if i == 0 else 0.0))
        log(f"setups {[round(s, 3) for s in setups]}")

        sampler = bench.PeakRssSampler().start()
        walls, peaks, results = [], [], []
        begin = time.perf_counter()
        # A traced run makes two untraced calls: the second, on a warm
        # JVM like the replay, is the reference for the tracing overhead.
        while len(walls) < (2 if self.trace else 1) or (
            not self.trace and time.perf_counter() - begin < self.seconds
        ):
            sampler.reset_window()
            res, err, wall = self.timed_call(handles)
            walls.append(wall)
            peaks.append(sampler.take_window())
            results.append((res, err))
            log(f"call {len(walls)}: {wall:.3f}s")
        sampler.stop()

        self.wl.expect(paths)
        for i, (res, err) in enumerate(results):
            self.checked(f"call {i + 1}", lambda: [err] if err else self.wl.check(res))

        wall = statistics.median(walls)
        if not self.trace:
            return {
                "setup_s": statistics.median(setups),
                "wall_s": wall,
                "items_per_s": self.wl.size / wall,
            }
        metrics = self.traced(paths, walls[-1])
        metrics["host.loadavg_1m"] = host["loadavg_1m"]
        metrics["host.peak_rss_mb"] = max(peaks)
        return metrics

    def traced(self, paths, untraced_wall: float) -> dict:
        """Replay the workload's public calls with spans in a session
        that writes a Spark event log, then parse the log."""
        import bench

        self.stop_session()
        log_dir = _mkdir(self.work / "eventlog")
        handles = self.session(
            paths,
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir.as_uri(),
                "spark.eventLog.compress": "false",
            },
        )
        job_ms = bench.spark_job_overhead_ms(self.spark)
        tr = tracing.Tracer(self.spark.sparkContext)
        t0 = time.perf_counter()
        try:
            (result, outputs), err = self.wl.replay(self.spark, handles, tr), None
        except Exception:
            err = traceback.format_exc()
        wall = time.perf_counter() - t0
        log(f"traced replay {wall:.3f}s")
        top_level = sum(s.duration for s in tr.spans if s.parent is None)

        def replay_checks():
            if err:
                return [err]
            bad = self.wl.check(result)
            if wall - top_level > abs(wall - untraced_wall):
                bad.append(f"spans cover {top_level:.3f}s of the {wall:.3f}s traced wall")
            more, metrics = self.wl.trace_checks(self.spark, paths, outputs)
            extras.update(metrics)
            return bad + more

        extras: dict[str, float] = {}
        self.checked("traced replay", replay_checks)
        self.stop_session()
        (log_file,) = log_dir.iterdir()
        counts = tracing.parse_event_log(log_file)
        metrics = {name: 0.0 for name in PER_LAYER}
        metrics.update(tracing.layer_metrics(tr.spans, counts))
        metrics.update(self.wl.extra_layer_metrics(tr, counts))
        metrics.update(extras)
        metrics.update(
            {
                "host.job_overhead_ms": job_ms,
                "trace.wall_s": wall,
                "trace.untraced_wall_s": untraced_wall,
                "trace.overhead_s": wall - untraced_wall,
                "trace.top_level_s": top_level,
            }
        )
        return metrics

    def close(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.stop_session()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)


def _mkdir(p: Path) -> Path:
    p.mkdir(parents=True, exist_ok=True)
    return p


def run_one(args) -> int:
    root = HERE.parent
    sys.path.insert(0, str(root))
    work = root / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    isolate_env(_mkdir(work))
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        values = run.execute()
    finally:
        try:
            run.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            with contextlib.suppress(OSError):
                work.parent.rmdir()
    units = PER_LAYER if args.trace else END_TO_END
    for name, unit in units.items():
        print(f"{args.workload} {name} = {values[name]:.6g} {unit}")
    if not args.trace:
        print(f"{args.workload} {run.wl.unit}_per_s = {values['items_per_s']:.6g} 1/s")
    print(f"{args.workload} failed_share = {run.failed / run.attempted:.3g}")
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()},
            }
        )
    )
    return 0


def run_all(args) -> int:
    """Every workload in its own process; a table of the results."""
    out = {}
    for name, cls in WORKLOADS.items():
        cmd = [sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            print(f"{name}: exited with {proc.returncode}", file=sys.stderr)
            return proc.returncode
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        out[name] = res
        print(f"== {name}: correct={res['correct']} attempted={res['attempted']} "
              f"failed_share={res['failed'] / res['attempted']:.3f}")
        for metric, v in res["metrics"].items():
            print(f"  {metric:40s} {v['value']:14.6g} {v['unit']}")
            if metric == "items_per_s":
                print(f"  {cls.unit + '_per_s':40s} {v['value']:14.6g} 1/s")
    print(json.dumps(out))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    return run_one(args) if args.workload else run_all(args)


if __name__ == "__main__":
    sys.exit(main())
