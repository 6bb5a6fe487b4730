"""End-to-end benchmark of the feature engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One invocation runs one workload in its own
process and JVM at local[nproc]: it sets up once (Spark session, seeded
inputs written to parquet, WARMUP_JOBS untimed warm-up jobs), then runs
complete jobs for --seconds (at least MIN_JOBS), checking every job's output.
The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 alternates untraced and
traced jobs and reports the per-layer metrics (see tracing.py). Spans and the
run record are written as JSON under .perfbench_out/ in the checkout; all
scratch data lives under .perfbench_out/tmp-<pid>/ and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import traceback
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".perfbench_out"

# untimed jobs in set-up: the first jobs of a fresh JVM run up to 50% slower
# while the JIT compiles the hot paths; later ones still improve, by less
# (a fourth warm-up job did not steady the runs further)
WARMUP_JOBS = 3
# timed jobs per run at least, even past --seconds
MIN_JOBS = 5
END_TO_END = {"setup_s": "s", "job_s": "s", "vectors_per_s": "1/s"}


def _process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def host_calibration() -> float:
    """A fixed single-thread numpy workload, in seconds: recorded beside
    every run so a slow or noisy host window is visible."""
    import numpy as np

    a = np.random.default_rng(0).random(1_000_000)
    np.sort(a)
    t0 = time.perf_counter()
    for _ in range(3):
        np.sort(a)
    return time.perf_counter() - t0


class RssSampler(threading.Thread):
    """Peak summed resident memory of this process's descendants (the JVM
    and its Python workers), sampled from /proc."""

    def __init__(self, interval=0.05):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_event = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _descendants_rss(self) -> int:
        parent = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        me, kids, total = os.getpid(), set(), 0
        grew = True
        while grew:
            grew = False
            for pid, ppid in parent.items():
                if pid not in kids and (ppid == me or ppid in kids):
                    kids.add(pid)
                    grew = True
        for pid in kids:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self):
        while not self._stop_event.wait(self.interval):
            self.peak = max(self.peak, self._descendants_rss())

    def stop(self):
        self._stop_event.set()
        self.join()
        return self.peak / (1024.0 * 1024.0)


def start_session(scratch: Path, nproc: int):
    from opensmile_spark.session import get_spark

    return get_spark(
        "perfbench", master=f"local[{nproc}]", shuffle_partitions=2 * nproc,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.local.dir": str(scratch / "spark-local"),
            "spark.sql.warehouse.dir": str(scratch / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={scratch / 'jvm-tmp'}",
            "spark.ui.showConsoleProgress": "false",
        })


def stop_spark(spark):
    """Stop the session and the JVM behind it, and wait for the JVM to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Bench:
    def __init__(self, args, nproc: int, scratch: Path):
        from workloads import WORKLOADS

        self.args = args
        self.nproc = nproc
        self.scratch = scratch
        self.spark = None
        self.workload = WORKLOADS[args.workload](
            args.size, args.seed, scratch / "data", nproc)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.record: dict = {}

    def setup(self) -> float:
        """Seconds from process start until the workload is ready: Spark
        session (JVM start included), inputs generated and written, and the
        untimed warm-up jobs, which start the Python workers, compile the
        plans and let the JIT settle."""
        from workloads import Engine

        t0 = time.perf_counter() - _process_age_s()
        self.spark = start_session(self.scratch, self.nproc)
        t1 = time.perf_counter()
        self.workload.generate(self.spark)
        t2 = time.perf_counter()
        self.workload.warm_up(Engine(self.spark))
        for _ in range(WARMUP_JOBS - 1):
            self.workload.job(Engine(self.spark))
        t3 = time.perf_counter()
        self.record["setup_steps"] = {"session_s": t1 - t0, "inputs_s": t2 - t1,
                                      "warmup_s": t3 - t2}
        return t3 - t0

    def timed_job(self, tracer=None):
        """One complete job, timed and checked. Returns its wall time, or
        None when it raised."""
        from workloads import Engine

        self.attempted += 1
        try:
            t0 = time.perf_counter()
            out = self.workload.job(Engine(self.spark, tracer))
            dt = time.perf_counter() - t0
        except Exception:  # a failing job is counted, and the run goes on
            self.failed += 1
            self.errors.append(traceback.format_exc())
            print(self.errors[-1], file=sys.stderr)
            return None
        if self.args.corrupt and self.attempted == 1:
            self.workload.corrupt(out)
        t1 = time.perf_counter()
        bad = self.workload.check(out)
        self.record.setdefault("check_s", []).append(time.perf_counter() - t1)
        if bad:
            self.failed += 1
            self.errors += bad[:20]
            print("\n".join(bad[:20]), file=sys.stderr)
        return dt

    def measure(self, deadline: float) -> dict:
        times = []
        while len(times) < MIN_JOBS or time.perf_counter() < deadline:
            dt = self.timed_job()
            if dt is not None:
                times.append(dt)
            if self.failed > 0 and time.perf_counter() >= deadline:
                break
        self.record["job_s"] = times
        job_s = statistics.median(times) if times else None
        return {
            "job_s": job_s,
            "vectors_per_s": (self.workload.n_vectors / job_s) if job_s else None,
        }

    def measure_traced(self, deadline: float) -> dict:
        from tracing import Tracer, median_metrics

        tracer = Tracer(self.spark)
        plain, traced, per_job = [], [], []
        rss = RssSampler()
        rss.start()
        while len(traced) < 2 or time.perf_counter() < deadline:
            dt = self.timed_job()
            if dt is not None:
                plain.append(dt)
            with tracer.installed(), tracer.job():
                run_id = tracer.run_id
                dt = self.timed_job(tracer)
                extras = self.workload.trace_extras(tracer) if dt else {}
            if dt is not None:
                traced.append(dt)
                tracer.collect_counters()
                m = tracer.layer_metrics(run_id)
                m["refresh.stale_convs"] = extras.get("refresh.stale_convs", 0.0)
                m["refresh.useful_ratio"] = (
                    m["backfill.rows_out"] / m["refresh.rows_out"]
                    if m["refresh.rows_out"] else 0.0)
                per_job.append(m)
            if self.failed > 0 and time.perf_counter() >= deadline:
                break
        metrics = median_metrics(per_job)
        metrics["peak_rss_mb"] = rss.stop()
        if plain and traced:
            metrics["trace.overhead_ratio"] = (statistics.median(traced)
                                               / statistics.median(plain))
        self.record.update(job_s=plain, traced_job_s=traced)
        tracer.dump(OUT / f"trace-{self.args.workload}-seed{self.args.seed}"
                    f"-{os.getpid()}.json", {"per_job": per_job})
        return metrics

    def run(self) -> dict:
        a = self.args
        self.record.update(workload=a.workload, seed=a.seed, size=a.size,
                           trace=a.trace, nproc=self.nproc,
                           loadavg_start=os.getloadavg(),
                           calibration_s=host_calibration())
        self.record["setup_s"] = self.setup()
        t0 = time.perf_counter()
        self.workload.prepare(self.spark)
        self.record["prepare_s"] = time.perf_counter() - t0
        deadline = time.perf_counter() + a.seconds
        if a.trace:
            from tracing import metric_unit

            metrics = self.measure_traced(deadline)
            units = {k: metric_unit(k) for k in metrics}
        else:
            metrics = self.measure(deadline)
            metrics["setup_s"] = self.record["setup_s"]
            units = END_TO_END
        self.record["loadavg_end"] = os.getloadavg()
        self.record["errors"] = self.errors
        return {
            "correct": self.failed == 0 and self.attempted > 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": metrics.get(k), "unit": units[k]}
                        for k in (units if not a.trace else metrics)},
        }


def summary(result: dict, record: dict) -> str:
    lines = [f"perfbench {record['workload']} seed={record['seed']} "
             f"size={record['size']} trace={record['trace']} "
             f"nproc={record['nproc']} loadavg={record['loadavg_start'][0]:.2f}"
             f"->{record['loadavg_end'][0]:.2f} "
             f"calibration={record['calibration_s']:.3f}s"]
    n_jobs = len(record.get("job_s", []))
    notes = {"setup_s": "one set-up, from process start",
             "job_s": f"median of {n_jobs} jobs",
             "vectors_per_s": f"vectors / median job_s, {n_jobs} jobs"}
    for k, m in result["metrics"].items():
        v = m["value"]
        shown = "n/a" if v is None else f"{v:.6g}"
        lines.append(f"  {k:32s} {shown:>12s} {m['unit']:6s} {notes.get(k, '')}")
    att, fail = result["attempted"], result["failed"]
    lines.append(f"  {'fail_ratio':32s} {fail / max(att, 1):>12.6g} {'ratio':6s} "
                 f"{fail} of {att} jobs")
    return "\n".join(lines)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["session_vectors", "feature_refresh"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full",
                   help="input size; 'tiny' is for the benchmark's self-test")
    p.add_argument("--corrupt", action="store_true",
                   help="perturb one feature of the first job's collected "
                        "output (self-test of the output checks)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "opensmile_spark" / "__init__.py").is_file():
        print(f"perfbench: no opensmile_spark package under {ROOT}; run from "
              "the root of a checkout of the engine", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    scratch = OUT / f"tmp-{os.getpid()}"
    for d in ("data", "spark-local", "jvm-tmp"):
        (scratch / d).mkdir(parents=True, exist_ok=True)
    # Spark's Python workers must import the engine from this checkout, and
    # every temporary file stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = str(scratch / "jvm-tmp")
    # the launcher and driver JVMs write no perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    sys.path[:0] = [str(ROOT), str(Path(__file__).resolve().parent)]

    # a terminated run still stops Spark and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = None
    try:
        bench = Bench(args, nproc, scratch)
        result = bench.run()
    finally:
        try:
            if bench is not None and bench.spark is not None:
                stop_spark(bench.spark)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
    with open(OUT / f"run-{args.workload}-seed{args.seed}-trace{args.trace}"
              f"-{os.getpid()}.json", "w") as f:
        json.dump({**bench.record, "result": result}, f, indent=1)
    print(summary(result, bench.record))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
