"""Run context shared by the workloads: session lifecycle, job-group
attribution, failure counting, closed-loop timing and environment facts."""

from __future__ import annotations

import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

import numpy as np

from perfbench.tracing import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "perfbench")

# Corpus sizes (input properties): the engine's skewed synthetic corpus,
# ~1.1k ticks per series on average and 1% of series 8192 ticks long.
N_SERIES = 2000
N_BATCHES = 8


def now_ms() -> float:
    return time.time() * 1000.0


def median(xs) -> float:
    return float(statistics.median(xs))


def tail(samples, need_beyond: int = 10):
    """(percentile, value) of the highest multiple-of-5 percentile with at
    least ``need_beyond`` samples above it, or None if none above p50."""
    q = int(math.floor(100.0 * (1.0 - need_beyond / len(samples)) / 5.0)) * 5
    return (q, float(np.percentile(samples, q))) if q > 50 else None


def dir_bytes(path: str, suffix: str = "") -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(suffix))
    return total


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), sampled from /proc."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def start(self):
        self._thread.start()
        return self

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=5)

    def _tree_rss(self) -> int:
        parent = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                parent[int(pid)] = int(fields[1])
            except (OSError, IndexError, ValueError):
                continue
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier.extend(kids)
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _loop(self):
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.period_s)


class Run:
    """One benchmark process: owns the Spark session, the work
    directory, the tracer and the attempted/failed counters."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = len(os.sched_getaffinity(0))
        self.t_process = time.perf_counter()
        self.current = workload  # the workload now running (``all`` runs several)
        self.work = os.path.join(BENCH_DIR, "_work", f"{workload}-{seed}-{os.getpid()}")
        self.out = os.path.join(BENCH_DIR, "_out")
        self.event_dir = os.path.join(self.work, "eventlog")
        self.tracer = Tracer(trace)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spark = None
        self.session_start_s = 0.0
        self.rss = RssSampler()
        self.loadavg_start = os.getloadavg()

    # -- session ------------------------------------------------------------

    def start(self):
        """Point every temporary file into the work directory, make the
        package importable by Python workers, and start the session."""
        for sub in ("tmp", "local", "eventlog"):
            os.makedirs(os.path.join(self.work, sub), exist_ok=True)
        os.makedirs(self.out, exist_ok=True)
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        self.rss.start()
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        from dtaianomaly_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session", op="setup"):
            self.spark = get_spark(app_name=f"perfbench-{self.workload}",
                                   cpus=self.cores, extra_conf=conf)
        self.session_start_s = time.perf_counter() - t0
        self.jvm_version = self.spark.sparkContext._jvm.System.getProperty("java.version")

    def stop(self):
        """Stop Spark, end the JVM it launched and wait until it exits."""
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the JVM exits on EOF of its stdin
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            self.spark = None
        self.rss.stop()
        self.loadavg_end = os.getloadavg()

    def cleanup(self):
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.work))
        except OSError:
            pass

    def log(self, msg: str) -> None:
        print(f"perfbench [{time.perf_counter() - self.t_process:7.2f}s] {msg}",
              file=sys.stderr, flush=True)

    def path(self, *parts) -> str:
        return os.path.join(self.work, self.current, *parts)

    def job_group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(f"{self.current}/{name}", name)

    # -- ops and checks -----------------------------------------------------

    def attempt(self, what: str, fn):
        """Run one op; an exception counts as a failed op. Returns
        (result or None, wall seconds, start_ms, end_ms)."""
        self.attempted += 1
        t0, w0 = time.perf_counter(), now_ms()
        try:
            result = fn()
        except Exception:
            self.failed += 1
            self.failures.append(what)
            traceback.print_exc(file=sys.stderr)
            result = None
        return result, time.perf_counter() - t0, w0, now_ms()

    def check(self, what: str, fn) -> bool:
        """Untimed output check; a mismatch or an error counts as failed."""
        self.attempted += 1
        try:
            ok = bool(fn())
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            self.failed += 1
            self.failures.append(f"check:{what}")
            print(f"perfbench: check failed: {what}", file=sys.stderr)
        return ok

    def closed_loop(self, op, round_ops: int = 1, min_rounds: int = 1):
        """One client: start the next op when the previous one returns,
        until ``seconds`` have passed and at least ``min_rounds`` rounds of
        ``round_ops`` ops are done, ending on a whole round."""
        t_end = time.perf_counter() + self.seconds
        k = 0
        while k < min_rounds * round_ops or k % round_ops or time.perf_counter() < t_end:
            op(k)
            k += 1
        return k

    # -- facts recorded with every result -------------------------------------

    def environment(self) -> dict:
        import duckdb
        import numpy
        import pyarrow
        import pyspark

        cpu = platform.processor()
        try:
            with open("/proc/cpuinfo") as f:
                cpu = next(
                    (l.split(":", 1)[1].strip() for l in f if l.startswith("model name")), cpu)
        except OSError:
            pass
        return {
            "workload": self.workload, "seed": self.seed, "seconds": self.seconds,
            "trace": int(self.trace), "nproc": self.cores, "cpu_count": os.cpu_count(),
            "cpu_model": cpu, "loadavg_start": self.loadavg_start,
            "python": platform.python_version(), "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
            "duckdb": duckdb.__version__, "jvm": getattr(self, "jvm_version", ""),
        }

    def write_json(self, name: str, obj) -> str:
        path = os.path.join(self.out, name)
        with open(path, "w") as f:
            json.dump(obj, f, indent=1, default=float)
        return path
