"""Spark session lifetime, memory accounting and the run record.

One ``Run`` owns everything a benchmark run starts: the Spark JVM (and,
through it, the Python workers) and the output directory.  ``close``
stops the JVM, waits for it and its children to exit, and deletes the
run's inputs and scratch files; the record stays.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import time
import traceback

import spans


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _descendants(pid: int) -> list[int]:
    """Pids of every live descendant of ``pid``."""
    parent = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], {pid}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier}
        out.extend(frontier)
    return out


def _wait_gone(pids, timeout: float) -> None:
    end = time.monotonic() + timeout
    while time.monotonic() < end:
        if not any(os.path.exists(f"/proc/{p}") for p in pids):
            return
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


class Run:
    """A benchmark run: its output directory, Spark session, tracer and
    the counts that end up in the JSON line."""

    def __init__(self, root: str, workload: str, seed: int, traced: bool):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.traced = traced
        self.out = os.path.join(
            root, "perfbench", "out", f"{workload}-{seed}-{int(traced)}"
        )
        shutil.rmtree(self.out, ignore_errors=True)
        # inputs and Spark scratch; both go when the run closes
        self.data = os.path.join(self.out, "data")
        self.tmp = os.path.join(self.out, "tmp")
        os.makedirs(self.data)
        os.makedirs(self.tmp)
        self.spark = None
        self.tracer = None
        self.jvm = None
        self.jvm_hwm = 0.0
        self.attempted = 0
        self.failures: list[dict] = []
        self.mismatches: list[dict] = []
        self.record: dict = {"workload": workload, "seed": seed, "traced": traced}

    # -- session --------------------------------------------------------
    def start_spark(self):
        """Start ``local[<cores>]`` with every scratch path inside the
        run's output directory."""
        # executors' Python workers import the library from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["TMPDIR"] = self.tmp
        import tempfile

        tempfile.tempdir = self.tmp
        from pyspark.sql import SparkSession

        cores = len(os.sched_getaffinity(0))
        b = (
            SparkSession.builder.master(f"local[{cores}]")
            .appName(f"perfbench-{self.workload}")
            .config("spark.sql.shuffle.partitions", str(cores))
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.driver.memory", "1g")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.local.dir", os.path.join(self.tmp, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(self.tmp, "warehouse"))
            .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={self.tmp}")
        )
        if self.traced:
            self.event_dir = os.path.join(self.out, "eventlog")
            os.makedirs(self.event_dir)
            b = (
                b.config("spark.eventLog.enabled", "true")
                .config("spark.eventLog.dir", "file:" + self.event_dir)
                .config("spark.eventLog.rolling.enabled", "false")
                .config("spark.eventLog.compress", "false")
            )
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = self.spark.sparkContext._gateway.proc
        self.tracer = spans.Tracer(self.spark) if self.traced else None
        return self.spark

    def peak_rss_mb(self) -> float:
        """Peak RSS of this process plus the Spark JVM, in MB."""
        if self.jvm is not None and self.jvm.poll() is None:
            self.jvm_hwm = max(self.jvm_hwm, vm_hwm_mb(self.jvm.pid))
        return vm_hwm_mb("self") + self.jvm_hwm

    def close(self) -> None:
        """Stop Spark and wait for the JVM and its Python workers; in a
        traced run, then attribute the event log to the spans."""
        if self.spark is None:
            return
        self.peak_rss_mb()
        kids = _descendants(self.jvm.pid) if self.jvm.poll() is None else []
        try:
            self.spark.stop()
        finally:
            self.spark = None
            # the JVM exits when its stdin closes
            try:
                self.jvm.stdin.close()
            except OSError:
                pass
            try:
                self.jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.jvm.kill()
                self.jvm.wait()
            _wait_gone(kids, 30)
            # the next session in this process needs a new JVM
            from pyspark import SparkContext

            SparkContext._gateway = None
            SparkContext._jvm = None
            for d in (self.data, self.tmp):
                shutil.rmtree(d, ignore_errors=True)
        if self.traced:
            log = spans.EventLog(spans.find_event_log(self.event_dir))
            self.tracer.attribute(log)

    # -- operations -----------------------------------------------------
    def attempt(self, name: str, fn):
        """Run one report or query.  An exception is recorded by name and
        counted as a failure; the run goes on.  Returns the result, or
        ``None`` on failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # one failing operation must not end the run
            self.failures.append({
                "name": name,
                "error": f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}",
                "traceback": traceback.format_exc(limit=8),
            })
            return None

    def mismatch(self, name: str, detail: str) -> None:
        """An output that disagrees with its oracle: a failure, and the
        run is not correct."""
        self.mismatches.append({"name": name, "detail": detail})

    @property
    def failed(self) -> int:
        return len(self.failures) + len(self.mismatches)

    def ok_frac(self) -> float:
        return (self.attempted - self.failed) / self.attempted

    # -- output ---------------------------------------------------------
    def write_record(self) -> None:
        self.record.update(
            attempted=self.attempted,
            failures=self.failures,
            mismatches=self.mismatches,
        )
        if self.tracer is not None:
            self.record["spans"] = self.tracer.spans
        with open(os.path.join(self.out, "record.json"), "w") as fh:
            json.dump(self.record, fh, indent=1, default=str)


def median(values) -> float:
    return float(statistics.median(values))


def setup_time(fn, repeats: int = 3):
    """Run a repeatable set-up step ``repeats`` times; return the last
    result and the median duration."""
    times, result = [], None
    for _ in range(repeats):
        t = time.perf_counter()
        result = fn()
        times.append(time.perf_counter() - t)
    return result, median(times)
