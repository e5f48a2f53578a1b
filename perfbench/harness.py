"""Run environment shared by the workloads: where files go, the Spark
session's life cycle, noise controls, and the result object."""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

PACKAGE = "odni_apache_beam_consumer_spark"
# Another Spark JVM still exiting (e.g. the previous run's) gets this long
# to go away before the run is refused.
OTHER_SPARK_WAIT_S = 60.0
DEFAULT_DRIVER_MEM = "6g"


class Refused(RuntimeError):
    """The run cannot give a valid measurement and prints no result."""


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def result(correct: bool, attempted: int, failed: int, metrics: dict) -> dict:
    return {"correct": bool(correct), "attempted": int(attempted),
            "failed": int(failed), "metrics": metrics}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _spark_jvms() -> list[int]:
    """Pids of live Spark driver JVMs visible to this process."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == os.getpid():
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"org.apache.spark.deploy.SparkSubmit" in cmd:
            pids.append(int(d))
    return pids


def cpu_canary_s() -> float:
    """Seconds for a fixed pure-Python loop: a record of how fast the
    machine was during the run, logged beside the result (shared hosts
    drift by tens of percent over minutes)."""
    t = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i * i
    return time.perf_counter() - t


def _read_all(path: str) -> int:
    """Read a file or a tree once so the page cache holds it; returns bytes."""
    total = 0
    paths = [path] if os.path.isfile(path) else [
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
    ]
    for p in paths:
        with open(p, "rb") as f:
            while chunk := f.read(1 << 20):
                total += len(chunk)
    return total


class Environment:
    """Directories, environment variables and the Spark session of one run.

    Everything the run writes goes under ``<build>/perfbench``, where
    ``<build>`` is ``$CARGO_TARGET_DIR`` (relative to the checkout) or
    ``.bench_build``.  Generated fixtures persist there between runs; the
    per-run work directory is removed by ``close``.
    """

    def __init__(self, root: str, cores: int | None, tag: str):
        self.root = root
        build = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
        self.build = os.path.join(root, build) if not os.path.isabs(build) else build
        self.data = os.path.join(self.build, "perfbench", "data")
        self.work = os.path.join(self.build, "perfbench", "runs", tag)
        self.traces = os.path.join(self.build, "perfbench", "traces")
        self.cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS") or nproc())
        self.spec_path = os.path.join(root, "BENCHMARK.json")
        self.spark = None
        self._jvm = None

    # -- checks -----------------------------------------------------------
    def check_checkout(self) -> None:
        """The benchmark measures the package of THIS checkout, never one
        found elsewhere on the path."""
        pkg = os.path.join(self.root, PACKAGE)
        oracle = os.path.join(self.root, "tests", "oracle_compare.py")
        for p in (pkg, oracle, self.spec_path):
            if not os.path.exists(p):
                raise Refused(f"{os.path.relpath(p, self.root)} is missing: not a checkout of the engine")
        if self.root not in sys.path:
            sys.path.insert(0, self.root)

    def per_layer(self) -> list[dict]:
        """The per-layer metrics BENCHMARK.json lists: name, unit, better."""
        with open(self.spec_path) as f:
            return json.load(f)["per_layer"]

    def refuse_if_other_spark(self) -> None:
        deadline = time.monotonic() + OTHER_SPARK_WAIT_S
        while pids := _spark_jvms():
            if time.monotonic() > deadline:
                raise Refused(f"another Spark JVM is alive (pids {pids}); timings would be shared")
            time.sleep(1.0)

    def describe(self) -> dict:
        return {
            "cores": self.cores,
            "nproc": nproc(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        }

    # -- set-up -----------------------------------------------------------
    def prepare(self) -> None:
        """Create the work directories and point every scratch location of
        Spark, its Python workers and ``tempfile`` inside them."""
        os.makedirs(self.data, exist_ok=True)
        os.makedirs(self.traces, exist_ok=True)
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        tmp = os.path.join(self.work, "tmp")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DEFAULT_DRIVER_MEM)
        log(f"environment {self.describe()}")

    def preread(self, *paths: str) -> None:
        """Pull the Spark jars and the given inputs into the page cache, so
        the first run in a series does not start colder than the rest."""
        import pyspark

        home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
        jars = os.path.join(home, "jars")
        t = time.monotonic()
        n = sum(_read_all(p) for p in (jars, *paths) if os.path.exists(p))
        log(f"pre-read {n / 1e6:.0f} MB in {time.monotonic() - t:.2f}s")

    def start_spark(self):
        from odni_apache_beam_consumer_spark.session import get_spark
        from pyspark import SparkContext

        tmp = os.environ["TMPDIR"]
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self._jvm = getattr(SparkContext._gateway, "proc", None)
        return self.spark

    # -- tear-down --------------------------------------------------------
    def close(self) -> None:
        """Stop Spark, wait for its JVM (and so its Python workers) to exit,
        and remove the per-run work directory."""
        if self.spark is not None:
            log(f"cpu canary {cpu_canary_s():.3f} s")
        if self.spark is not None:
            from pyspark import SparkContext

            try:
                self.spark.stop()
            finally:
                gateway = SparkContext._gateway
                if gateway is not None:
                    gateway.shutdown()
                    SparkContext._gateway = None
                    SparkContext._jvm = None
                self.spark = None
        if self._jvm is not None:
            # The gateway JVM exits when its stdin closes.
            if self._jvm.stdin is not None:
                self._jvm.stdin.close()
            try:
                self._jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self._jvm.kill()
                self._jvm.wait(timeout=30)
            self._jvm = None
        shutil.rmtree(self.work, ignore_errors=True)


def _epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def progress_rows(progresses) -> list[dict]:
    """One dict per StreamingQueryProgress: trigger phases and state sizes."""
    rows = []
    for p in progresses:
        d = p.durationMs
        state = p.stateOperators[0] if p.stateOperators else None
        src = p.sources[0] if p.sources else None
        start = _epoch(p.timestamp)
        rows.append({
            "batch": p.batchId,
            "start": start,
            "end": start + d.get("triggerExecution", 0) / 1000.0,
            "rows": p.numInputRows,
            "trigger_ms": d.get("triggerExecution", 0),
            "add_batch_ms": d.get("addBatch", 0),
            "query_planning_ms": d.get("queryPlanning", 0),
            "wal_commit_ms": d.get("walCommit", 0),
            "commit_offsets_ms": d.get("commitOffsets", 0),
            "latest_offset_ms": d.get("latestOffset", 0),
            "get_batch_ms": d.get("getBatch", 0),
            "state_rows": state.numRowsTotal if state else 0,
            "state_bytes": state.memoryUsedBytes if state else 0,
            "state_commit_ms": state.commitTimeMs if state else 0,
            "state_rows_removed": state.numRowsRemoved if state else 0,
            "source_rows": src.numInputRows if src else 0,
        })
    return rows
