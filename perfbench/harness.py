"""Process-level plumbing: the run's work directory, Spark session
lifecycle, set-up repetitions and the closed-loop driver."""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile
import threading
import time
from pathlib import Path
from typing import Callable, NamedTuple

from perfbench import procinfo


class WorkDir:
    """A per-run work directory inside the checkout; every temporary file
    of the run (Python, JVM, Spark shuffle and warehouse) goes under it and
    it is removed when the run ends."""

    def __init__(self, root: Path, name: str):
        self.path = root / ".perfbench_work" / f"{name}-{os.getpid()}"
        self.path.mkdir(parents=True, exist_ok=True)
        self.tmp = self.path / "tmp"
        self.tmp.mkdir(exist_ok=True)
        os.environ["TMPDIR"] = str(self.tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.sub("spark-local"))
        # every JVM, the spark-submit launcher's too, skips its hsperfdata
        # file in /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        tempfile.tempdir = str(self.tmp)

    def sub(self, name: str) -> Path:
        p = self.path / name
        p.mkdir(parents=True, exist_ok=True)
        return p

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = self.path.parent
        if parent.exists() and not any(parent.iterdir()):
            parent.rmdir()


class Session:
    """Owns the SparkSession and its JVM child for the whole run."""

    def __init__(self, work: WorkDir):
        self.work = work
        self.spark = None
        self.jvm_pid: int | None = None
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            # build_spark defaults to 8g; on a 2 MB fixture G1 then grows
            # the process to 5.7 GB RSS against 2.0 GB at 2g, at the same
            # throughput, and the benchmark host's memory is shared
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": str(work.sub("warehouse")),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work.tmp}",
        }

    def build(self):
        from trafficbigdatasearch_spark.session import build_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = build_spark(app_name="perfbench", extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.jvm_pid is None:
            from pyspark import SparkContext

            self.jvm_pid = SparkContext._gateway.proc.pid
        return self.spark

    def peak_rss_mb(self) -> float:
        return procinfo.peak_rss_mb(self.jvm_pid)

    def close(self) -> None:
        """Stop the session, shut the gateway and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc.poll() is None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def repeated_setup(session: Session, prepare: Callable, reps: int, tracer):
    """Run ``reps`` set-ups (session build + ``prepare(spark, rep)``), each on
    a fresh SparkSession.  The first one also launches the JVM and runs
    cold; it is reported apart.  Returns (prepared object of the last rep,
    cold seconds, warm set-up seconds, first build seconds, warm build
    seconds)."""
    cold = None
    warm, builds = [], []
    prepared = None
    for rep in range(reps):
        t0 = time.perf_counter()
        with tracer.span("setup"):
            with tracer.span("session.build_spark"):
                spark = session.build()
            t1 = time.perf_counter()
            prepared = prepare(spark, rep)
        t2 = time.perf_counter()
        builds.append(t1 - t0)
        if rep == 0:
            cold = t2 - t0
        else:
            warm.append(t2 - t0)
    return prepared, cold, warm, builds[0], builds[1:]


class Record(NamedTuple):
    idx: int
    kind: str
    start: float
    end: float
    ok: bool
    result: object
    error: str | None


def closed_loop(serve: Callable, next_op: Callable, clients: int, seconds: float,
                max_ops: int | None = None, min_done: int = 0) -> list[Record]:
    """``clients`` threads each issue an op, wait for it, and issue the next
    until ``seconds`` have passed since the start and ops ``0 .. min_done-1``
    have all completed, or until ``max_ops`` ops have been issued.  Ops
    still running at the end complete and count.  Returns the records in op
    order.

    ``min_done`` fixes the set of ops a metric is computed from: on a slow
    program the loop runs past ``seconds`` until that set is complete, and
    it keeps issuing later ops meanwhile, so every op of the set runs at
    the same concurrency."""
    lock = threading.Lock()
    counter = iter(range(max_ops if max_ops is not None else 1 << 62))
    records: list[Record] = []
    low_done = 0
    deadline = time.perf_counter() + seconds

    def client():
        nonlocal low_done
        while True:
            with lock:
                if time.perf_counter() >= deadline and low_done >= min_done:
                    return
                i = next(counter, None)
            if i is None:
                return
            op = next_op(i)
            s = time.perf_counter()
            try:
                res, ok, err = serve(op), True, None
            except Exception as e:  # a failed op is counted, not fatal
                res, ok, err = None, False, f"{type(e).__name__}: {e}"[:300]
            e_ = time.perf_counter()
            with lock:
                records.append(Record(i, getattr(op, "kind", "pass"), s, e_, ok, res, err))
                low_done += i < min_done

    threads = [threading.Thread(target=client, name=f"client-{c}") for c in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return sorted(records, key=lambda r: r.idx)


def makespan(records) -> float:
    """Seconds from the first op's start to the last op's end."""
    return max(r.end for r in records) - min(r.start for r in records)
