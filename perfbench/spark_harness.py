"""The benchmark's Spark application: one ``local[4]`` session at a time,
set-up timing, worker warm-up, one-slot runs, the Python-worker RSS sampler
and an orderly shutdown that waits for the JVM to exit."""

from __future__ import annotations

import os
import subprocess
import threading
import time

CORES = 4


def spark_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.master": f"local[{CORES}]",
        "spark.app.name": "perfbench",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": str(2 * CORES),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
        "spark.driver.memory": "2g",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


class Harness:
    """Builds, warms and stops sessions; records every set-up's seconds."""

    def __init__(self, work: str):
        self.work = work
        self.setups: list[float] = []
        self.spark = None
        self.cfg = None

    def start(self, t_begin: float, excluded: float = 0.0, warm: bool = True):
        """Session + rule-base broadcast + worker warm-up (``warm=False``:
        the bare session, for reading results).
        The set-up time recorded is ``now - t_begin - excluded``
        (``excluded`` being input generation and expected-output time spent
        inside that interval)."""
        from pyspark.sql import SparkSession

        from article_extractor_spark.operators.extract import (
            broadcast_configs, extract_articles)

        b = SparkSession.builder
        for k, v in spark_conf(self.work).items():
            b = b.config(k, v)
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        if not warm:
            return self.spark
        self.cfg = broadcast_configs(self.spark)
        # one tiny partition per core: spawns every Python worker, imports
        # the core and rebuilds the parser from the broadcast in each
        w = self.spark.createDataFrame(
            [(f"https://warm.example.com/{i}",
              b"<html><body><p>warm, up.</p></body></html>")
             for i in range(2 * CORES)], "url string, html binary")
        extract_articles(w.repartition(CORES), config_broadcast=self.cfg).count()
        self.setups.append(time.monotonic() - t_begin - excluded)
        return self.spark

    def one_slot(self, body):
        """``body()`` while idle tasks hold all slots but one, so the job it
        runs has its tasks run one after another: the same session, input,
        partitions and per-task costs as at four slots, on one slot."""
        held = os.path.join(self.work, "tmp", f"held-{time.monotonic_ns()}")
        os.makedirs(held)
        release = os.path.join(held, "release")

        def hold(_batches):
            open(os.path.join(held, str(os.getpid())), "w").close()
            while not os.path.exists(release):
                time.sleep(0.02)
            yield from ()

        holders = self.spark.range(CORES - 1, numPartitions=CORES - 1)
        t = threading.Thread(
            target=lambda: holders.mapInArrow(hold, "id long").count())
        t.start()
        try:
            deadline = time.monotonic() + 60
            while len(os.listdir(held)) < CORES - 1:
                if time.monotonic() > deadline or not t.is_alive():
                    raise RuntimeError("slot holders did not start")
                time.sleep(0.02)
            return body()
        finally:
            open(release, "w").close()
            t.join()

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _descendants_with(marker: bytes) -> list[int]:
    """Pids below this process whose command line contains ``marker``."""
    me = os.getpid()
    parent = {}
    cmd = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd[int(d)] = f.read()
        except OSError:
            continue
        parent[int(d)] = int(stat.rsplit(b")", 1)[1].split()[1])
    out = []
    for pid, c in cmd.items():
        if marker not in c:
            continue
        p = parent.get(pid)
        for _ in range(6):
            if p is None or p <= 1:
                break
            if p == me:
                out.append(pid)
                break
            p = parent.get(p)
    return out


def _rss_kb(pid: int) -> int:
    """Peak resident set (VmHWM) of one process, in kB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class WorkerRss:
    """Samples the peak RSS of the largest PySpark Python worker while the
    timed window runs (``start``/``stop`` around each timed repetition)."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = None

    def _run(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self):
        for pid in _descendants_with(b"pyspark.daemon"):
            self.peak_kb = max(self.peak_kb, _rss_kb(pid))

    def start(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self):
        self._stop.set()
        self._thread.join()
        self.sample()
