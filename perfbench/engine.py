"""One benchmark run's hold on the engine: environment, per-run work
directory, Spark session lifecycle and the set-up rounds."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import time

import proc
from spans import Tracer

SETUP_ROUNDS = 3


def engine_present(root: str) -> bool:
    return os.path.isfile(os.path.join(root, "__spark_entry__.py")) and os.path.isdir(
        os.path.join(root, "flink_helloworld_spark")
    )


class Run:
    """Per-run state: arguments, work dir, tracer and the live session.

    Everything the run writes (inputs, checkpoints, sinks, Spark local
    dirs, temp files) lives under ``work``, which ``close`` removes."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float, trace: bool):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(trace)
        self.out_dir = os.path.join(root, ".perfbench")
        base = os.path.join(self.out_dir, "work")
        os.makedirs(base, exist_ok=True)
        self.work = tempfile.mkdtemp(prefix=f"{workload}-{seed}-", dir=base)
        self.tmp = os.path.join(self.work, "tmp")
        os.makedirs(self.tmp)
        # before the JVM starts: its Python workers import the engine from
        # PYTHONPATH, and every temp file lands inside the work dir
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
        os.environ["TMPDIR"] = self.tmp
        # every JVM (the spark-submit launcher too): temp files in the work
        # dir, and no hsperfdata file under /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        tempfile.tempdir = self.tmp
        sys.path.insert(0, root)
        self.spark = None
        self.session_start_s: list[float] = []
        self.layer: dict[str, float] = {}
        self.setup_wall_s = 0.0
        self.sampler: proc.TreeSampler | None = None

    @property
    def trace(self) -> bool:
        return self.tracer.enabled

    def start_session(self):
        from flink_helloworld_spark.session import build_session

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = build_session(
            app_name=f"perfbench-{self.workload}",
            extra_conf={"spark.sql.warehouse.dir": os.path.join(self.work, "warehouse")},
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s.append(time.perf_counter() - t0)
        return self.spark

    def setup(self, prepare) -> float:
        """``SETUP_ROUNDS`` rounds of session start + ``prepare(round)``
        (input generation and warm-up); returns the median CPU seconds
        of a round, and keeps the median wall seconds in
        ``setup_wall_s``. The first round also launches the JVM, so the
        median is the warm set-up a later round pays."""
        cpu, wall = [], []
        for k in range(SETUP_ROUNDS):
            with self.tracer.span("setup", round=k):
                c0, t0 = proc.tree_cpu_s(), time.perf_counter()
                self.start_session()
                prepare(k)
                wall.append(time.perf_counter() - t0)
                cpu.append(proc.tree_cpu_s() - c0)
        self.layer["session.start_s"] = statistics.median(self.session_start_s)
        self.layer["session.jvm_start_s"] = self.session_start_s[0]
        self.setup_wall_s = statistics.median(wall)
        return statistics.median(cpu)

    def close(self) -> None:
        """Stop the session and the JVM, wait for every process the run
        started, and remove the work dir."""
        try:
            pids = proc.descendants()
            if self.spark is not None:
                from pyspark import SparkContext

                self.spark.stop()
                gateway = SparkContext._gateway
                if gateway is not None:
                    gateway.shutdown()
                    jvm = getattr(gateway, "proc", None)
                    if jvm is not None and jvm.stdin is not None:
                        jvm.stdin.close()  # the gateway JVM exits on stdin EOF
                    SparkContext._gateway = None
                    SparkContext._jvm = None
            proc.wait_ended(pids)
        finally:
            shutil.rmtree(self.work, ignore_errors=True)
