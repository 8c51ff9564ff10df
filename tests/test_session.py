"""The session's Python worker path: every worker forks from the
engine's ``_worker_daemon``, so a Python task does not re-read the zip
archives on its ``sys.path``, and workers import the engine from any
working directory."""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_python_workers_fork_from_engine_daemon(spark):
    """A worker's ``zipimporter.invalidate_caches`` is the daemon's no-op,
    so ``setup_spark_files`` no longer re-reads ``pyspark.zip`` per task."""

    def probe(batches):
        import zipimport

        for _ in batches:
            pass
        code = getattr(zipimport.zipimporter.invalidate_caches, "__code__", None)
        yield pd.DataFrame({"file": [code.co_filename if code else ""]})

    rows = (
        spark.range(4, numPartitions=4)
        .mapInPandas(probe, "file string")
        .collect()
    )
    assert {os.path.basename(r.file) for r in rows} == {"_worker_daemon.py"}


def test_trivial_python_tasks_latency_bound(spark):
    """16 waves of trivial 15-row mapInPandas tasks (64 tasks at local[4])
    finish in under 3 s. On a 4-vCPU guest they took ~4.4 s when every
    task re-read the zip indexes and ~1.4 s through the fork server."""
    n_tasks = 16 * spark.sparkContext.defaultParallelism
    df = spark.range(0, n_tasks * 15, numPartitions=n_tasks).mapInPandas(
        lambda it: it, "id long"
    )

    def one_pass() -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    one_pass()  # warm: workers forked, plan compiled
    assert statistics.median(one_pass() for _ in range(3)) < 3.0


_FOREIGN_CWD_DRIVER = """
import json, sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import functions as F
from flink_helloworld_spark.operators.multimodal import decode_image_features
from flink_helloworld_spark.session import build_session

rows = [(i, "image/fake", b"payload-%d" % i) for i in range(3)]
for conf in ({}, {"spark.python.use.daemon": "false"}):
    spark = build_session(app_name="foreign-cwd", shuffle_partitions=1, extra_conf=conf)
    plus_one = F.udf(lambda v: v + 1, "long")
    lam = sorted(r[0] for r in spark.range(3, numPartitions=1).select(plus_one("id")).collect())
    media = spark.createDataFrame(rows, "doc_id long, media_type string, payload binary")
    feats = sorted(tuple(r) for r in decode_image_features(media.coalesce(1)).collect())
    print("RESULT " + json.dumps({"lambda": lam, "feats": feats}), flush=True)
    spark.stop()
"""


def test_python_udfs_run_from_foreign_cwd(tmp_path):
    """From a working directory outside the engine, with no engine entry
    on ``$PYTHONPATH``, a ``__main__`` lambda UDF and an engine
    mapInPandas run both through the fork server and, after a restart
    with ``spark.python.use.daemon=false``, without it."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        p
        for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != ROOT
    )
    script = tmp_path / "driver.py"
    script.write_text(_FOREIGN_CWD_DRIVER)
    r = subprocess.run(
        [sys.executable, str(script), ROOT],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    results = [
        json.loads(line[len("RESULT "):])
        for line in r.stdout.splitlines()
        if line.startswith("RESULT ")
    ]
    assert len(results) == 2, r.stderr[-2000:]
    daemon, no_daemon = results
    assert daemon["lambda"] == [1, 2, 3]
    assert [f[0] for f in daemon["feats"]] == [0, 1, 2]
    assert no_daemon == daemon
