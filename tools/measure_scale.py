"""Measure headline queries at two scales (SCALE_NOTES methodology).

Runs each named query at sf0.1 and at the 10x replica (warm: one
untimed pass first so codegen/JIT isn't charged to either scale), prints
a markdown-ish row per query.

Usage: python tools/measure_scale.py q1 q2 ...
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from flink_helloworld_spark.operators.dedup import release_shared_caches  # noqa: E402
from flink_helloworld_spark.session import build_session  # noqa: E402

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BIG = os.environ.get("SPARK_GRAFT_BIG_DIR", "/tmp/sf0.1-10x")


def run(fn, spark, sf_dir) -> float:
    t0 = time.time()
    fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
    dt = time.time() - t0
    release_shared_caches()
    return dt


def main() -> None:
    spark = build_session(app_name="fhs-scale")
    qs = entrymod.queries()
    names = sys.argv[1:]
    for name in names:
        fn = qs[name]
        run(fn, spark, BASE)  # warm
        base = run(fn, spark, BASE)
        big = run(fn, spark, BIG)
        print(
            f"| {name} | {base:.2f} | {big:.2f} | {big / max(base, 1e-9):.1f}x |",
            flush=True,
        )


if __name__ == "__main__":
    main()
