"""Measure the ANN build/query split at two scales (VERDICT r7 item 1's
acceptance: the QUERY path's 10x-volume ratio must be <= ivf2's 1.4x).

For sf0.1 and the 10x replica: build the two-level index ONCE (timed
separately), persist it to parquet (the lake artifact), then time ONLY
``ivf_index_query`` over the reloaded artifact with the registry
query-subset (vec_id % 10 == 0) — the query-many production path, with
zero quantizer training on the clock. Warm passes first so codegen/JIT
isn't charged to either scale (the measure_scale.py methodology).

Usage: python tools/measure_index_split.py
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BIG = os.environ.get("SPARK_GRAFT_BIG_DIR", "/tmp/sf0.1-10x")


def main() -> None:
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from flink_helloworld_spark.operators import similarity as S
    from flink_helloworld_spark.operators.dedup import release_shared_caches
    from flink_helloworld_spark.session import build_session

    spark = build_session(app_name="fhs-index-split")
    results = {}
    for label, src in (("1x", BASE), ("10x", BIG)):
        emb = entrymod.load_tables(spark, src).embeddings

        t0 = time.time()
        index, postings = S.build_ivf_index(emb)
        art = tempfile.mkdtemp(prefix=f"ivfidx-{label}-")
        index.write.mode("overwrite").parquet(f"{art}/index")
        postings.write.mode("overwrite").parquet(f"{art}/postings")
        build_s = time.time() - t0
        release_shared_caches()

        idx = spark.read.parquet(f"{art}/index")
        post = spark.read.parquet(f"{art}/postings")
        queries = emb.where(F.col("vec_id") % 10 == 0)

        def q() -> float:
            t = time.time()
            S.ivf_index_query(
                idx, post, queries, k=5, n_probe=2, n_super_probe=2
            ).write.mode("overwrite").format("noop").save()
            return time.time() - t

        q()  # warm
        query_s = q()
        results[label] = (build_s, query_s)
        print(
            f"| ivf index {label} | build+persist {build_s:.2f}s "
            f"| query-only {query_s:.2f}s |",
            flush=True,
        )
        shutil.rmtree(art, ignore_errors=True)
    b1, q1 = results["1x"]
    b10, q10 = results["10x"]
    print(
        f"| ratio 10x/1x | build {b10 / max(b1, 1e-9):.1f}x "
        f"| QUERY {q10 / max(q1, 1e-9):.1f}x |",
        flush=True,
    )


if __name__ == "__main__":
    main()
