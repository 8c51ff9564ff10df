"""Batch workloads: registry queries from ``__spark_entry__.queries()``.

A run generates its inputs and then makes timed passes over its
queries, as many as fit in the run's seconds (at least one). Each
query is timed from the builder call until its complete result is on
the driver (``toPandas``, as the driver contract's consumers read
it), in a session that has run nothing else: the time a job pays when
it runs once. Over the same interval the run counts the CPU seconds of
its whole process tree (driver, JVM, Python workers), which, unlike
wall time, does not grow when the host hands the guest's CPUs to
other guests. Each result is then checked, outside the timed region,
against the query's ``oracle_sql()`` answer from DuckDB over the same
files.

With tracing on, the same passes run traced: each query's jobs are
tagged with job groups and Spark's status stores are read back after
the pass. The tracing work inside the timed regions, setting the job
groups, is itself timed and reported as the overhead; recording a span
costs microseconds.
"""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import time
import traceback

import gen
import proc
from check import Oracle, mismatch, plant
from spans import spark_counts

# JVM-only queries of the reference's DataStream surface: scans,
# shuffles, sorts, joins and windows, no Python
DATAFLOW = [
    "wordcount", "pricing_summary", "denorm_wide", "rolling_sum",
    "tumbling_daily", "sliding_hourly", "session_windows", "count_windows",
    "window_join", "as_of_join", "waybill_capstone", "sql_q18_large_orders",
]
# LLM-data queries, one per Python-boundary module (dedup, similarity,
# text, clustering, multimodal): driver-side build work and the
# Arrow/Python boundary dominate
LLM_OPS = [
    "dedup_minhash_pairs", "similarity_ivf_topk", "tfidf_top_terms",
    "embedding_kmeans", "multimodal_decode",
]
QUERIES = DATAFLOW + LLM_OPS
# a 2-copy volume replica of a base of half sf0.01's orders and events:
# ~61K lineitem, 10K events, 500 documents and 500 embeddings
SCALE = gen.Scale(orders=7500, events=5000, documents=250, embeddings=250, copies=2)


def _generator_version() -> str:
    with open(gen.__file__, "rb") as f:
        return hashlib.sha1(f.read()).hexdigest()[:12]


def run(ctx, plant_query: str | None = None) -> dict:
    import __spark_entry__ as entry
    from flink_helloworld_spark.operators.dedup import release_shared_caches
    from flink_helloworld_spark.sources.tables import load_tables

    names, scale = QUERIES, SCALE
    builders, oracles = entry.queries(), entry.oracle_sql()
    tracer = ctx.tracer
    state: dict = {}

    def prepare(k: int) -> None:
        sf_dir = os.path.join(ctx.work, f"in{k}")
        with tracer.span("generate"):
            state["rows"] = gen.write(gen.generate(ctx.seed, scale), sf_dir)
        t0 = time.perf_counter()
        with tracer.span("sources.load"):
            tables = load_tables(ctx.spark, sf_dir)
            for name in state["rows"]:
                tables.table(name)
        state.setdefault("load_s", []).append(time.perf_counter() - t0)
        state["sf_dir"] = sf_dir

    setup_s = ctx.setup(prepare)
    sf_dir = state["sf_dir"]
    spark = ctx.spark
    sc = spark.sparkContext
    # every oracle answer before the timed passes: DuckDB's threads then
    # never share the box with a query, however long an answer takes or
    # whether it was cached
    oracle = Oracle(
        sf_dir, os.path.join(ctx.out_dir, "oracle"),
        f"{ctx.workload}|{ctx.seed}|{_generator_version()}|{scale}",
    )
    with tracer.span("oracle"):
        answers = {q: oracle.answer(oracles[q]) for q in names}
    oracle.close()
    attempted = failed = 0
    errors: list[str] = []
    times: dict[str, list[float]] = {}
    cpu: dict[str, list[float]] = {}
    layer: dict[str, list[float]] = {}
    overhead_s = 0.0
    py_by_family: dict = {}
    deadline = time.perf_counter() + ctx.seconds
    p, pass_s = 0, 0.0
    # another pass only while it is expected to end within the seconds
    while p == 0 or time.perf_counter() + pass_s <= deadline:
        descriptions = set()
        t_pass = time.perf_counter()
        with tracer.span("pass"):
            for q in names:
                attempted += 1
                d, d2 = f"{q}|build|{p}", f"{q}|exec|{p}"
                try:
                    with tracer.span(f"q.{q}"):
                        c0 = proc.tree_cpu_s()
                        t0 = time.perf_counter()
                        if ctx.trace:
                            overhead_s += _tag(sc, d)
                        with tracer.span("build"):
                            df = builders[q](spark, sf_dir)
                        t1 = time.perf_counter()
                        if ctx.trace:
                            overhead_s += _tag(sc, d2)
                        with tracer.span("exec"):
                            got = df.toPandas()
                        t2 = time.perf_counter()
                        c2 = proc.tree_cpu_s()
                except Exception:
                    failed += 1
                    errors.append(f"{q}: {traceback.format_exc(limit=2)}")
                    continue
                finally:
                    release_shared_caches()
                times.setdefault(q, []).append(t2 - t0)
                cpu.setdefault(q, []).append(c2 - c0)
                if ctx.trace:
                    descriptions |= {d, d2}
                    layer.setdefault(f"q.{q}.build_s", []).append(t1 - t0)
                    layer.setdefault(f"q.{q}.exec_s", []).append(t2 - t1)
                if q == plant_query:
                    got = plant(got)
                bad = mismatch(got, answers[q])
                if bad:
                    failed += 1
                    errors.append(f"{q}: wrong answer: {bad}")
        pass_s = time.perf_counter() - t_pass
        if ctx.trace:
            for q in names:
                build = spark_counts(spark, {f"{q}|build|{p}"})
                layer.setdefault(f"q.{q}.jobs", []).append(build["jobs"])
            families = {
                name: spark_counts(spark, {d for d in descriptions if d.split("|")[0] in members})
                for name, members in (("dataflow", DATAFLOW), ("llm_ops", LLM_OPS))
            }
            for key in families["dataflow"]:
                if key != "jobs":
                    layer.setdefault(key, []).append(sum(f[key] for f in families.values()))
            py_by_family = {name: {k: round(v, 3) for k, v in f.items() if k.startswith("py.")}
                            for name, f in families.items()}
        p += 1

    if len(times) < len(names):
        raise RuntimeError("a query failed in every timed pass:\n" + "\n".join(errors))
    per_query = {q: statistics.median(times[q]) for q in names}
    total_s = sum(per_query.values())
    geomean_s = _geomean(per_query.values())
    cpu_per_query = {q: statistics.median(cpu[q]) for q in names}

    ctx.layer.update({k: statistics.median(v) for k, v in layer.items()})
    ctx.layer["sources.load_s"] = statistics.median(state["load_s"])
    ctx.layer["trace.overhead_total_s"] = overhead_s / p
    return {
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "metrics": {
            "setup_s": setup_s,
            "cpu_ms": _geomean(cpu_per_query.values()) * 1e3,
            "cpu_s": sum(cpu_per_query.values()),
        },
        "report": {
            "seed": ctx.seed,
            "input_rows": state["rows"],
            "passes": p,
            "batch_total_s": round(total_s, 4),
            "batch_geomean_s": round(geomean_s, 4),
            "dataflow_total_s": round(sum(per_query[q] for q in DATAFLOW), 4),
            "llm_ops_total_s": round(sum(per_query[q] for q in LLM_OPS), 4),
            "per_query_s": {q: round(v, 4) for q, v in per_query.items()},
            "per_query_cpu_s": {q: round(v, 2) for q, v in cpu_per_query.items()},
            **({"py_by_family": py_by_family} if ctx.trace else {}),
        },
    }


def _geomean(values) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def _tag(sc, description: str) -> float:
    """Tag the jobs that follow with ``description``; returns the
    seconds the tagging took."""
    t0 = time.perf_counter()
    sc.setJobGroup(description, description)
    return time.perf_counter() - t0
