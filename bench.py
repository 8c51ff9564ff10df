"""Coverage sweep: runs every ``queries()`` entry at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query is forced with the noop sink (full computation, no driver
collect) ``ITERS`` times in one warm session; the reported per-query
number (and the total) is the median. A failing query is logged and
named in ``failed``; the rest still run.

This sweep shows that every query runs and roughly what it costs. It
flags no regressions: a speed claim comes from the interleaved A/B of
``perfbench/`` (see "A/B between a parent and a change" in its README).

Settings: ``SPARK_GRAFT_SF_DIR`` (input tables), ``SPARK_GRAFT_BENCH_ONLY``
(comma-separated query subset) and ``SPARK_GRAFT_BENCH_RECORD=1`` (also
write the full record to ``bench_local_r{N}.json``).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from flink_helloworld_spark.session import build_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ITERS = 3
# past this many seconds the remaining queries run once each, so a
# slow sweep still yields a complete record
DEADLINE_S = 1500


def _warm_session():
    """Build the bench session and pay the warmup costs — JVM/codegen
    init + parquet footer reads for every base table — so the first
    timed query isn't charged for either."""
    spark = build_session(app_name="fhs-bench")
    spark.range(1000).count()
    from flink_helloworld_spark.sources.tables import load_tables

    warm = load_tables(spark, SF_DIR)
    for t in ("region", "lineitem", "orders", "customer", "events",
              "documents", "embeddings"):
        # engine loader, not a plain read: it normalizes drifted
        # timestamp types (nanos / NTZ) that a bare scan would leak
        try:
            getattr(warm, t).count()
        except Exception as exc:  # noqa: BLE001
            print(f"[bench] warmup {t} failed: {exc}", file=sys.stderr)
    return spark


def main() -> None:
    qs = entrymod.queries()
    only = {
        q for q in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",") if q
    }
    run_order = [q for q in qs if q in only] if only else list(qs)
    spark = _warm_session()
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:  # replica dirs may not encode a numeric sf — never crash the
        float(sf)  # payload assembly AFTER the timings ran
    except ValueError:
        sf = "-1"
    from flink_helloworld_spark.operators.dedup import release_shared_caches

    # per-query error isolation: one broken query must never cost the
    # run its entire record — log the error, keep timing the rest, and
    # exit non-zero at the end if anything failed
    timings: dict[str, object] = {}
    detail: dict[str, object] = {}
    failed: list[str] = []
    deadline = time.time() + DEADLINE_S
    for name in run_order:
        runs: list[float] = []
        err = None
        n_iters = ITERS if time.time() < deadline else 1
        for _ in range(n_iters):
            t0 = time.time()
            try:
                qs[name](spark, SF_DIR).write.mode("overwrite").format(
                    "noop"
                ).save()
                runs.append(round(time.time() - t0, 3))
            except Exception as exc:  # noqa: BLE001
                err = f"{type(exc).__name__}: {exc}"[:300]
                print(f"[bench] {name} FAILED: {exc}", file=sys.stderr)
                break  # a deterministic failure won't heal on retry
            finally:
                # shingle cache must not leak across queries/iterations
                release_shared_caches()
        if err is not None and not runs:
            failed.append(name)
            timings[name] = {"err": err, "sec": round(time.time() - t0, 3)}
            detail[name] = {"err": err}
            continue
        med = round(statistics.median(runs), 3)
        timings[name] = med
        detail[name] = {"median": med, "min": min(runs), "iters": runs}
        if err is not None:  # failed on a LATER iteration: still a failure
            failed.append(name)
            detail[name]["err"] = err
    total = round(
        sum(t if isinstance(t, float) else t["sec"] for t in timings.values()),
        3,
    )
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "n_queries": len(timings),
        "sf": float(sf),
        "iters_per_query": ITERS,
        "failed": failed,
    }
    print(json.dumps(payload))
    # a captured stdout tail can truncate a full-registry line, so the
    # complete record (with per-iteration timings) can also go to a
    # file named for the next round (max existing BENCH_r{N} + 1).
    # Opt-in, and never for a subset run, so an ad-hoc timing run
    # cannot overwrite a committed record.
    record = os.environ.get("SPARK_GRAFT_BENCH_RECORD", "") == "1"
    if record and not only:
        try:
            here = os.path.dirname(os.path.abspath(__file__))
            n = _next_round(here)
            full = dict(payload)
            full["detail"] = detail  # per-iteration raw timings + min/median
            with open(
                os.path.join(here, f"bench_local_r{n:02d}.json"), "w"
            ) as f:
                json.dump(full, f, indent=1)
        except OSError as exc:
            print(
                f"[bench] could not persist local record: {exc}",
                file=sys.stderr,
            )
    if failed:
        sys.exit(1)


def _next_round(here: str) -> int:
    import glob
    import re

    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    return (max(rounds) + 1) if rounds else 0


if __name__ == "__main__":
    main()
