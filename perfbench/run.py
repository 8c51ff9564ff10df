"""Benchmark of the flink-helloworld-spark engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

``BENCHMARK.json`` lists the measured workloads; ``topn_stream`` runs
by hand. ``perfbench/README.md`` says why each exists and what each
metric means. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with
``--trace 1`` the per-layer ones). Lines before it are a readable
report. Traced runs also write their spans to ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import proc  # noqa: E402
from engine import Run, engine_present  # noqa: E402

WORKLOADS = {
    "batch": "batch",
    "topn_stream": "stream",
    "lsh_gate_drain": "stream",
}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--plant", metavar="OP",
        help="corrupt one checked output (a query name, 'topn' or 'verdicts') "
        "to see the check report it as a failed operation",
    )
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not engine_present(root):
        print("perfbench: run from the root of a checkout holding "
              "__spark_entry__.py and flink_helloworld_spark/", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)

    ctx = Run(root, args.workload, args.seed, args.seconds, bool(args.trace))
    if WORKLOADS[args.workload] == "batch":
        import batch as module
    else:
        import stream as module
    try:
        with proc.TreeSampler() as ctx.sampler, ctx.tracer.span("run", workload=args.workload):
            result = module.run(ctx, args.plant)
    finally:
        ctx.close()

    metrics = result["metrics"]
    ctx.layer["proc.peak_rss_mib"] = ctx.sampler.peak / 2**20
    report = dict(result["report"], attempted=result["attempted"], failed=result["failed"],
                  failed_frac=result["failed"] / result["attempted"],
                  setup_wall_s=round(ctx.setup_wall_s, 4),
                  peak_rss_mib=round(ctx.sampler.peak / 2**20, 1), **metrics)
    for error in result["errors"]:
        print("# failed: " + error.rstrip().replace("\n", "\n#   "))
    print("# " + json.dumps(report))
    if args.trace:
        trace_path = os.path.join(
            ctx.out_dir, f"trace-{args.workload}-{args.seed}-{int(time.time())}.json"
        )
        ctx.tracer.write(trace_path)
        print(f"# spans: {trace_path}")
        wanted, have = spec["per_layer"], ctx.layer
    else:
        wanted, have = spec["end_to_end"], metrics
    # a layer a workload does not exercise reads 0; an end-to-end
    # metric is always measured
    out = {m["name"]: {"value": float(have[m["name"]] if not args.trace
                                      else have.get(m["name"], 0.0)),
                       "unit": m["unit"]}
           for m in wanted}
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
