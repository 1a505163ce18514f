"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). Everything the run writes stays under
``.perfbench_work/`` in the checkout and is removed at exit, except a
traced run's spans, one JSON line per span, in
``.perfbench_work/spans/<workload>-<size>-seed<n>.jsonl``. A traced run
of a CDC workload then also runs a batch workload as its tail (``TAILS``),
so the traced runs cover the pipeline and roster layers too. See
perfbench/README.md for the workloads, the metrics and the layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import cdc  # noqa: E402
import common  # noqa: E402
import identity  # noqa: E402
import layers  # noqa: E402
import roster  # noqa: E402

WORKLOADS = {
    "bulk_backfill": cdc.run_bulk,
    "trickle_serve": cdc.run_trickle,
    "identity_rebuild": identity.run,
    "query_roster": roster.run,
}
# The batch workload a traced run of each CDC workload runs after its own
# window: a full evaluation has no time for them as workloads of their
# own (perfbench/README.md, "Budget").
TAILS = {"bulk_backfill": "identity_rebuild", "trickle_serve": "query_roster"}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--size", choices=("full", "tiny"), default="full",
        help="input scale; 'tiny' is for the benchmark's own smoke tests",
    )
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = common.repo_root()
    if not os.path.isfile(os.path.join(root, "dbt_customer360_spark", "__init__.py")):
        print(
            f"perfbench: no dbt_customer360_spark package under {root}; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    common.prepare_env(work)
    sys.path.insert(0, root)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    spark = None
    try:
        spark = common.start_spark(work, event_log)
        tracer = common.Tracer(spark.sparkContext, attribute=bool(args.trace))
        res = WORKLOADS[args.workload](spark, tracer, args, work, T_START)
        if args.trace and args.workload in TAILS:
            tail = WORKLOADS[TAILS[args.workload]](
                spark, tracer, args, work, time.perf_counter())
            for k in ("attempted", "failed", "problems"):
                res[k] += tail[k]
            res["correct"] = res["correct"] and tail["correct"]
            tail["counts"].pop("jvm.gc_s")  # the per-operation figure is the workload's own
            res["counts"].update(tail["counts"])
        rss = common.jvm_peak_rss_mb(spark)
        res["counts"]["jvm.heap_peak_mb"] = common.jvm_peak_heap_mb(spark)
        common.stop_spark(spark)  # flushes the event log
        spark = None
        if args.trace:
            spans = os.path.join(base, "spans")
            os.makedirs(spans, exist_ok=True)
            tracer.dump(os.path.join(spans, f"{args.workload}-{args.size}-seed{args.seed}.jsonl"))
            metrics = layers.per_layer(tracer, res, event_log)
        else:
            metrics = dict(res["e2e"])
            metrics["peak_rss_mb"] = common.metric(rss, "MB")
        for p in res["problems"][:20]:
            print(f"perfbench: {p}", file=sys.stderr)
        print(
            json.dumps(
                {
                    "correct": bool(res["correct"]),
                    "attempted": int(res["attempted"]),
                    "failed": int(res["failed"]),
                    "metrics": metrics,
                }
            )
        )
        return 0
    finally:
        if spark is not None:
            common.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
