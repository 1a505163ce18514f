"""The query_roster workload: one pass of the 32 roster leaves that
``bench.py`` times (``BENCH_QUERIES``), over star-schema inputs generated
from the seed (``starschema.py``), in a seed-shuffled order.

Each leaf is collected to pandas, as a client reading its result would,
and compared after the pass with its DuckDB oracle from
``plans.queries`` on the same files, by the repository's own oracle
gate (``tools/check_oracles.compare_frames``: same columns, same row
count, same values per pandas dtype). The pass is cold (the first in
the process); a warm-up pass would double the run's length.
"""

from __future__ import annotations

import os
import random
import time

from common import jvm_gc_s, metric

# leaves per pass: all of them, or the first few of the shuffled order
LEAVES = {"full": 32, "tiny": 3}


def run(spark, tracer, args, work: str, t_start: float) -> dict:
    import duckdb

    import starschema
    from bench import BENCH_QUERIES
    from dbt_customer360_spark.plans.queries import (
        EXTRA_ORACLES, EXTRA_QUERIES, ORACLES, QUERIES)
    from tools.check_oracles import compare_frames

    queries = {**QUERIES, **EXTRA_QUERIES}
    oracles = {**ORACLES, **EXTRA_ORACLES}
    leaves = list(BENCH_QUERIES)
    random.Random(args.seed).shuffle(leaves)
    leaves = leaves[:LEAVES[args.size]]
    res = {"attempted": 0, "failed": 0, "problems": []}
    counts: dict = {}
    with tracer.span("setup"):
        con = duckdb.connect()
        data = os.path.join(work, "sf")
        starschema.generate(con, data, args.seed)
    setup_s = time.perf_counter() - t_start

    results = {}
    times = {}
    gc0 = jvm_gc_s(spark)
    with tracer.span("timed"):
        for leaf in leaves:
            res["attempted"] += 1
            t0 = time.perf_counter()
            try:
                with tracer.span(f"roster.{leaf}"):
                    results[leaf] = queries[leaf](spark, data).toPandas()
            except Exception as e:  # noqa: BLE001 - a failed leaf is counted
                res["failed"] += 1
                res["problems"].append(f"{leaf} raised {type(e).__name__}: {e}"[:300])
                continue
            times[leaf] = time.perf_counter() - t0
    counts["jvm.gc_s"] = jvm_gc_s(spark) - gc0

    with tracer.span("check"):
        for leaf, got in results.items():
            try:
                want = con.sql(oracles[leaf]).df()
            except Exception as e:  # noqa: BLE001 - an oracle error fails the leaf
                res["failed"] += 1
                res["problems"].append(f"{leaf} oracle raised {type(e).__name__}: {e}"[:300])
                continue
            err = compare_frames(got, want)
            if err:
                res["failed"] += 1
                res["problems"].append(f"{leaf} differs from its oracle: {err}"[:400])
    con.close()
    res["correct"] = res["failed"] == 0
    res["counts"] = counts
    res["e2e"] = {
        "setup_s": metric(setup_s, "s"),
        "roster_s": metric(sum(times.values()) if len(times) == len(leaves) else float("nan"), "s"),
    }
    return res
