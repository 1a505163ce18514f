"""The identity_rebuild workload: ``Customer360Pipeline.run`` over the
repository's deterministic customer-360 fixtures, with every returned
table materialised.

The fixtures (``dbt_customer360_spark.fixtures``) are staged as one
parquet file per source in a seed-permuted row order before timing, so
the program receives only files. One rebuild is timed per run: it is
cold (the first in the process), as a nightly rebuild in a fresh job
is; a warm-up rebuild would double the run's length.

Correctness: the summary projection equals ``plans.pipeline_oracle``
rendered for the same number of persons and run on DuckDB, compared per
row.
"""

from __future__ import annotations

import hashlib
import os
import time

from common import jvm_gc_s, metric

SIZES = {"full": dict(persons=300), "tiny": dict(persons=40)}

# fixture function -> whether it takes the person count
SOURCES = {
    "marketo_leads": True,
    "stripe_customers": True,
    "zendesk_users": True,
    "zendesk_organizations": False,
    "zendesk_ticket_metrics": True,
}
# the stages run() calls, in order, as Customer360Pipeline methods
STAGES = ["clean_marketo", "clean_stripe", "clean_zendesk", "source_matches",
          "mapping", "entity_map", "attribute_tables", "summary", "customer"]
SUMMARY_COLS = ["customer360_id", "is_organization_header", "email", "phone",
                "extension", "full_name"]


def _stage(spark, work: str, seed: int, persons: int) -> dict[str, str]:
    """Write each fixture source to parquet, rows in a seed-permuted order."""
    from pyspark.sql import functions as F

    from dbt_customer360_spark import fixtures

    paths = {}
    for name, sized in SOURCES.items():
        make = getattr(fixtures, name)
        df = make(spark, persons) if sized else make(spark)
        path = os.path.join(work, "sources", name)
        (df.repartition(1)
           .sortWithinPartitions(F.xxhash64(F.lit(seed), *df.columns))
           .write.parquet(path))
        paths[name] = path
    return paths


def _canon(row) -> tuple:
    return tuple("" if v is None else str(v) for v in row)


def _oracle(persons: int) -> dict[str, tuple]:
    """The summary projection from the DuckDB transliteration, by id."""
    import duckdb

    from dbt_customer360_spark.plans import pipeline_oracle

    con = duckdb.connect()
    try:
        rows = con.sql(pipeline_oracle.render(persons)).fetchall()
    finally:
        con.close()
    out = {}
    for r in rows:
        out.setdefault(r[0], []).append(_canon(r))
    return {k: tuple(sorted(v)) for k, v in out.items()}


class _StageSpans:
    """Attribute a stage's work to it: the call itself, plus the later
    checkpoint or materialisation of every DataFrame it returned (the
    pipeline is lazy, so most of a stage's jobs run there)."""

    def __init__(self, tracer, pipe):
        self.tracer = tracer
        # id -> (stage, the DataFrame itself, kept so its id is not reused)
        self.owner: dict[int, tuple] = {}
        for name in STAGES:
            self._wrap(pipe, name)

    def _wrap(self, pipe, name: str) -> None:
        fn = getattr(pipe, name)

        def spanned(*a, **k):
            with self.tracer.span(f"pipeline.{name}"):
                out = fn(*a, **k)
            for df in (out.values() if isinstance(out, dict) else [out]):
                self.owner[id(df)] = (name, df)
            return out

        setattr(pipe, name, spanned)

    def around(self, df, fn):
        """Run ``fn()`` inside the span of the stage that returned ``df``."""
        if id(df) not in self.owner:
            return fn()
        with self.tracer.span(f"pipeline.{self.owner[id(df)][0]}"):
            return fn()


def run(spark, tracer, args, work: str, t_start: float) -> dict:
    from dbt_customer360_spark.pipeline import Customer360Pipeline

    size = SIZES[args.size]
    res = {"attempted": 1, "failed": 0, "problems": []}
    counts: dict = {}
    with tracer.span("setup"):
        paths = _stage(spark, work, args.seed, size["persons"])
        src = {k: spark.read.parquet(p) for k, p in paths.items()}
        pipe = Customer360Pipeline(spark)
        stages = _StageSpans(tracer, pipe)
        # the pipeline checkpoints a stage's output as soon as it returns
        frame = type(src["marketo_leads"])
        checkpoint = frame.localCheckpoint

        def spanned_checkpoint(df, *a, **k):
            return stages.around(df, lambda: checkpoint(df, *a, **k))

        frame.localCheckpoint = spanned_checkpoint
    setup_s = time.perf_counter() - t_start

    out = None
    rebuild_s = float("nan")
    gc0 = jvm_gc_s(spark)
    try:
        with tracer.span("timed"):
            t0 = time.perf_counter()
            with tracer.span("rebuild"):
                out = pipe.run(
                    src["marketo_leads"], src["stripe_customers"], src["zendesk_users"],
                    src["zendesk_organizations"],
                    zendesk_metrics_raw=src["zendesk_ticket_metrics"],
                )
                for k in sorted(out):
                    stages.around(
                        out[k], lambda df=out[k]: df.write.format("noop").mode("overwrite").save()
                    )
            rebuild_s = time.perf_counter() - t0
    except Exception as e:  # noqa: BLE001 - a failed rebuild is counted
        res["failed"] += 1
        res["problems"].append(f"rebuild raised {type(e).__name__}: {e}"[:300])
        out = None
    finally:
        frame.localCheckpoint = checkpoint
    counts["jvm.gc_s"] = jvm_gc_s(spark) - gc0

    with tracer.span("check"):
        if out is not None:
            want = _oracle(size["persons"])
            got: dict[str, list] = {}
            for r in out["customer360__summary"].select(*SUMMARY_COLS).collect():
                got.setdefault(r[0], []).append(_canon(r))
            got = {k: tuple(sorted(v)) for k, v in got.items()}
            if got != want:
                res["failed"] += 1
                diff = sorted(set(got) ^ set(want))[:2] or [
                    k for k in want if got.get(k) != want[k]][:2]
                res["problems"].append(
                    f"summary differs from pipeline_oracle ({_digest(got)} != "
                    f"{_digest(want)}), e.g. ids {diff}")
            counts["pipeline.edges"] = out["matches"].count()
            counts["pipeline.customers"] = len(got)
    res["correct"] = res["failed"] == 0
    res["counts"] = counts
    res["e2e"] = {"setup_s": metric(setup_s, "s"), "rebuild_s": metric(rebuild_s, "s")}
    return res


def _digest(by_id: dict) -> str:
    h = hashlib.sha256()
    for k in sorted(by_id):
        for row in by_id[k]:
            h.update("|".join(row).encode() + b"\n")
    return h.hexdigest()[:12]
