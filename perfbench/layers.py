"""Per-layer metrics from a traced run: span self times plus the Spark
jobs the event log attributes to each span.

Every traced run emits the same set: the CDC, pipeline and roster
layers plus the JVM and tracing metrics. A traced run of a CDC workload
also runs a batch tail after its own window (``run.TAILS``), so one
traced run of each CDC workload covers every layer; a layer the run
does not reach reads 0. Times and job counts are per operation of the
layer's scope (per epoch, per GET, per rebuild, per pass) so runs of
different length compare; sizes are per change event or per run as
named.
"""

from __future__ import annotations

from collections import defaultdict

from common import metric, read_event_log

STAGES = ["clean_marketo", "clean_stripe", "clean_zendesk", "source_matches",
          "mapping", "entity_map", "attribute_tables", "summary", "customer"]

# metric name -> unit, in output order, per kind of workload
CDC = {
    "apply.self_s": "s",
    "apply.jobs_per_epoch": "count",
    "apply.self_jobs": "count",
    "stream.self_s": "s",
    "stream.trigger_overhead_s": "s",
    "table.merge_lsn_s": "s",
    "table.merge_lsn_jobs": "count",
    "table.touched_bucket_frac": "ratio",
    "table.bytes_written_per_event": "B",
    "table.shuffle_bytes_per_event": "B",
    "table.spill_bytes": "B",
    "table.maintain_s": "s",
    "table.compact_bytes_rewritten": "B",
    "table.files_live": "count",
    "table.snapshots_live": "count",
    "lineage.append_s": "s",
    "table.read_point_self_s": "s",
    "table.read_point_jobs": "count",
    "table.read_point_files": "count",
    "get.collect_s": "s",
    "get.jobs": "count",
    "ivm.refresh_s": "s",
    "ivm.refresh_jobs": "count",
    "ivm.changed_buckets": "count",
    "joinview.refresh_s": "s",
    "joinview.refresh_jobs": "count",
}
PIPELINE = {
    "pipeline.rebuild_s": "s",
    "pipeline.run_self_s": "s",
    **{f"pipeline.{st}_{k}": u for st in STAGES for k, u in (("s", "s"), ("jobs", "count"))},
    "pipeline.python_udf_s": "s",
    "pipeline.shuffle_bytes": "B",
    "pipeline.edges": "count",
    "pipeline.customers": "count",
}
COMMON = {
    "jvm.gc_s": "s",
    "jvm.heap_peak_mb": "MB",
    "trace.unattributed_jobs": "count",
    "trace.unaccounted_frac": "ratio",
    "trace.overhead_frac": "ratio",
}


def _leaves() -> list[str]:
    from bench import BENCH_QUERIES

    return list(BENCH_QUERIES)


def units() -> dict[str, str]:
    """The per-layer metrics every traced run emits."""
    roster = {"roster.pass_s": "s"}
    for q in _leaves():
        roster.update({f"roster.{q}_s": "s", f"roster.{q}_jobs": "count"})
    return {**CDC, **PIPELINE, **roster, **COMMON}


# span name -> (time metric, job metric, scope). A span's time metric is
# its self time (its duration minus its child spans'), its job metric
# the jobs started directly under it; both per operation of the scope.
_SPAN_METRICS = {
    "apply_batch": ("apply.self_s", "apply.self_jobs", "epoch"),
    "stream": ("stream.self_s", None, "epoch"),
    "merge_lsn": ("table.merge_lsn_s", "table.merge_lsn_jobs", "epoch"),
    "maybe_maintain": ("table.maintain_s", None, "epoch"),
    "lineage.append": ("lineage.append_s", None, "epoch"),
    "ivm.refresh": ("ivm.refresh_s", "ivm.refresh_jobs", "epoch"),
    "joinview.refresh": ("joinview.refresh_s", "joinview.refresh_jobs", "epoch"),
    "read_point": ("table.read_point_self_s", None, "get"),
    "get": ("get.collect_s", None, "get"),
    "rebuild": ("pipeline.run_self_s", None, "rebuild"),
    **{f"pipeline.{st}": (f"pipeline.{st}_s", f"pipeline.{st}_jobs", "rebuild")
       for st in STAGES},
}


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def per_layer(tracer, res: dict, event_log: str) -> dict:
    """``res`` is the run's merged result; its windows are the spans named
    ``timed`` (the workload's own, then its tail's if it has one)."""
    span_metrics = dict(_SPAN_METRICS)
    span_metrics.update(
        {f"roster.{q}": (f"roster.{q}_s", f"roster.{q}_jobs", "pass") for q in _leaves()})
    spans = {s.sid: s for s in tracer.spans}
    selfs = tracer.self_times()
    windows = tracer.named("timed")
    in_window = {
        sid for sid, s in spans.items()
        if any(s.t0 >= w.t0 and s.t1 <= w.t1 for w in windows)
    }
    ops = {
        scope: len([s for s in tracer.named(name) if s.sid in in_window])
        for scope, name in (("epoch", "apply_batch"), ("get", "get"), ("rebuild", "rebuild"))
    }
    ops["pass"] = 1

    def per(total: float, scope: str) -> float:
        return total / ops[scope] if ops[scope] else 0.0

    jobs = read_event_log(event_log)
    direct_jobs: dict[int, int] = defaultdict(int)
    unattributed = 0
    for j in jobs:
        if j.span is None or j.span not in spans:
            unattributed += 1
        else:
            direct_jobs[j.span] += 1

    def under(job, name: str) -> bool:
        sid = job.span if job.span in spans else None
        while sid is not None:
            if spans[sid].name == name:
                return True
            sid = spans[sid].parent
        return False

    out = defaultdict(float)
    emitted = []
    for name, (tm, jm, scope) in span_metrics.items():
        sids = [s.sid for s in tracer.named(name) if s.sid in in_window]
        emitted += [(spans[s].t0, spans[s].t1) for s in sids]
        out[tm] = per(sum(selfs[s] for s in sids), scope)
        if jm:
            out[jm] = per(sum(direct_jobs[s] for s in sids), scope)
    window_jobs = [j for j in jobs if j.span in in_window]
    out["apply.jobs_per_epoch"] = per(
        sum(1 for j in window_jobs if under(j, "apply_batch")), "epoch"
    )
    out["table.read_point_jobs"] = per(
        sum(1 for j in window_jobs if under(j, "read_point")), "get"
    )
    out["get.jobs"] = per(sum(1 for j in window_jobs if under(j, "get")), "get")
    merge_jobs = [j for j in window_jobs if under(j, "merge_lsn")]
    events = res["counts"].get("events", 0)
    if events:
        out["table.bytes_written_per_event"] = sum(j.bytes_written for j in merge_jobs) / events
        out["table.shuffle_bytes_per_event"] = sum(j.shuffle_bytes for j in merge_jobs) / events
    out["table.spill_bytes"] = sum(j.spill_bytes for j in merge_jobs)
    out["table.compact_bytes_rewritten"] = sum(
        j.bytes_written for j in window_jobs if under(j, "maybe_maintain")
    )
    rebuilds = [s for s in tracer.named("rebuild") if s.sid in in_window]
    out["pipeline.rebuild_s"] = per(sum(s.dur for s in rebuilds), "rebuild")
    out["roster.pass_s"] = sum(
        spans[sid].dur for sid in in_window if spans[sid].name.startswith("roster."))
    rebuild_jobs = [j for j in window_jobs if under(j, "rebuild")]
    out["pipeline.python_udf_s"] = per(sum(j.python_ms for j in rebuild_jobs) / 1000.0, "rebuild")
    out["pipeline.shuffle_bytes"] = per(sum(j.shuffle_bytes for j in rebuild_jobs), "rebuild")
    out.update(res["counts"])
    n_ops = ops["epoch"] or ops["rebuild"] or ops["pass"]
    out["jvm.gc_s"] = out["jvm.gc_s"] / n_ops if n_ops else 0.0
    out["trace.unattributed_jobs"] = unattributed
    span_s = sum(w.dur for w in windows)
    # the share of the timed windows that no emitted span covers
    out["trace.unaccounted_frac"] = 1.0 - _union(emitted) / span_s if span_s else 0.0
    # the share of the timed windows the tracing spent on its own behalf
    out["trace.overhead_frac"] = sum(
        b - a for a, b in tracer.costs if any(a >= w.t0 and b <= w.t1 for w in windows)
    ) / span_s if span_s else 0.0
    return {k: metric(out[k], u) for k, u in units().items()}
