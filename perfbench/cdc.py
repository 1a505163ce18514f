"""The two CDC workloads: a change stream generated from the seed,
staged as one parquet file per epoch, applied through ``CDCApplier``,
with a serving client issuing ``LakeTable.read_point`` GETs between
writes.

bulk_backfill
    Closed loop over a staged backlog of dense epochs, each pass a
    Structured Streaming query (``CDCApplier.stream``: readStream ->
    foreachBatch -> apply_batch, availableNow, one file per trigger)
    resumed from the same checkpoint. Copy-on-write, partition-grain
    lineage, maintenance every few epochs. GETs follow each pass.
trickle_serve
    Closed loop of small epochs through ``apply_batch`` on a preloaded
    table with many more buckets than keys per epoch (touched-bucket
    pruning), each refreshing a per-repo ``IncrementalRollup`` and a
    repo-dim ``IncrementalJoinView``; GETs follow every epoch.

Correctness: the final live state equals the last-writer-wins closed
form over the applied events, computed in DuckDB and compared per row
on (repo, path, sha256(content)); every GET equals the closed form as
of the epoch it followed; on trickle_serve both views equal their
recomputation from the closed form.
"""

from __future__ import annotations

import hashlib
import os
import random
import time
from statistics import median

from common import jvm_gc_s, metric, pct

SCHEMA = (
    "lsn long, op string, repo string, path string, commit string, "
    "lang string, content string, source_connector string, ts timestamp"
)
KEYS = ["repo", "path"]
PASS_TIMEOUT_S = 90  # a stuck pass fails its epochs instead of hanging the run

# repos x paths is the key space; repo ids are zipf-skewed by the
# generator, 5% of events are deletes
SIZES = {
    # epochs: the staged files, the first ones the warm-up; enough for a
    # 9 s run at three times the speed measured when sized. A bulk pass
    # (4 epochs and its GETs, about 19 s) outlasts a 9 s window, so every
    # run times the same work: with 2-epoch passes a run timed one pass
    # or two depending on the host's speed that minute.
    "bulk_backfill": {
        "full": dict(repos=200, paths=100, buckets=32, epoch_events=20_000,
                     epochs=2 + 12, warm_epochs=2, per_pass=4, gets=40, warm_gets=5,
                     maintenance_every=2),
        "tiny": dict(repos=10, paths=20, buckets=4, epoch_events=400,
                     epochs=2 + 6, warm_epochs=2, per_pass=2, gets=2, warm_gets=1,
                     maintenance_every=2),
    },
    "trickle_serve": {
        "full": dict(repos=200, paths=100, buckets=32, preload_events=10_000,
                     epoch_events=8, epochs=4, gets=40, warm_gets=5, maintenance_every=8),
        "tiny": dict(repos=10, paths=20, buckets=8, preload_events=600,
                     epoch_events=8, epochs=40, gets=2, warm_gets=1, maintenance_every=4),
    },
}


# --- inputs -------------------------------------------------------------------


LANGS = ["Python", "py", "PY", "python", "Java", "java", "JAVA", "Go", "go",
         "golang", "Rust", "rs", "rust", "C++", "cpp", "CPP"]
EXTS = ["py", "java", "go", "rs", "cpp"]


class Events:
    """The change stream, generated in DuckDB from the seed and staged as
    one parquet file per epoch; also the last-writer-wins closed form
    over it, the independent oracle for the table, the GETs and the
    views.

    Epoch 0 holds ``first`` events and every later one ``each``; LSNs
    run from 0 in epoch order. A repo id is ``floor(repos * u^3)`` for a
    uniform hash ``u`` (zipf-like: repo 0 is hottest), the path uniform
    over ``paths``; an event is an insert for a key's first version,
    else a delete with probability 5%, else an update. Deletes carry no
    content. The benchmark owns this generator, so its inputs do not
    change with the engine's code."""

    def __init__(self, out_dir: str, seed: int, repos: int, paths: int,
                 first: int, each: int, n_files: int):
        import duckdb

        self.con = duckdb.connect()
        self.n_files = n_files
        n = first + each * (n_files - 1)
        langs = ", ".join(f"'{x}'" for x in LANGS)
        exts = ", ".join(f"'{x}'" for x in EXTS)
        h = f"sha256('{seed}|' || repo || '|' || path || '|' || version)"
        self.con.execute(f"""
            create temp table events as
            with ids as (
                select range as lsn,
                       cast(floor({repos} * pow((hash(range, {seed}) % 1000000) / 1e6, 3))
                            as bigint) as repo_id,
                       cast(hash(range, {seed + 1}) % {paths} as bigint) as path_id,
                       (hash(range, {seed + 2}) % 10000) / 1e4 as del_u,
                       cast(hash(range, {seed + 3}) % 3 as bigint) as conn
                from range({n})
            ), versioned as (
                select *,
                       row_number() over (partition by repo_id, path_id order by lsn) - 1
                           as version,
                       format('org{{}}/repo{{}}', repo_id % 7, repo_id) as repo,
                       format('src/pkg{{}}/mod_{{}}.{{}}', path_id % 13, path_id,
                              [{exts}][path_id % 5 + 1]) as path
                from ids
            ), typed as (
                select *, case when version = 0 then 'insert'
                               when del_u < 0.05 then 'delete' else 'update' end as op
                from versioned
            )
            select lsn, op, repo, path,
                   substr(sha256(repo || '@' || path || '@' || version), 1, 40) as "commit",
                   [{langs}][cast(hash(repo_id, path_id, {seed}) % {len(LANGS)} as bigint) + 1] as lang,
                   case when op = 'delete' then null
                        else 'def f_' || substr({h}, 1, 8) || '():' || chr(10)
                             || '    return ''' || repeat(substr({h}, 9, 16), 4)
                             || '''  # v' || version end as content,
                   'conn_' || chr(cast(97 + conn as integer)) as source_connector,
                   to_timestamp(1700000000 + lsn) as ts,
                   case when lsn < {first} then 0 else 1 + (lsn - {first}) // {each} end as f
            from typed
        """)
        self.files = []
        t = time.time() - n_files - 10
        for i in range(n_files):
            path = os.path.join(out_dir, f"epoch-{i:05d}.parquet")
            self.con.execute(
                f"copy (select * exclude (f) from events where f = {i} order by lsn) "
                f"to '{path}' (format parquet)"
            )
            # a file stream source takes the oldest files first
            os.utime(path, (t + i, t + i))
            self.files.append(path)

    def live_rows(self, n_files: int) -> list[tuple]:
        """(repo, path, sha256(content)) of the live keys after the first
        ``n_files`` epochs; also leaves them, with their content, in the
        temp table ``live``."""
        self.con.execute(f"""
            create or replace temp table live as
            select repo, path, content
            from (select *, row_number() over (partition by repo, path order by lsn desc) rn
                  from events where f < {n_files})
            where rn = 1 and op <> 'delete'
        """)
        return sorted(self.con.sql("select repo, path, sha256(content) from live").fetchall())

    def keys(self) -> list[tuple]:
        """Every key the stream writes."""
        return sorted(self.con.sql("select distinct repo, path from events").fetchall())

    def recent_keys(self, limit: int, seed: int) -> list[list[tuple]]:
        """Per epoch, up to ``limit`` of the keys it writes (a seed-chosen
        subset): the pool the client's recent-key GETs draw from."""
        by_file: list[list[tuple]] = [[] for _ in range(self.n_files)]
        for f, repo, path in self.con.sql(f"""
            select f, repo, path from (
                select f, repo, path,
                       row_number() over (partition by f order by hash(repo, path, {seed})) rn
                from (select distinct f, repo, path from events))
            where rn <= {limit} order by f, repo, path
        """).fetchall():
            by_file[f].append((repo, path))
        return by_file

    def history(self, keys: set[tuple]) -> dict[tuple, list[tuple]]:
        """Every event of ``keys``: key -> [(lsn, op, content)] by lsn."""
        self.con.execute("create or replace temp table k (repo varchar, path varchar)")
        self.con.executemany("insert into k values (?, ?)", sorted(keys))
        out: dict[tuple, list[tuple]] = {k: [] for k in keys}
        for repo, path, lsn, op, content in self.con.sql("""
            select e.repo, e.path, e.lsn, e.op, e.content
            from events e join k using (repo, path) order by e.lsn
        """).fetchall():
            out[(repo, path)].append((lsn, op, content))
        return out

    def max_lsn(self, n_files: int) -> int:
        return self.con.sql(f"select max(lsn) from events where f < {n_files}").fetchone()[0]

    def close(self) -> None:
        self.con.close()


def _sha(s: str | None) -> str | None:
    return None if s is None else hashlib.sha256(s.encode()).hexdigest()


def expected_get(hist: list[tuple], cutoff: int):
    """What a GET must return as of ``cutoff``: None for a key never
    written, ('deleted',) for a tombstone, else ('live', sha256)."""
    last = None
    for lsn, op, content in hist:
        if lsn > cutoff:
            break
        last = (op, content)
    if last is None:
        return None
    return ("deleted",) if last[0] == "delete" else ("live", _sha(last[1]))


# --- the client ---------------------------------------------------------------


class Client:
    """Serving client: GETs on seed-chosen keys, three in four from the
    keys the last write touched. Results are checked after the run."""

    def __init__(self, tracer, table, rng: random.Random, universe: list[tuple],
                 trace: bool):
        self.tracer = tracer
        self.table = table
        self.rng = rng
        self.universe = universe
        self.trace = trace
        self.attempted = 0
        self.latencies: list[float] = []
        self.results: list[tuple] = []  # (key, cutoff_files, observed)
        self.failed = 0
        self.problems: list[str] = []
        self.files_read: list[int] = []

    def gets(self, n: int, recent: list[tuple], applied_files: int) -> None:
        for _ in range(n):
            self.attempted += 1
            pool = recent if recent and self.rng.random() < 0.75 else self.universe
            key = self.rng.choice(pool)
            t0 = time.perf_counter()
            try:
                with self.tracer.span("get"):
                    df = self.table.read_point({"repo": key[0], "path": key[1]})
                    rows = df.select("content", "__deleted").collect()
            except Exception as e:  # noqa: BLE001 - counted as a failed GET
                self.failed += 1
                self.problems.append(f"GET {key} raised {type(e).__name__}: {e}"[:300])
                continue
            self.latencies.append(time.perf_counter() - t0)
            if self.trace:
                with self.tracer.cost():
                    self.files_read.append(len(df.inputFiles()))
            if not rows:
                seen = None
            elif len(rows) > 1:
                seen = ("duplicate", len(rows))
            elif rows[0]["__deleted"]:
                seen = ("deleted",)
            else:
                seen = ("live", _sha(rows[0]["content"]))
            self.results.append((key, applied_files, seen))

    def warmed(self) -> None:
        """Drop the timings of the GETs made so far (set-up warm-up);
        their results are still checked."""
        self.latencies.clear()
        self.files_read.clear()

    def check(self, oracle: Events) -> int:
        hist = oracle.history({k for k, _, _ in self.results})
        cutoffs = {n: oracle.max_lsn(n) for n in {n for _, n, _ in self.results}}
        bad = 0
        for key, n, seen in self.results:
            want = expected_get(hist[key], cutoffs[n])
            if seen != want:
                bad += 1
                self.problems.append(f"GET {key} after {n} epochs: {seen} != {want}")
        return bad


# --- shared -----------------------------------------------------------------------


def _state_rows(applier) -> list[tuple]:
    from pyspark.sql import functions as F

    rows = applier.state().select("repo", "path", F.sha2("content", 256)).collect()
    return sorted(tuple(r) for r in rows)


def _instrument(tracer, applier, trace: bool, counts: dict) -> dict:
    """Span the applier's public calls on the instances; in a traced run
    also record how many buckets each merge rewrote."""
    lat = {"epoch": [], "commit": []}
    table = applier.table
    merge_lsn, apply_batch = table.merge_lsn, applier.apply_batch
    entry = {}

    def spanned_apply(batch, epoch_id, *a, **k):
        with tracer.span("apply_batch"):
            entry["t0"] = time.perf_counter()
            out = apply_batch(batch, epoch_id, *a, **k)
        lat["epoch"].append(time.perf_counter() - entry["t0"])
        return out

    def spanned_merge(*a, **k):
        if trace:
            with tracer.cost():
                before = table._read_manifest()["files"]
        with tracer.span("merge_lsn"):
            sid = merge_lsn(*a, **k)
        lat["commit"].append(time.perf_counter() - entry["t0"])
        if trace:
            with tracer.cost():
                after = table._read_manifest()["files"]
            changed = {b for b in set(before) | set(after) if before.get(b) != after.get(b)}
            counts.setdefault("touched", []).append(len(changed) / table.bucket_count())
        return sid

    applier.apply_batch = spanned_apply
    table.merge_lsn = spanned_merge
    tracer.wrap(applier, "maybe_maintain", "maybe_maintain")
    tracer.wrap(applier.lineage, "append", "lineage.append")
    tracer.wrap(table, "read_point", "read_point")
    return lat


def _finish(res: dict, applier, oracle: Events, client: Client, applied: int,
            counts: dict) -> None:
    """Gate the final state and the GETs; fill the table counts."""
    want = oracle.live_rows(applied)
    got = _state_rows(applier)
    if got != want:
        res["failed"] += 1
        missing, extra = set(want) - set(got), set(got) - set(want)
        res["problems"].append(
            f"final state differs from the closed form: {len(missing)} rows missing, "
            f"{len(extra)} unexpected, e.g. {sorted(missing)[:1]} / {sorted(extra)[:1]}"
        )
    res["failed"] += client.check(oracle) + client.failed
    res["problems"] += client.problems
    report = applier.table.ops_report()
    counts["table.files_live"] = report["data_files"]
    counts["table.snapshots_live"] = report["snapshots_retained"]
    if counts.get("touched"):
        counts["table.touched_bucket_frac"] = median(counts.pop("touched"))
    if client.files_read:
        counts["table.read_point_files"] = median(client.files_read)


def _e2e(setup_s, lat, events, wall, client) -> dict:
    nan = float("nan")
    gets = client.latencies
    return {
        "setup_s": metric(setup_s, "s"),
        "events_per_s": metric(events / wall if wall else nan, "events/s"),
        "epoch_s_p50": metric(median(lat["epoch"]) if lat["epoch"] else nan, "s"),
        "commit_s_p50": metric(median(lat["commit"]) if lat["commit"] else nan, "s"),
        "get_s_p50": metric(median(gets) if gets else nan, "s"),
        "get_s_p75": metric(pct(gets, 0.75) if gets else nan, "s"),
    }


# --- bulk_backfill ------------------------------------------------------------


def run_bulk(spark, tracer, args, work: str, t_start: float) -> dict:
    from dbt_customer360_spark.streaming.apply import CDCApplier

    size = SIZES["bulk_backfill"][args.size]
    trace = bool(args.trace)
    rng = random.Random(args.seed)
    counts: dict = {}
    with tracer.span("setup"):
        staged = os.path.join(work, "staged")
        src = os.path.join(work, "source")
        os.makedirs(src)
        os.makedirs(staged)
        oracle = Events(
            staged, args.seed, size["repos"], size["paths"],
            size["epoch_events"], size["epoch_events"], size["epochs"],
        )
        files = oracle.files
        applier = CDCApplier(
            spark, os.path.join(work, "repos"), os.path.join(work, "lineage"),
            buckets=size["buckets"], assume_dense_batches=True,
            maintenance_every=size["maintenance_every"], lineage_grain="partition",
        )
        lat = _instrument(tracer, applier, trace, counts)
        client = Client(tracer, applier.table, rng, oracle.keys(), trace)
        recent = oracle.recent_keys(256, args.seed)
        ckpt = os.path.join(work, "checkpoint")
        applied = 0

        def one_pass(n: int) -> float:
            nonlocal applied
            for f in files[applied:applied + n]:
                os.link(f, os.path.join(src, os.path.basename(f)))
            t0 = time.perf_counter()
            with tracer.span("stream"):
                q = applier.stream(src, ckpt, schema=SCHEMA, max_files_per_trigger=1)
                if not q.awaitTermination(PASS_TIMEOUT_S):
                    q.stop()
                    raise TimeoutError(f"stream pass still running after {PASS_TIMEOUT_S} s")
            wall = time.perf_counter() - t0
            if q.exception() is not None:
                raise RuntimeError(f"streaming query failed: {q.exception()}")
            progress.extend(q.recentProgress)
            applied += n
            return wall

        progress: list = []
        # warm-up pass: JIT, codegen, the first table commit and the
        # first maintenance
        one_pass(size["warm_epochs"])
        client.gets(size["warm_gets"], sum(recent[:applied], []), applied)
        client.warmed()
        lat["epoch"].clear()
        lat["commit"].clear()
        progress.clear()
    setup_s = time.perf_counter() - t_start

    res = {"attempted": 0, "failed": 0, "problems": []}
    events = 0
    wall = 0.0
    gc0 = jvm_gc_s(spark)
    with tracer.span("timed"):
        deadline = time.perf_counter() + args.seconds
        while applied < len(files) and time.perf_counter() < deadline:
            n = min(size["per_pass"], len(files) - applied)
            first = applied
            try:
                wall += one_pass(n)
            except Exception as e:  # noqa: BLE001 - a failed pass fails its epochs
                res["attempted"] += n
                res["failed"] += n
                res["problems"].append(f"stream pass raised {type(e).__name__}: {e}"[:300])
                break
            res["attempted"] += n
            events += n * size["epoch_events"]
            client.gets(size["gets"], sum(recent[first:applied], []), applied)
    res["attempted"] += client.attempted
    counts["jvm.gc_s"] = jvm_gc_s(spark) - gc0
    if applied == len(files) and time.perf_counter() < deadline:
        res["problems"].append("backlog exhausted before the deadline")
    with tracer.span("check"):
        _finish(res, applier, oracle, client, applied, counts)
    oracle.close()
    triggers = [p for p in progress if "addBatch" in p.durationMs]
    if triggers:
        counts["stream.trigger_overhead_s"] = median(
            [(p.durationMs["triggerExecution"] - p.durationMs["addBatch"]) / 1000.0
             for p in triggers]
        )
    counts["events"] = events
    res["counts"] = counts
    res["correct"] = res["failed"] == 0
    res["e2e"] = _e2e(setup_s, lat, events, wall, client)
    return res


# --- trickle_serve ----------------------------------------------------------------


def run_trickle(spark, tracer, args, work: str, t_start: float) -> dict:
    from dbt_customer360_spark.lake.ivm import AggSpec, IncrementalRollup
    from dbt_customer360_spark.lake.joinview import IncrementalJoinView
    from dbt_customer360_spark.lake.table import LakeTable
    from dbt_customer360_spark.session import local_df
    from dbt_customer360_spark.streaming.apply import CDCApplier

    size = SIZES["trickle_serve"][args.size]
    trace = bool(args.trace)
    rng = random.Random(args.seed)
    counts: dict = {}
    live = "not coalesce(__deleted, false)"
    with tracer.span("setup"):
        staged = os.path.join(work, "staged")
        os.makedirs(staged)
        oracle = Events(
            staged, args.seed, size["repos"], size["paths"],
            size["preload_events"], size["epoch_events"], size["epochs"],
        )
        files = oracle.files
        applier = CDCApplier(
            spark, os.path.join(work, "repos"), os.path.join(work, "lineage"),
            buckets=size["buckets"], maintenance_every=size["maintenance_every"],
        )
        universe = oracle.keys()
        recent = oracle.recent_keys(256, args.seed)
        repos = sorted({r for r, _ in universe})
        dim = LakeTable(spark, os.path.join(work, "repo_dim"), buckets=4)
        dim.overwrite(
            local_df(
                spark,
                [(r, *dim_payload(r)) for r in repos],
                "repo string, owner string, tier int",
            ),
            ["repo"],
        )
        rollup = IncrementalRollup(
            applier.table,
            LakeTable(spark, os.path.join(work, "rollup"), buckets=min(size["buckets"], 16)),
            ["repo"],
            [AggSpec("n_paths", "count"),
             AggSpec("total_content_chars", "sum", "coalesce(length(content), 0)")],
            cursor_path=os.path.join(work, "rollup", "cursor.json"),
            row_filter=live,
        )
        view = IncrementalJoinView(
            applier.table, dim,
            LakeTable(spark, os.path.join(work, "joinview"), buckets=size["buckets"]),
            KEYS, "repo", "repo", ["owner", "tier"],
            os.path.join(work, "joinview", "cursors"),
            fact_row_filter=live,
        )

        class Views:
            """The per-epoch refresh hook, both maintainers behind one
            ``refresh`` as ``cdc_replay_job --rollup --join-view`` wires it."""

            def refresh(self):
                rollup.refresh()
                view.refresh()

        applier.rollup = Views()
        lat = _instrument(tracer, applier, trace, counts)
        tracer.wrap(rollup, "refresh", "ivm.refresh")
        tracer.wrap(view, "refresh", "joinview.refresh")
        if trace:
            _count_changed_buckets(tracer, rollup, applier.table, counts)
        client = Client(tracer, applier.table, rng, universe, trace)

        def epoch(i: int) -> None:
            batch = spark.read.schema(SCHEMA).parquet(files[i])
            applier.apply_batch(batch, i)

        epoch(0)  # preload and the views' first build: the warm-up epoch
        applied = 1
        client.gets(size["warm_gets"], recent[0], applied)
        client.warmed()
        lat["epoch"].clear()
        lat["commit"].clear()
        counts.pop("touched", None)
        counts.pop("changed", None)
    setup_s = time.perf_counter() - t_start

    res = {"attempted": 0, "failed": 0, "problems": []}
    gc0 = jvm_gc_s(spark)
    with tracer.span("timed"):
        deadline = time.perf_counter() + args.seconds
        while applied < len(files) and time.perf_counter() < deadline:
            res["attempted"] += 1
            try:
                epoch(applied)
            except Exception as e:  # noqa: BLE001 - a failed epoch is counted
                res["failed"] += 1
                res["problems"].append(f"epoch {applied} raised {type(e).__name__}: {e}"[:300])
                break
            applied += 1
            client.gets(size["gets"], recent[applied - 1], applied)
    res["attempted"] += client.attempted
    counts["jvm.gc_s"] = jvm_gc_s(spark) - gc0
    if applied == len(files) and time.perf_counter() < deadline:
        res["problems"].append("backlog exhausted before the deadline")
    with tracer.span("check"):
        _finish(res, applier, oracle, client, applied, counts)
        res["failed"] += _check_views(res, oracle, applied, rollup, view)
    oracle.close()
    if counts.get("changed"):
        counts["ivm.changed_buckets"] = median(counts.pop("changed"))
    counts["events"] = (applied - 1) * size["epoch_events"]
    res["counts"] = counts
    res["correct"] = res["failed"] == 0
    res["e2e"] = _e2e(setup_s, lat, counts["events"], sum(lat["epoch"]), client)
    return res


def dim_payload(repo: str) -> tuple[str, int]:
    """The repo dim's (owner, tier) for ``repo``."""
    h = int(hashlib.md5(repo.encode()).hexdigest()[:8], 16)
    return f"owner{h % 17}", h % 3


def _count_changed_buckets(tracer, rollup, table, counts: dict) -> None:
    """Traced runs: how many source buckets each rollup refresh folds
    (file lists that differ between the cursor's snapshot and the head)."""
    refresh = rollup.refresh

    def counted():
        with tracer.cost():
            frm, to = rollup.reader.position(), table.current_snapshot_id()
            if to > frm:
                a = table._read_manifest(frm)["files"] if frm else {}
                b = table._read_manifest(to)["files"]
                counts.setdefault("changed", []).append(
                    sum(1 for k in set(a) | set(b) if a.get(k) != b.get(k))
                )
        return refresh()

    rollup.refresh = counted


def _check_views(res: dict, oracle: Events, applied: int, rollup, view) -> int:
    """Both views against their recomputation from the closed form."""
    from pyspark.sql import functions as F

    live = oracle.live_rows(applied)
    con = oracle.con
    bad = 0
    want = sorted(con.sql(
        "select repo, count(*), sum(coalesce(length(content), 0)) from live group by repo"
    ).fetchall())
    got = sorted(
        (r["repo"], r["n_paths"], r["total_content_chars"])
        for r in rollup.read().collect()
    )
    if got != want:
        bad += 1
        res["problems"].append(f"rollup differs from its recomputation: {len(got)} vs {len(want)} groups")
    want = sorted((repo, path, sha, *dim_payload(repo)) for repo, path, sha in live)
    got = sorted(
        tuple(r) for r in view.read()
        .select("repo", "path", F.sha2("content", 256), "owner", "tier").collect()
    )
    if got != want:
        bad += 1
        res["problems"].append(f"join view differs from its recomputation: {len(got)} vs {len(want)} rows")
    return bad
