"""The three closed-loop workloads (one client, no extra threads).

Each workload drives the library through its public API only, times
every client operation, checks every result against the generator's
model outside the timed interval, and returns its end-to-end and
per-layer metrics. Shared client bookkeeping lives in :class:`Client`.
"""

from __future__ import annotations

import os
import random
import time
from datetime import datetime, timedelta, timezone

from perfbench import gen
from perfbench.harness import (
    TAIL_BEYOND,
    SparkCounters,
    SparkWork,
    Tracer,
    added,
    data_files,
    dir_bytes,
    inodes,
    median,
    rmtree,
    tail,
)

#: input sizes (rows) — recorded in every run's output
SIZES = {
    "sync_batches": {"rows": 5_000},
    "store_cdf_mix": {"rows": 20_000, "groups": 64},
}

class Client:
    """Closed-loop client bookkeeping: timing, failures, counters.

    In a traced run the workload traces every other round of its loop
    (spans, status-store counters) and runs the rounds between with
    tracing off, so the traced run measures its own overhead against
    untraced rounds of the same ops."""

    def __init__(self, spark, work: str, trace: bool):
        self.spark = spark
        self.work = work
        self.trace = trace
        self.tracer = Tracer()
        self.counters = SparkCounters(spark) if trace else None
        self.iteration = -1
        self.traced = False
        self.attempted = 0
        self.failures: list[str] = []
        self.samples: dict[str, list[float]] = {}
        # kind -> group (an op, or a strategy's store) -> samples
        self.groups: dict[str, dict[str, list[float]]] = {}
        self.by_tracing: dict[bool, dict[str, list[float]]] = {
            True: {}, False: {}}
        self.work_by_op: dict[str, list[SparkWork]] = {}
        self.fs_by_op: dict[str, list[tuple[int, int]]] = {}
        self.roots: list[str] = []
        self.bytes_added = 0
        self.logical_bytes = 0
        self.rows_done = 0
        self.timed_s = 0.0
        self.last_end = 0.0  # perf_counter when the last op returned

    def next_iteration(self) -> None:
        self.iteration += 1

    def trace_round(self, n: int) -> None:
        """Trace round ``n`` of the loop when this is a traced run. Spans
        record for the whole round, so work the library runs on its own
        threads between client ops (a stream's micro-batch) is kept."""
        self.traced = self.trace and n % 2 == 0
        self.tracer.enabled = self.traced

    # -- bookkeeping ------------------------------------------------------

    def fail(self, op: str, detail: str) -> None:
        self.failures.append(f"{op}: {detail}")

    def check(self, op: str, got, want) -> bool:
        if got != want:
            self.fail(op, f"mismatch: got {str(got)[:200]} "
                          f"want {str(want)[:200]}")
            return False
        return True

    def sample(self, kind: str, ms: float, group: str = "") -> None:
        self.samples.setdefault(kind, []).append(ms)
        if group:
            self.groups.setdefault(kind, {}).setdefault(group, []).append(ms)

    # -- one timed operation ----------------------------------------------

    def op(self, name: str, fn, kind: str = "", walk: bool = True,
           group: str = ""):
        """Run ``fn`` as one timed client op. Returns ``(result, ms)``;
        ``(None, None)`` when it raised (counted as a failure). Counters
        and filesystem walks happen outside the timed interval; with
        ``walk=False`` the caller walks the store roots itself
        (:meth:`account`), so the op can be followed at once by the
        next one. ``group`` (default: ``name``) is the op's group
        within ``kind`` (see :meth:`latency`)."""
        self.attempted += 1
        traced = self.traced
        before = inodes(self.roots) if walk else None
        mark = self.counters.mark() if traced else None
        self.tracer.op_id = self.iteration
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name):
                out = fn()
        except Exception as exc:  # the op failed: count it, keep going
            self.fail(name, f"{type(exc).__name__}: {str(exc)[:300]}")
            return None, None
        self.last_end = time.perf_counter()
        ms = (self.last_end - t0) * 1000.0
        if kind:
            self.timed_s += ms / 1000.0
            self.sample(kind, ms, group or name)
            self.by_tracing[traced].setdefault(name, []).append(ms)
        if traced:
            w = self.counters.since(mark)
            w.driver_gap_ms = ms - w.job_busy_ms
            self.work_by_op.setdefault(name, []).append(w)
        if walk:
            self.account(name, before)
        self.sample("op." + name, ms)
        return out, ms

    def account(self, name: str, before: dict, roots=None) -> None:
        """Files and bytes added under ``roots`` (default: every store
        root) since the ``before`` walk, charged to op ``name``."""
        fs = added(before, inodes(self.roots if roots is None else roots))
        self.bytes_added += fs[1]
        self.fs_by_op.setdefault(name, []).append(fs)

    # -- reporting --------------------------------------------------------

    def latency(self, kind: str, out: dict, info: dict) -> None:
        """``<kind>_ms``: the mean over the kind's groups of each
        group's median latency. The groups of a kind differ in cost
        (a merge's epoch takes twice an update's), so the median of
        all samples sits on the boundary between slow and fast groups
        and jumps between them from run to run; each group's median
        does not. ``info`` gets the per-group medians, the median of
        all samples and the tail (highest percentile with ten samples
        beyond it) when there are enough samples to form one."""
        xs = self.samples.get(kind, [])
        groups = self.groups.get(kind, {})
        if not xs or not groups:
            raise RuntimeError(f"no {kind} samples were taken")
        out[f"{kind}_ms"] = (sum(median(v) for v in groups.values())
                             / len(groups))
        info[f"{kind}_groups"] = {
            g: f"p50 {median(v):.1f} ms of n={len(v)}"
            for g, v in sorted(groups.items())}
        info[f"{kind}_p50_all"] = f"{median(xs):.1f} ms of n={len(xs)}"
        t = tail(xs)
        info[f"{kind}_tail"] = (
            f"p{t[1]:.1f} = {t[0]:.1f} ms of n={len(xs)}" if t else
            f"not formed: n={len(xs)}, needs {2 * TAIL_BEYOND + 1}")

    def spark_work(self, names) -> tuple[SparkWork, int]:
        tot, n = SparkWork(), 0
        for name in names:
            for w in self.work_by_op.get(name, []):
                tot.add(w)
                n += 1
        return tot, n

    def span_ms_per(self, span: str, per: int) -> float:
        t = self.tracer.totals().get(span)
        return t["ms"] / per if t and per else 0.0

    def self_times(self, per: int) -> dict[str, float]:
        """Self ms per traced iteration, by layer (span-name prefix)."""
        out: dict[str, float] = {}
        for name, t in self.tracer.totals().items():
            layer = name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + t["self_ms"]
        return {f"self.{k}_ms": v / max(1, per) for k, v in out.items()}

    def overhead_pct(self) -> float:
        """Traced vs untraced latency of the same ops, in percent: mean
        traced time over mean untraced time, summed over op names."""
        on_ms = off_ms = 0.0
        for name, on in self.by_tracing[True].items():
            off = self.by_tracing[False].get(name, [])
            if on and off:
                on_ms += sum(on) / len(on)
                off_ms += sum(off) / len(off)
        return 100.0 * (on_ms / off_ms - 1.0) if off_ms else 0.0


def _compact_bytes(client: Client, df, name: str) -> int:
    """Bytes of one compact single-file parquet write of ``df``."""
    path = os.path.join(client.work, "compact", name)
    df.coalesce(1).write.mode("overwrite").parquet(path)
    try:
        return dir_bytes(path)
    finally:
        rmtree(path)


def _timed_loop(client: Client, seconds: float):
    """Yields round numbers until ``seconds`` of wall time pass; a
    traced run measures at least one traced and one untraced round."""
    t_end = time.perf_counter() + seconds
    i = 0
    while time.perf_counter() < t_end or (client.trace and i < 2):
        client.trace_round(i)
        yield i
        i += 1
    client.trace_round(1)  # end-of-run checks are never traced


# ---------------------------------------------------------------------------
# sync_batches
# ---------------------------------------------------------------------------

_STRATEGIES = (
    ("UPSERT_CHECKSUM_WITH_DELETE", "upsert_delete"),
    ("SOFT_DELETE", "soft_delete"),
    ("VERSIONED_CHECKSUM", "versioned"),
)

#: live keys point-read from each store after its sync (the same keys
#: for every store of a step); ``latency`` pairs the sync with the first
_READS_PER_SYNC = 4


def _sync_spec(update_type, version: int):
    from far_finer_airtable_firestore_sync_spark.config import SyncSpecBuilder

    b = SyncSpecBuilder().with_primary_key("Name").with_update_type(update_type)
    for name, kind in gen.SYNC_FIELDS:
        b = b.with_field(name, kind)
    run_ts = datetime(2026, 1, 1, tzinfo=timezone.utc) + timedelta(hours=version)
    return b.with_table("airtable").with_run(run_ts, version).build()


def _install_sync_tracing(tracer: Tracer) -> None:
    from far_finer_airtable_firestore_sync_spark.plans import pipeline
    from far_finer_airtable_firestore_sync_spark.sources.backends import (
        TransactionalParquetBackend,
    )

    def wrap_strategy(fn):
        def spanned(*a, **k):
            with tracer.span("strategies.plan"):
                return fn(*a, **k)
        return spanned

    tracer.wrap(pipeline, "typed_projection", "casts.typed_projection")
    tracer.wrap(pipeline, "filter_valid_pk", "dedup.filter_valid_pk")
    tracer.wrap(pipeline, "keep_latest", "dedup.keep_latest")
    tracer.wrap(pipeline, "get_strategy", "strategies.get", wrap_strategy)
    tracer.wrap(TransactionalParquetBackend, "commit_with",
                "backends.commit_with")
    tracer.wrap(TransactionalParquetBackend, "commit", "backends.commit")
    # one span per plan build: builds per commit = CAS attempts
    tracer.wrap(pipeline.SyncPipeline, "build_post_state", "pipeline.build")


def _check_sync_store(client: Client, backend, kind: str, model) -> None:
    rows = backend.read().collect()
    client.check(f"check.{kind}", gen.observe_sync_store(kind, rows),
                 model.expect())


def _point_read_check(client: Client, rows, kind: str, key: str, model):
    live = model.current.get(key)
    payload = [tuple(r[n] for n in gen.SYNC_NAMES) for r in rows]
    if kind == "upsert_delete":
        want = [live] if live is not None else []
        client.check(f"read.{kind}", payload, want)
    elif kind == "soft_delete":
        got = [p for p, r in zip(payload, rows) if not r["is_deleted"]]
        client.check(f"read.{kind}", got, [live] if live is not None else [])
    else:
        got = [p for p, r in zip(payload, rows) if r["latest"]]
        want = model.last_seen.get(key)
        client.check(f"read.{kind}", got, [want] if want is not None else [])
        client.check(f"read.{kind}.versions", len(rows),
                     model.versions.get(key, 0))


def sync_batches(spark, work: str, seed: int, seconds: float, trace: bool):
    from pyspark.sql import functions as F

    from far_finer_airtable_firestore_sync_spark.config import UpdateType
    from far_finer_airtable_firestore_sync_spark.plans.pipeline import SyncPipeline
    from far_finer_airtable_firestore_sync_spark.sources.backends import (
        TransactionalParquetBackend,
    )

    size = SIZES["sync_batches"]
    client = Client(spark, work, trace)

    def sync_once(backend, ut, version, df):
        return SyncPipeline(_sync_spec(ut, version), backend,
                            catalog=gen.SYNC_CATALOG).run(df)

    # initial load: the first full batch into each strategy's store
    table = gen.AirtableTable(seed, size["rows"])
    models = {kind: gen.StrategyModel(kind) for _n, kind in _STRATEGIES}
    backends = {}
    df = spark.createDataFrame(table.batch_rows(), gen.SYNC_SCHEMA)
    load_s = []
    for ut_name, kind in _STRATEGIES:
        root = os.path.join(work, "stores", kind)
        backends[kind] = TransactionalParquetBackend(spark, root, key_col="Name")
        client.roots.append(root)
        t0 = time.perf_counter()
        sync_once(backends[kind], UpdateType[ut_name], 1, df)
        load_s.append(time.perf_counter() - t0)
        models[kind].apply(table.live)
        _check_sync_store(client, backends[kind], kind, models[kind])

    step = {"version": 1}

    def iteration(c: Client, i: int) -> None:
        """Sync store ``i % 3``; every third iteration the generator
        takes a step first, so each store syncs every batch once."""
        c.next_iteration()
        ut_name, kind = _STRATEGIES[i % 3]
        if i % 3 == 0:
            step["version"] += 1
            step["touched"] = table.step()
            rows = table.batch_rows()
            step["rows"] = len(rows)
            step["df"] = spark.createDataFrame(rows, gen.SYNC_SCHEMA)
            step["probe"] = random.Random(seed * 1000 + step["version"]).sample(
                sorted(table.live), _READS_PER_SYNC)
        backend, version, df = backends[kind], step["version"], step["df"]
        _res, sync_ms = c.op(
            "pipeline.run",
            lambda: sync_once(backend, UpdateType[ut_name], version, df),
            "write", group=kind,
        )
        if sync_ms is None:
            return
        c.rows_done += step["rows"]
        c.logical_bytes += step["touched"]
        models[kind].apply(table.live)
        for n, key in enumerate(step["probe"]):
            rows, read_ms = c.op(
                "pipeline.point_read",
                lambda: backend.read().filter(F.col("Name") == key).collect(),
                "read", group=kind,
            )
            if read_ms is None:
                continue
            if n == 0:
                c.sample("latency", sync_ms + read_ms, kind)
            _point_read_check(c, rows, kind, key, models[kind])

    # warm-up: one untimed generator step through every store
    t0 = time.perf_counter()
    warm = Client(spark, work, False)
    for i in range(len(_STRATEGIES)):
        iteration(warm, i)
    client.failures += ["warmup " + f for f in warm.failures]
    setup_parts = {"warmup_s": time.perf_counter() - t0, "load_s": load_s}

    if trace:
        _install_sync_tracing(client.tracer)
    # whole rounds only, so every store syncs equally often in a run
    for r in _timed_loop(client, seconds):
        for k in range(len(_STRATEGIES)):
            iteration(client, r * len(_STRATEGIES) + k)
    syncs = len(client.samples.get("write", []))

    t0 = time.perf_counter()
    for kind, be in backends.items():
        _check_sync_store(client, be, kind, models[kind])

    # space: each store's retained data after keeping only its head
    space = []
    for kind, be in backends.items():
        be.vacuum_versions(keep_last=1)
        space.append(dir_bytes(be.root) / _compact_bytes(client, be.read(), kind))

    out, info = {}, {"syncs": syncs, "checks_s": time.perf_counter() - t0}
    client.latency("latency", out, info)
    client.latency("write", out, info)
    client.latency("read", out, info)
    sync_s = sum(client.samples.get("op.pipeline.run", [])) / 1000.0
    out["rows_per_s"] = client.rows_done / sync_s if sync_s else 0.0
    out["ops_per_s"] = syncs / client.timed_s if client.timed_s else 0.0
    out["write_amp"] = client.bytes_added / max(1, client.logical_bytes)
    out["space_amp"] = median(space)
    layers = {}
    if trace:
        work_, n = client.spark_work(["pipeline.run"])
        attempts = client.tracer.totals().get("pipeline.build", {}).get("n", 0)
        fs = client.fs_by_op.get("pipeline.run", [])
        n_traced = max(1, n)
        layers.update({
            "casts.typed_projection_ms":
                client.span_ms_per("casts.typed_projection", n_traced),
            "dedup.keep_latest_ms":
                (client.span_ms_per("dedup.keep_latest", n_traced)
                 + client.span_ms_per("dedup.filter_valid_pk", n_traced)),
            "strategies.plan_ms":
                client.span_ms_per("strategies.plan", n_traced),
            "pipeline.jobs_per_sync": work_.jobs / n_traced,
            "pipeline.tasks_per_sync": work_.tasks / n_traced,
            "pipeline.executor_run_ms": work_.executor_run_ms / n_traced,
            "pipeline.shuffle_bytes": work_.shuffle_bytes / n_traced,
            "pipeline.driver_gap_ms": work_.driver_gap_ms / n_traced,
            "pipeline.build_attempts_per_commit":
                (n / attempts) if attempts else 0.0,
            "backends.commit_with_ms":
                client.span_ms_per("backends.commit_with", n_traced),
            "backends.bytes_written_per_sync":
                sum(b for _f, b in fs) / max(1, len(fs)),
            "backends.files_per_version": median([
                float(data_files(os.path.join(
                    be.root, be.latest()[1]["version_dir"])))
                for be in backends.values()
            ]),
        })
        layers.update(client.self_times(n_traced))
        layers["trace.overhead_pct"] = client.overhead_pct()
        layers["trace.spans"] = float(len(client.tracer.spans))
    return client, out, layers, info, setup_parts


# ---------------------------------------------------------------------------
# store_cdf_mix
# ---------------------------------------------------------------------------

#: one cycle: each write once, each followed by draining the rollup
#: stream (freshness); then each read once, against the state the three
#: writes left; then maintenance (optimize_binpack, vacuum). No source
#: gives this engine's op mix, so every op of the mix runs once per
#: cycle (see README.md). A run measures whole cycles, so op shares are
#: identical across seeds and run lengths; the seed picks keys, ranges
#: and sliver contents. Each write touches ~0.5% of rows.
_WRITE_CYCLE = ("merge_into", "update_where", "delete_where")
_SLIVER = 0.005
_READ_CYCLE = ("get_document", "read_where_eq", "read_where",
               "read_as_of", "change_feed")
_WRITES = {"merge_into", "update_where", "delete_where",
           "optimize_binpack", "vacuum"}
_READS = set(_READ_CYCLE)
_KEEP_VERSIONS = 3
_QUERY = "perfbench_rollup"


class _DMLState:
    """The store under test plus what the model says each retained
    version holds."""

    def __init__(self, store, table: gen.KVTable):
        self.store = store
        self.table = table
        # version dir -> ((count, digest), changes since previous version)
        self.versions: dict[str, tuple[tuple[int, int], list]] = {}

    def record(self, vd: str, changes: list) -> None:
        self.versions[vd] = (gen.kv_summary(self.table.as_rows()), changes)

    def retained(self) -> list[str]:
        have = set(self.store.list_versions())
        for vd in list(self.versions):
            if vd not in have:
                del self.versions[vd]
        return sorted(self.versions)


def _kv_df(spark, rows):
    return spark.createDataFrame(rows, gen.KV_SCHEMA)


def _kv_agg(df):
    from pyspark.sql import functions as F

    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.coalesce(F.sum(F.expr(gen.KV_HASH_SQL)), F.lit(0)).alias("d")
               ).collect()[0]
    return (int(r["n"]), int(r["d"]))


def _load_kv_store(spark, root: str, rows, cdf: bool = False):
    from far_finer_airtable_firestore_sync_spark.sources.store import DocumentStore

    store = DocumentStore(spark, root, key_col="k")
    store.commit(_kv_df(spark, rows).repartition(4, "k"), cdf=cdf)
    return store


def _read_step(client: Client, st: _DMLState, op: str,
               rng: random.Random) -> None:
    """Run one read of the mix; its result is checked against the model
    outside the timed interval."""
    from far_finer_airtable_firestore_sync_spark.sources.store import (
        version_commit_ms,
    )

    store, t = st.store, st.table
    name = "store." + op
    if op == "get_document":
        k = t.hot_key()
        got, ms = client.op(name, lambda: store.get_document(k), "read")
        if ms is None:
            return
        want = {"k": k, "grp": t.rows[k][0], "val": t.rows[k][1],
                "note": t.rows[k][2]}
        client.check(op, got, want)
        return
    if op == "read_where_eq":
        keys = sorted({t.hot_key() for _ in range(5)})
        got, ms = client.op(
            name, lambda: store.read_where_eq("k", keys).collect(), "read")
        if ms is None:
            return
        client.check(op, sorted(tuple(r) for r in got),
                     [(k, *t.rows[k]) for k in keys])
        return
    if op == "read_where":
        lo = t.hot_key()
        hi = lo + max(10, t.next_key // 500)
        got, ms = client.op(
            name, lambda: store.read_where("k", lo, hi).collect(), "read")
        if ms is None:
            return
        want = [(k, *v) for k, v in t.rows.items() if lo <= k <= hi]
        client.check(op, gen.kv_summary(tuple(r) for r in got),
                     gen.kv_summary(want))
        return
    if op == "read_as_of":
        vd = rng.choice(st.retained())
        ms_at = version_commit_ms(vd)
        got, ms = client.op(
            name, lambda: _kv_agg(store.read_as_of(ms_at)), "read")
        if ms is None:
            return
        client.check(op, got, st.versions[vd][0])
        return
    if op == "change_feed":
        vs = st.retained()
        if len(vs) < 2:
            return
        hi_i = rng.randrange(1, len(vs))
        lo_i = hi_i - 1  # one commit's changes
        got, ms = client.op(
            name,
            lambda: store.change_feed(vs[lo_i], vs[hi_i])
            .select("k", "change_type").collect(),
            "read",
        )
        if ms is None:
            return
        want = sorted(c for v in vs[lo_i + 1:hi_i + 1] for c in st.versions[v][1])
        client.check(op, sorted(tuple(r) for r in got), want)
        return
    raise ValueError(f"unknown read {op}")


def _write_step(client: Client, st: _DMLState, op: str,
                rng: random.Random):
    """Run one write of the mix. Returns ``(version_dir, finish)``, or
    ``(None, None)`` when the write raised; ``finish()`` updates the
    model and checks the result. The caller runs it once the change has
    reached the rollup, so the write is followed at once by the drain."""
    spark, store, t = client.spark, st.store, st.table
    name = "store." + op
    if op == "merge_into":
        src, changes = t.sliver(_SLIVER)
        df = _kv_df(spark, src)
        res, ms = client.op(name, lambda: store.merge_into(
            df,
            when_matched_update={"grp": "s.grp", "val": "s.val",
                                 "note": "s.note"},
            when_matched_delete="s.val < 0",
            when_not_matched_insert=True,
            cdf=True,
        ), "write", walk=False)
        if ms is None:
            return None, None
        vd, counts = res

        def finish() -> None:
            client.logical_bytes += t.apply_sliver(src)
            want = {
                "updated": sum(1 for c in changes.values() if c == "update"),
                "inserted": sum(1 for c in changes.values() if c == "insert"),
                "deleted": sum(1 for c in changes.values() if c == "delete"),
            }
            client.check(op, {k: counts.get(k) for k in want}, want)
            st.record(vd, sorted(changes.items()))
        return vd, finish
    if op in ("update_where", "delete_where"):
        width = int(t.next_key * _SLIVER)
        lo = rng.randrange(1, t.next_key - width)
        hi = lo + width
        hit = sorted(k for k in t.rows if lo <= k <= hi)
        pred = f"k between {lo} and {hi}"
        if op == "update_where":
            res, ms = client.op(name, lambda: store.update_where(
                pred, {"val": "val + 1"}, cdf=True), "write", walk=False)
        else:
            res, ms = client.op(name, lambda: store.delete_where(
                pred, cdf=True), "write", walk=False)
        if ms is None:
            return None, None
        vd, n = res

        def finish() -> None:
            if op == "update_where":
                client.check(op, n, len(hit))
            # delete_where returns the version's total masked rows; the
            # deleted rows are checked by later reads and the final check
            client.check(op + ".new_version", vd in st.versions, not hit)
            kind = "update" if op == "update_where" else "delete"
            for k in hit:
                grp, val, note = t.rows[k]
                if kind == "update":
                    t.rows[k] = (grp, val + 1, note)
                    client.logical_bytes += gen.kv_bytes(k, grp, val + 1, note)
                else:
                    del t.rows[k]
                    client.logical_bytes += gen.kv_bytes(k, grp, val, note)
            if hit:
                st.record(vd, [(k, kind) for k in hit])
        return vd, finish
    raise ValueError(f"unknown write {op}")


def _maintain(client: Client, st: _DMLState) -> None:
    store = st.store
    client.next_iteration()
    res, ms = client.op("store.optimize_binpack", lambda: store.optimize_binpack(
        min_rows_per_file=2_000,
        target_rows_per_file=SIZES["store_cdf_mix"]["rows"] // 4,
        cdf=True,
    ), "write")
    if ms is not None:
        vd, _stats = res
        if vd not in st.versions:
            st.record(vd, [])
    client.next_iteration()
    client.op("store.vacuum", lambda: store.vacuum(keep_last=_KEEP_VERSIONS),
              "maintenance")
    st.retained()


def _space_sample(client: Client, st: _DMLState,
                  summary) -> tuple[float, float]:
    """(space amp of both stores, dead-row fraction of the upstream
    head version), untimed."""
    import pyarrow.parquet as pq

    store = st.store
    vd = store.current_version_dir()
    physical = 0
    for dirpath, dirs, files in os.walk(vd):
        dirs[:] = [d for d in dirs if not d.startswith("_")]
        for f in files:
            if f.endswith(".parquet"):
                physical += pq.ParquetFile(os.path.join(dirpath, f)).metadata.num_rows
    live = len(st.table.rows)
    space = (dir_bytes(store.root) + dir_bytes(summary.root)) / (
        _compact_bytes(client, store.read(), "upstream")
        + _compact_bytes(client, summary.read(), "summary"))
    return space, (physical - live) / physical if physical else 0.0


def _check_rollup(client: Client, summary, table: gen.KVTable) -> bool:
    return client.check("rollup",
                        sorted(tuple(r) for r in summary.read().collect()),
                        _rollup_model(table))


def _rollup_model(table: gen.KVTable) -> list[tuple]:
    agg: dict[str, list[int]] = {}
    for grp, val, _note in table.rows.values():
        a = agg.setdefault(grp, [0, 0])
        a[0] += 1
        a[1] += val
    return sorted((g, n, s) for g, (n, s) in agg.items() if n > 0)


def _new_progress(query, seen: set) -> list[dict]:
    out = []
    for p in query.recentProgress:
        if p["batchId"] not in seen and p["numInputRows"] > 0:
            seen.add(p["batchId"])
            out.append(p)
    return out


def _change_files(version_dir: str) -> int:
    d = os.path.join(version_dir, "_changes")
    return sum(1 for f in os.listdir(d) if f.endswith(".parquet"))


def store_cdf_mix(spark, work: str, seed: int, seconds: float, trace: bool):
    from far_finer_airtable_firestore_sync_spark.operators import ivm
    from far_finer_airtable_firestore_sync_spark.sources import cdf_source
    from far_finer_airtable_firestore_sync_spark.sources.store import DocumentStore
    from far_finer_airtable_firestore_sync_spark.streaming.sync import (
        cdf_rollup_sync,
    )

    size = SIZES["store_cdf_mix"]
    client = Client(spark, work, trace)
    rng = random.Random(seed)
    if not cdf_source.register(spark):
        raise RuntimeError("the store_cdf source needs pyspark >= 4")

    table = gen.KVTable(seed, size["rows"], size["groups"])
    t0 = time.perf_counter()
    upstream = _load_kv_store(spark, os.path.join(work, "stores", "up"),
                              table.as_rows(), cdf=True)
    load_s = [time.perf_counter() - t0]
    st = _DMLState(upstream, table)
    st.record(upstream.current_version_dir(), [])
    summary = DocumentStore(spark, os.path.join(work, "stores", "summary"), "grp")
    client.roots += [upstream.root, summary.root]

    if trace:
        # before the query starts: cdf_rollup_sync binds rollup_delta
        # when it is called; spans record only inside traced rounds
        client.tracer.wrap(ivm, "rollup_delta", "ivm.rollup_delta")
        client.tracer.wrap(summary, "merge_into", "store.summary_merge")
    t0 = time.perf_counter()
    stats: list = []
    feed = (spark.readStream.format("store_cdf")
            .option("path", upstream.root).load())
    query = cdf_rollup_sync(feed, summary, os.path.join(work, "ckpt"),
                            "grp", "n", {"s": "val"}, _QUERY, stats=stats)
    seen: set = set()

    def drain(c: Client, w: str) -> bool:
        """Freshness of the commit write ``w`` just made: from the
        write returning until the summary commit is visible. The caller
        runs this straight after the write, before any work of its
        own."""
        committed = c.last_end

        def visible():
            query.processAllAvailable()
            return summary.last_txn(_QUERY)

        _txn, ms = c.op("stream.process", visible, "stream", walk=False)
        if ms is None:
            return False
        c.sample("latency", (c.last_end - committed) * 1000.0, w)
        return True

    def after_drain(c: Client, n_stats: int, head: str) -> None:
        """Untimed: the epochs' progress, and the summary against the
        model."""
        progress = _new_progress(query, seen)
        n_rows = sum(p["numInputRows"] for p in progress)
        c.rows_done += n_rows
        _check_rollup(c, summary, table)
        if c.traced:
            c.tracer.count("epochs", len(progress))
            c.tracer.count("cdf.rows", n_rows)
            c.tracer.count("cdf.files", _change_files(head))
            for p in progress:
                d = p["durationMs"]
                c.tracer.count("stream.add_batch_ms", d.get("addBatch", 0))
                c.tracer.count("stream.trigger_ms", d.get("triggerExecution", 0))
            for s in stats[n_stats:]:
                c.tracer.count("ivm.groups", sum(
                    s.get(k, 0) for k in ("updated", "inserted", "deleted")))

    def write(c: Client, w: str) -> None:
        c.next_iteration()
        head = upstream.current_version_dir()
        n_stats = len(stats)
        up0, sum0 = inodes([upstream.root]), inodes([summary.root])
        vd, finish = _write_step(c, st, w, rng)
        drained = vd is not None and vd != head and drain(c, w)
        c.account("store." + w, up0, [upstream.root])
        if finish is not None:
            finish()
        if drained:
            c.account("stream.process", sum0, [summary.root])
            after_drain(c, n_stats, vd)

    def cycle(c: Client) -> None:
        for w in _WRITE_CYCLE:
            write(c, w)
        for r in _READ_CYCLE:
            c.next_iteration()
            _read_step(c, st, r, rng)
        _maintain(c, st)
        query.processAllAvailable()  # the pack's empty change set
        _new_progress(query, seen)

    try:
        query.processAllAvailable()  # bootstrap epoch: the initial load
        _new_progress(query, seen)
        # warm-up: one whole untimed cycle, so every op of the mix has
        # run once before timing starts
        warm = Client(spark, work, False)
        warm.roots = client.roots
        t1 = time.perf_counter()
        cycle(warm)
        client.failures += ["warmup " + f for f in warm.failures]
        t2 = time.perf_counter()
        setup_parts = {"warmup_s": t2 - t0, "load_s": load_s,
                       "warmup_cycle_s": t2 - t1}

        cycles = 0
        for _i in _timed_loop(client, seconds):
            cycle(client)
            cycles += 1
        t0 = time.perf_counter()
        space, dead = _space_sample(client, st, summary)
        _full_check(client, st, summary)
    finally:
        query.stop()

    out, info = {}, {"cycles": cycles, "checks_s": time.perf_counter() - t0}
    client.latency("latency", out, info)
    client.latency("write", out, info)
    client.latency("read", out, info)
    n_ops = sum(len(client.samples.get("op.store." + o, []))
                for o in _WRITES | _READS)
    out["ops_per_s"] = n_ops / client.timed_s
    out["rows_per_s"] = client.rows_done / client.timed_s
    out["write_amp"] = client.bytes_added / max(1, client.logical_bytes)
    out["space_amp"] = space
    layers = {}
    if trace:
        for o in _WRITES | _READS:
            n = len(client.work_by_op.get("store." + o, []))
            layers[f"store.{o}_ms"] = client.span_ms_per("store." + o, n)
        wnames = ["store." + o for o in _WRITES]
        ww, nw = client.spark_work(wnames)
        rw, nr = client.spark_work(["store." + o for o in _READS])
        nw, nr = max(1, nw), max(1, nr)
        wfs = [b for o in wnames if client.work_by_op.get(o)
               for _f, b in client.fs_by_op.get(o, [])]
        cnt = client.tracer.counts
        ne = max(1, cnt.get("epochs", 0))
        layers.update({
            "store.jobs_per_write": ww.jobs / nw,
            "store.tasks_per_write": ww.tasks / nw,
            "store.driver_gap_ms_per_write": ww.driver_gap_ms / nw,
            "store.bytes_written_per_write": sum(wfs) / max(1, len(wfs)),
            "store.input_bytes_per_read": rw.input_bytes / nr,
            "store.files_per_version": float(
                data_files(upstream.current_version_dir())),
            "store.dead_row_fraction": dead,
            "cdf_source.rows_per_epoch": cnt.get("cdf.rows", 0) / ne,
            "cdf_source.files_per_epoch": cnt.get("cdf.files", 0) / ne,
            "stream.add_batch_ms": cnt.get("stream.add_batch_ms", 0) / ne,
            "stream.trigger_ms": cnt.get("stream.trigger_ms", 0) / ne,
            "ivm.rollup_delta_ms": client.span_ms_per("ivm.rollup_delta", ne),
            "ivm.groups_touched": cnt.get("ivm.groups", 0) / ne,
        })
        layers.update(client.self_times(
            sum(len(v) for v in client.work_by_op.values())))
        layers["trace.overhead_pct"] = client.overhead_pct()
        layers["trace.spans"] = float(len(client.tracer.spans))
    return client, out, layers, info, setup_parts


def _full_check(client: Client, st: _DMLState, summary) -> None:
    """Untimed: the upstream snapshot against the model, and the summary
    against a direct groupBy of that snapshot."""
    from pyspark.sql import functions as F

    snap = st.store.read()
    client.check("snapshot", _kv_agg(snap), gen.kv_summary(st.table.as_rows()))
    direct = (snap.groupBy("grp").agg(F.count(F.lit(1)).alias("n"),
                                      F.sum("val").alias("s")).collect())
    client.check("rollup.direct",
                 sorted(tuple(r) for r in summary.read().collect()),
                 sorted(tuple(r) for r in direct))


WORKLOADS = {
    "sync_batches": sync_batches,
    "store_cdf_mix": store_cdf_mix,
}
