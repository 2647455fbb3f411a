"""Every metric the benchmark reports: name, unit, direction, and for
layer metrics which end-to-end metric on which workload they should
move. ``BENCHMARK.json`` at the repository root lists the same names;
``run.py --selftest`` checks that the two agree."""

from __future__ import annotations

#: name -> (unit, better, bound, what it is on each workload)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25,
                "session start + initial loads + warm-up"),
    "ops_per_s": ("1/s", "higher", 0.25,
                  "sync_batches: syncs; store_cdf_mix: store ops (reads, "
                  "writes, maintenance) — per second of client time"),
    "rows_per_s": ("1/s", "higher", 0.25,
                   "sync_batches: batch rows per second of sync time; "
                   "store_cdf_mix: change-feed rows per second of client "
                   "time"),
    # each *_ms latency is the mean over the op's groups of each
    # group's median (Client.latency): a group is one op of the mix on
    # store_cdf_mix, one strategy's store on sync_batches
    "latency_ms": ("ms", "lower", 0.25,
                   "sync_batches: sync + first point read of the synced "
                   "store, per strategy; store_cdf_mix: freshness, "
                   "upstream commit returned -> summary commit visible, "
                   "per write op"),
    "write_ms": ("ms", "lower", 0.25,
                 "sync_batches: SyncPipeline.run, per strategy; "
                 "store_cdf_mix: merge_into/update_where/delete_where/"
                 "optimize_binpack"),
    "read_ms": ("ms", "lower", 0.25,
                "sync_batches: point read of the synced store, per "
                "strategy; store_cdf_mix: get/eq/range/as-of/change-feed "
                "reads"),
    "write_amp": ("ratio", "lower", 0.1,
                  "bytes added under store roots / logical bytes of the "
                  "rows the generator changed, inserted or deleted"),
    "space_amp": ("ratio", "lower", 0.05,
                  "store-root bytes at the end / one compact parquet "
                  "write of the live snapshot"),
    "driver_mem_mb": ("MB", "lower", 0.25,
                      "Python peak RSS + JVM heap live after a full GC + "
                      "JVM non-heap in use, at the end of the run"),
}

#: workload-specific names -> (metric, workload)
ALIASES = {
    "sync_rows_per_s": ("rows_per_s", "sync_batches"),
    "sync_ms": ("write_ms", "sync_batches"),
    "dml_ops_per_s": ("ops_per_s", "store_cdf_mix"),
    "freshness_ms": ("latency_ms", "store_cdf_mix"),
    "cdf_rows_per_s": ("rows_per_s", "store_cdf_mix"),
}

_SYNC = "sync_batches"
_DML = _CDF = "store_cdf_mix"

#: name -> (unit, better, [(end-to-end metric, workload) it should move])
PER_LAYER = {
    "casts.typed_projection_ms": ("ms", "lower", [("write_ms", _SYNC)]),
    "dedup.keep_latest_ms": ("ms", "lower", [("write_ms", _SYNC)]),
    "strategies.plan_ms": ("ms", "lower", [("write_ms", _SYNC)]),
    "pipeline.jobs_per_sync": ("count", "lower",
                               [("write_ms", _SYNC), ("rows_per_s", _SYNC)]),
    "pipeline.tasks_per_sync": ("count", "lower",
                                [("write_ms", _SYNC), ("rows_per_s", _SYNC)]),
    "pipeline.executor_run_ms": ("ms", "lower",
                                 [("write_ms", _SYNC), ("rows_per_s", _SYNC)]),
    "pipeline.shuffle_bytes": ("bytes", "lower",
                               [("write_ms", _SYNC), ("rows_per_s", _SYNC)]),
    "pipeline.driver_gap_ms": ("ms", "lower",
                               [("write_ms", _SYNC), ("rows_per_s", _SYNC)]),
    "pipeline.build_attempts_per_commit": ("ratio", "higher",
                                           [("write_ms", _SYNC)]),
    "backends.commit_with_ms": ("ms", "lower",
                                [("write_ms", _SYNC), ("write_amp", _SYNC)]),
    "backends.bytes_written_per_sync": ("bytes", "lower",
                                        [("write_amp", _SYNC)]),
    "backends.files_per_version": ("count", "lower",
                                   [("write_amp", _SYNC), ("write_ms", _SYNC)]),
    **{
        f"store.{op}_ms": ("ms", "lower", [(
            "write_ms" if op in ("merge_into", "update_where",
                                     "delete_where", "optimize_binpack",
                                     "vacuum")
            else "read_ms", _DML)])
        for op in ("get_document", "read_where_eq", "read_where",
                   "read_as_of", "change_feed", "merge_into",
                   "update_where", "delete_where", "optimize_binpack",
                   "vacuum")
    },
    "store.jobs_per_write": ("count", "lower",
                             [("write_ms", _DML), ("write_amp", _DML)]),
    "store.tasks_per_write": ("count", "lower",
                              [("write_ms", _DML), ("write_amp", _DML)]),
    "store.driver_gap_ms_per_write": ("ms", "lower",
                                      [("write_ms", _DML), ("write_amp", _DML)]),
    "store.bytes_written_per_write": ("bytes", "lower",
                                      [("write_ms", _DML), ("write_amp", _DML)]),
    "store.input_bytes_per_read": ("bytes", "lower",
                                   [("read_ms", _DML), ("space_amp", _DML)]),
    "store.files_per_version": ("count", "lower",
                                [("read_ms", _DML), ("space_amp", _DML)]),
    "store.dead_row_fraction": ("ratio", "lower",
                                [("read_ms", _DML), ("space_amp", _DML)]),
    "cdf_source.rows_per_epoch": ("count", "higher",
                                  [("latency_ms", _CDF), ("rows_per_s", _CDF)]),
    "cdf_source.files_per_epoch": ("count", "lower",
                                   [("latency_ms", _CDF), ("rows_per_s", _CDF)]),
    "stream.add_batch_ms": ("ms", "lower",
                            [("latency_ms", _CDF), ("rows_per_s", _CDF)]),
    "stream.trigger_ms": ("ms", "lower",
                          [("latency_ms", _CDF), ("rows_per_s", _CDF)]),
    "ivm.rollup_delta_ms": ("ms", "lower",
                            [("latency_ms", _CDF), ("rows_per_s", _CDF)]),
    "ivm.groups_touched": ("count", "lower",
                           [("latency_ms", _CDF), ("rows_per_s", _CDF)]),
    # layer self time per traced iteration (span time minus child spans)
    **{
        f"self.{layer}_ms": ("ms", "lower", [])
        for layer in ("pipeline", "casts", "dedup", "strategies",
                      "backends", "store", "stream", "ivm")
    },
    "trace.overhead_pct": ("%", "lower", []),
    "trace.spans": ("count", "lower", []),
}
