"""Committed-directory reads take their schema from one parquet footer
on the driver (``_version_reader``): the pinned schema must equal
Spark's own inference on every directory kind the store writes, the
layouts one footer cannot describe must fall back to inference, and
building a read frame must run no Spark job. Also guards the two
commit-path robustness fixes that ride along: every concurrent write
failure is reported, and a crash inside the DV sidecar swap cannot
leave a stale cached live-row count."""

import os
import uuid
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from far_finer_airtable_firestore_sync_spark.config import (
    SyncSpecBuilder,
    UpdateType,
)
from far_finer_airtable_firestore_sync_spark.plans.pipeline import SyncPipeline
from far_finer_airtable_firestore_sync_spark.sources.backends import (
    TransactionalParquetBackend,
)
from far_finer_airtable_firestore_sync_spark.sources.store import (
    _CHANGES_DIR,
    _DV_DIR,
    _LIVE_ROWS_CACHE,
    _MIXED_SCHEMA_MARKER,
    DocumentStore,
    _footer_schema,
    _run_concurrently,
    _version_live_rows,
    _version_reader,
    write_deletion_vectors,
)

SCHEMA = "Name string, Created string, notes string, score string"
CATALOG = {
    "Name": "singleLineText",
    "Created": "dateTime",
    "notes": "multilineText",
    "score": "number",
}


def _spec(ut, version_id):
    return (
        SyncSpecBuilder()
        .with_primary_key("Name")
        .with_update_type(ut)
        .with_field("Name", "string")
        .with_field("Created", "timestamp")
        .with_field("notes", "string")
        .with_field("score", "double")
        .with_table("footer", "main_view")
        .with_run(datetime(2026, 1, 1), version_id)
        .build()
    )


def _batches(spark):
    one = [
        ("a", "2024-01-01 00:00:00", "alpha", "1"),
        ("b", "2024-01-01 00:00:00", "beta", "2"),
        ("c", "2024-01-01 00:00:00", "gamma", "3"),
    ]
    two = [
        ("a", "2024-01-01 00:00:00", "alpha", "1"),
        ("b", "2024-02-01 00:00:00", "BETA", "20"),
        ("d", "2024-02-01 00:00:00", "delta", "4"),
    ]
    return (
        spark.createDataFrame(one, SCHEMA),
        spark.createDataFrame(two, SCHEMA),
    )


def _docs(spark, n=300):
    """Nested columns too: the writer records non-null element types
    that inference (and the pinned schema) must widen."""
    return spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).alias("grp"),
        (F.col("id") * 2).alias("val"),
        F.array(F.col("id"), F.lit(1)).alias("arr"),
        F.struct(F.col("id").alias("x"), F.array(F.lit(2)).alias("y")).alias(
            "st"
        ),
    )


def _sidecars(vd):
    return [vd] + [
        os.path.join(vd, d)
        for d in (_DV_DIR, _CHANGES_DIR)
        if os.path.isdir(os.path.join(vd, d))
    ]


def _assert_pinned(spark, d):
    """The footer path is taken (no fallback) and matches inference."""
    if os.path.basename(d) != _DV_DIR:
        assert _footer_schema(d) is not None, d
    pinned = _version_reader(spark, d).parquet(d).schema
    assert pinned == spark.read.parquet(d).schema, d


def _txn_version_dir(backend):
    _v, rec = backend.latest()
    return os.path.join(backend.root, rec["version_dir"])


def _jobs_run_by(spark, fn):
    """(result, number of Spark jobs ``fn`` ran), by job-group ids."""
    sc = spark.sparkContext
    group = "probe-" + uuid.uuid4().hex[:8]
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    spark._jsparkSession.sparkContext().listenerBus().waitUntilEmpty(30000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


# -- pinned schema == inferred schema ----------------------------------------


@pytest.mark.parametrize(
    "ut",
    [
        UpdateType.UPSERT_CHECKSUM_WITH_DELETE,
        UpdateType.SOFT_DELETE,
        UpdateType.VERSIONED_CHECKSUM,
    ],
)
def test_pinned_schema_matches_inference_on_strategy_stores(
    spark, tmp_path, ut
):
    backend = TransactionalParquetBackend(spark, str(tmp_path), key_col="Name")
    b1, b2 = _batches(spark)
    for version, batch in ((1, b1), (2, b2)):
        SyncPipeline(_spec(ut, version), backend, catalog=CATALOG).run(batch)
    for d in _sidecars(_txn_version_dir(backend)):
        _assert_pinned(spark, d)


def test_pinned_schema_matches_inference_on_store_version_and_sidecars(
    spark, tmp_path
):
    s = DocumentStore(spark, str(tmp_path), "k")
    # a map column too (kept out of _docs: diff joins cannot compare maps)
    s.commit(
        _docs(spark).withColumn("m", F.create_map(F.lit("v"), F.col("k"))),
        cdf=True,
    )
    vd, n = s.delete_where("k % 7 = 0", cdf=True)
    assert n == 43
    dirs = _sidecars(vd)
    assert [os.path.basename(d) for d in dirs[1:]] == [_DV_DIR, _CHANGES_DIR]
    for d in dirs:
        _assert_pinned(spark, d)
    assert s.read().count() == 300 - 43


def test_pinned_schema_matches_inference_on_txn_cdf_commit(spark, tmp_path):
    b = TransactionalParquetBackend(spark, str(tmp_path), "k")
    b.commit(_docs(spark), cdf=True)
    b.commit(_docs(spark, 320), cdf=True)
    dirs = _sidecars(_txn_version_dir(b))
    assert os.path.basename(dirs[-1]) == _CHANGES_DIR
    for d in dirs:
        _assert_pinned(spark, d)


# -- fallbacks to Spark's inference -------------------------------------------


def test_mixed_schema_version_merges_every_footer(spark, tmp_path):
    s = DocumentStore(spark, str(tmp_path), "k")
    s.commit(_docs(spark, 100).select("k", "grp", "val"))
    src = spark.range(50, 150).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).alias("grp"),
        (F.col("id") * 3).alias("val"),
        F.lit("n").alias("note"),
    )
    vd, _counts = s.merge_into(
        src,
        when_matched_update={"val": "s.val", "note": "s.note"},
        schema_evolution=True,
    )
    assert os.path.exists(os.path.join(vd, _MIXED_SCHEMA_MARKER))
    got = _version_reader(spark, vd).parquet(vd).schema
    assert got == spark.read.option("mergeSchema", "true").parquet(vd).schema
    assert "note" in got.fieldNames()


def test_partitioned_version_keeps_path_discovery(spark, tmp_path):
    s = DocumentStore(spark, str(tmp_path), "k")
    vd = s.commit(_docs(spark, 100), partition_by=["grp"])
    assert _footer_schema(vd) is None
    got = _version_reader(spark, vd).parquet(vd).schema
    assert got == spark.read.parquet(vd).schema
    assert got["grp"].dataType.simpleString() == "int"  # from the paths


def test_non_spark_footer_falls_back_to_inference(spark, tmp_path):
    d = str(tmp_path / "arrow")
    os.makedirs(d)
    pq.write_table(
        pa.table({"k": [1, 2], "ts": pa.array([1, 2], pa.timestamp("us"))}),
        os.path.join(d, "part-0.parquet"),
    )
    assert _footer_schema(d) is None
    assert _footer_schema(os.path.join(d, "part-0.parquet")) is None
    assert (
        _version_reader(spark, d).parquet(d).schema
        == spark.read.parquet(d).schema
    )


# -- no Spark job until an action ---------------------------------------------


def test_read_paths_build_frames_without_jobs(spark, tmp_path):
    s = DocumentStore(spark, str(tmp_path), "k")
    v1 = s.commit(_docs(spark))
    v2, _n = s.delete_where("k < 10")
    for build in (
        s.read,
        lambda: s.read_version(v1),
        lambda: s.read_version(v2),
        lambda: s.read_where_eq("k", [5, 20, 30]),
    ):
        _df, jobs = _jobs_run_by(spark, build)
        assert jobs == 0
    rows, _jobs = _jobs_run_by(
        spark, lambda: s.read_where_eq("k", [5, 20, 30]).collect()
    )
    assert sorted(r["k"] for r in rows) == [20, 30]


def test_point_read_of_dv_less_version_runs_one_job(spark, tmp_path):
    b = TransactionalParquetBackend(spark, str(tmp_path), "k")
    b.commit(_docs(spark))
    rows, jobs = _jobs_run_by(
        spark, lambda: b.read().filter(F.col("k") == 42).collect()
    )
    assert [r["val"] for r in rows] == [84]
    assert jobs == 1


# -- commit-path robustness ---------------------------------------------------


def test_run_concurrently_reports_every_failure():
    def failing(msg):
        def thunk():
            raise RuntimeError(msg)

        return thunk

    ran = []
    with pytest.raises(RuntimeError) as info:
        _run_concurrently(
            failing("image write failed"),
            lambda: ran.append(True),
            failing("cdf write failed"),
        )
    assert str(info.value) == "image write failed"
    assert any("cdf write failed" in n for n in info.value.__notes__)
    assert ran == [True]


def test_crash_between_dv_renames_leaves_no_stale_live_count(
    spark, tmp_path, monkeypatch
):
    s = DocumentStore(spark, str(tmp_path), "k")
    vd = s.commit(_docs(spark))
    write_deletion_vectors(spark, vd, "k < 30")
    assert _version_live_rows(vd) == 270  # seeds the cache
    real_rename = os.rename
    renames = []

    def crash_on_second_rename(src, dst):
        renames.append(src)
        if len(renames) == 2:
            raise OSError("killed between the sidecar renames")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_on_second_rename)
    with pytest.raises(OSError, match="killed between"):
        write_deletion_vectors(spark, vd, "k >= 250")
    monkeypatch.undo()
    assert not os.path.exists(os.path.join(vd, _LIVE_ROWS_CACHE))
    assert not os.path.isdir(os.path.join(vd, _DV_DIR))  # mid-swap state
    # the re-walk self-heals the swap and counts the NEW mask
    assert _version_live_rows(vd) == 300 - 30 - 50
    assert s.read().count() == 220
