"""Self-test of the benchmark's correctness checks, at tiny size.

Each check must pass on an intact store and must report a mismatch once
the store is corrupted behind the model's back. Also checks that
``BENCHMARK.json`` lists exactly the metrics :mod:`perfbench.metrics`
defines.
"""

from __future__ import annotations

import json
import os

from perfbench import gen, harness, metrics, workloads


def _caught(client: workloads.Client, label: str, check) -> bool:
    before = len(client.failures)
    check()
    ok = len(client.failures) > before
    print(f"selftest: {label}: {'caught' if ok else 'NOT CAUGHT'}")
    return ok


def _clean(client: workloads.Client, label: str, check) -> bool:
    before = len(client.failures)
    check()
    ok = len(client.failures) == before
    print(f"selftest: {label}: {'passes' if ok else 'FAILS'}"
          + ("" if ok else f" ({client.failures[-1]})"))
    return ok


def _benchmark_json(root: str) -> bool:
    path = os.path.join(root, "BENCHMARK.json")
    with open(path) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: (m["unit"], m["better"], m["bound"])
           for m in bench["end_to_end"]}
    layer = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    ok = (e2e == {k: v[:3] for k, v in metrics.END_TO_END.items()}
          and layer == {k: v[:2] for k, v in metrics.PER_LAYER.items()}
          and {w["name"] for w in bench["workloads"]}
          == set(workloads.WORKLOADS))
    print(f"selftest: BENCHMARK.json matches perfbench.metrics: {ok}")
    return ok


def main(root: str) -> int:
    from pyspark.sql import functions as F

    from far_finer_airtable_firestore_sync_spark.config import UpdateType
    from far_finer_airtable_firestore_sync_spark.plans.pipeline import SyncPipeline
    from far_finer_airtable_firestore_sync_spark.sources.backends import (
        TransactionalParquetBackend,
    )
    from far_finer_airtable_firestore_sync_spark.sources.store import DocumentStore

    results = [_benchmark_json(root)]
    work = os.path.join(root, ".perfbench_work", f"selftest-{os.getpid()}")
    harness.rmtree(work)
    spark, _s = harness.build_session(work)
    try:
        client = workloads.Client(spark, work, False)

        # a synced store against its strategy model
        for ut_name, kind in workloads._STRATEGIES:
            table = gen.AirtableTable(7, 200)
            model = gen.StrategyModel(kind)
            be = TransactionalParquetBackend(
                spark, os.path.join(work, kind), key_col="Name")
            df = spark.createDataFrame(table.batch_rows(), gen.SYNC_SCHEMA)
            SyncPipeline(workloads._sync_spec(UpdateType[ut_name], 1), be,
                         catalog=gen.SYNC_CATALOG).run(df)
            model.apply(table.live)
            check = lambda: workloads._check_sync_store(client, be, kind, model)  # noqa: E731
            results.append(_clean(client, f"{kind} intact", check))
            victim = sorted(table.live)[0]
            be.commit(be.read().withColumn(
                "score",
                F.when(F.col("Name") == victim, F.col("score") + 1)
                .otherwise(F.col("score"))))
            results.append(_caught(client, f"{kind} one score changed", check))

        # the keyed store and its rollup against the table model
        table = gen.KVTable(7, 300, 8)
        store = workloads._load_kv_store(
            spark, os.path.join(work, "kv"), table.as_rows())
        check = lambda: client.check(  # noqa: E731
            "snapshot", workloads._kv_agg(store.read()),
            gen.kv_summary(table.as_rows()))
        results.append(_clean(client, "kv intact", check))
        summary = DocumentStore(spark, os.path.join(work, "summary"), "grp")
        summary.commit(store.read().groupBy("grp").agg(
            F.count(F.lit(1)).alias("n"), F.sum("val").alias("s")))
        roll = lambda: workloads._check_rollup(client, summary, table)  # noqa: E731
        results.append(_clean(client, "rollup intact", roll))
        k = sorted(table.rows)[3]
        store.update_where(f"k = {k}", {"val": "val + 7"})
        results.append(_caught(client, "kv one value changed", check))
        summary.update_where("n > 0 and grp = 'g000'", {"s": "s - 1"})
        results.append(_caught(client, "rollup one sum changed", roll))
        store.delete_where(f"k = {sorted(table.rows)[5]}")
        results.append(_caught(client, "kv one row deleted", check))
    finally:
        try:
            harness.stop_session(spark)
        finally:
            harness.rmtree(work)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass  # other runs' scratch directories remain
    ok = all(results)
    print(f"selftest: {'ok' if ok else 'FAILED'}")
    return 0 if ok else 1
