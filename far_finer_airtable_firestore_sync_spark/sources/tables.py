"""Batch sources: table scans and view scans (S1-S4 parity).

Reference: ``AirtableDataFetcher.fetch_data``
(lib/AirtableDataFetcher.py:14-37) fully materializes a remote table;
``_filter_data_by_view`` (lib/UpdateStrategies.py:353-377) restricts to
a view = server-side row filter + visible-column subset, with the
column set pushed into the fetch (:365).

Here a "table" is any Spark-readable batch source (parquet fixtures
stand in for the Airtable REST source) and a view is a declarative
``(columns, filter)`` pair — Catalyst pushes both into the parquet scan
(check: ``.explain`` shows ReadSchema pruned + PushedFilters), which is
the distributed analog of the reference's server-side view resolution.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from far_finer_airtable_firestore_sync_spark.sources.store import _version_reader


@dataclass(frozen=True)
class View:
    """A named view: visible ordered columns + optional row predicate.

    Mirrors the reference's view metadata (visible, ordered, non-hidden
    fields — lib/UpdateStrategies.py:408-418) plus the row filter that
    Airtable applies server-side.
    """

    columns: tuple[str, ...]
    predicate: Optional[str] = None  # SQL boolean expression


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S1: full table scan of a fixture table."""
    path = f"{sf_dir}/{name}.parquet"
    return _version_reader(spark, path).parquet(path)


def read_view(
    spark: SparkSession, sf_dir: str, name: str, view: View
) -> DataFrame:
    """S2: view scan — column pruning + predicate pushdown are free
    once expressed declaratively (SURVEY.md §4)."""
    df = read_table(spark, sf_dir, name)
    if view.predicate:
        df = df.filter(view.predicate)
    return df.select(*[F.col(c) for c in view.columns])


def fetch_field_types(df: DataFrame) -> dict[str, str]:
    """S3: field-type catalog from source metadata.

    The reference fetches Airtable's schema API
    (lib/AirtableDataFetcher.py:39-63); our sources carry their schema,
    so the catalog is derived by reverse-mapping Spark types onto the
    Airtable type vocabulary. Unknown structures map to string
    (default parity, lib/DataProcessor.py:31).
    """
    mapping = {
        "string": "singleLineText",
        "double": "number",
        "float": "number",
        "boolean": "checkbox",
        "date": "date",
        "timestamp": "dateTime",
        "timestamp_ntz": "dateTime",
        "array<string>": "multipleSelects",
    }
    out: dict[str, str] = {}
    for name, dtype in df.dtypes:
        if dtype.startswith("array<struct"):
            out[name] = "multipleAttachments"
        else:
            out[name] = mapping.get(dtype, "singleLineText")
    return out


def schema_drift(
    old_columns: Sequence[str], new_columns: Sequence[str]
) -> dict[str, list[str]]:
    """D7: field-set diff report (lib/UpdateStrategies.py:369-372,
    502-511): added / removed / symmetric difference."""
    old_s, new_s = set(old_columns), set(new_columns)
    return {
        "added_fields": sorted(new_s - old_s),
        "removed_fields": sorted(old_s - new_s),
        "symmetric_difference": sorted(old_s ^ new_s),
    }


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int,
    path: Optional[str] = None,
    sort: bool = True,
) -> None:
    """Persist a table hash-bucketed (and per-bucket sorted) on the
    join/aggregation key — the co-location layout for 100 TB.

    Two tables bucketed on the same key with the same bucket count
    join WITHOUT any Exchange (the scan itself satisfies the join's
    required distribution; sorted buckets also skip the Sort) — the
    shuffle cost moves to write time, paid once, instead of per query.
    Plan-verified by tests/test_store_and_sinks.py.
    ``path`` places the table outside the session warehouse (tests).
    """
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort:
        writer = writer.sortBy(bucket_col)
    if path:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table_name)
