"""Typed projection against a field-type catalog (P1/P2 parity).

Reference: ``DataProcessor.process_data`` /
``_convert_value_to_firestore_type`` (lib/DataProcessor.py:17-63)
convert each field of each record per an Airtable-type catalog, with
unknown fields defaulting to string (lib/DataProcessor.py:31) and NULL
short-circuiting (:42-43).

Here the whole projection is ONE ``select`` of cast expressions —
columnar, codegen'd, null-preserving by construction. A dual-dialect
emitter exists so DuckDB oracles can reproduce the projection exactly.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from far_finer_airtable_firestore_sync_spark.functions.canonical import SPARK

#: Airtable field type -> canonical Field kind after conversion.
CONVERTED_KIND = {
    "singleLineText": "string",
    "multilineText": "string",
    "number": "double",
    "checkbox": "boolean",
    "date": "date",
    "dateTime": "timestamp",
    "multipleAttachments": "array<string>",
    "multipleSelects": "array<string>",
}


def convert_sql(col_ref: str, airtable_type: str, dialect: str = SPARK) -> str:
    """SQL expression converting one column per its Airtable type.

    Conversion table parity: lib/DataProcessor.py:44-63. Unknown types
    pass through unchanged (:62-63); *missing from catalog* is handled
    by the caller defaulting to ``singleLineText`` (:31).
    """
    if airtable_type in ("singleLineText", "multilineText"):
        return f"cast({col_ref} as string)"
    if airtable_type == "number":
        # Always double, never int/decimal (lib/DataProcessor.py:46-47).
        return f"cast({col_ref} as double)"
    if airtable_type == "checkbox":
        return f"cast({col_ref} as boolean)"
    if airtable_type == "date":
        # Permissive string parse -> date (lib/DataProcessor.py:50-53).
        if dialect == SPARK:
            return f"to_date(cast({col_ref} as string))"
        return f"cast(cast({col_ref} as string) as date)"
    if airtable_type == "dateTime":
        if dialect == SPARK:
            return f"to_timestamp(cast({col_ref} as string))"
        return f"cast(cast({col_ref} as string) as timestamp)"
    if airtable_type == "multipleAttachments":
        # Keep only each attachment's url (lib/DataProcessor.py:58-59).
        fn = "transform" if dialect == SPARK else "list_transform"
        return f"{fn}({col_ref}, a -> cast(a.url as string))"
    if airtable_type == "multipleSelects":
        fn = "transform" if dialect == SPARK else "list_transform"
        return f"{fn}({col_ref}, x -> cast(x as string))"
    # Unsupported type: passthrough (lib/DataProcessor.py:62-63).
    return col_ref


def typed_projection(df: DataFrame, catalog: Mapping[str, str]) -> DataFrame:
    """Project every column of ``df`` through the catalog's conversions.

    Columns absent from the catalog default to string
    (lib/DataProcessor.py:31). Output column order = input order.
    """
    exprs: list[Column] = []
    for name in df.columns:
        at_type = catalog.get(name, "singleLineText")
        exprs.append(F.expr(convert_sql(f"`{name}`", at_type, SPARK)).alias(name))
    return df.select(*exprs)


#: types whose conversion can fail on malformed input (string/array
#: conversions are total functions).
_FALLIBLE = {"number", "checkbox", "date", "dateTime"}


def _try_convert_sql(col_ref: str, airtable_type: str) -> str:
    """Spark-only fallible conversion that yields NULL instead of
    raising under ANSI mode — the detection probe for quarantine."""
    if airtable_type == "number":
        return f"try_cast({col_ref} as double)"
    if airtable_type == "checkbox":
        return f"try_cast({col_ref} as boolean)"
    if airtable_type == "date":
        return f"try_cast(cast({col_ref} as string) as date)"
    if airtable_type == "dateTime":
        return f"try_to_timestamp(cast({col_ref} as string))"
    return convert_sql(col_ref, airtable_type, SPARK)


def typed_projection_with_quarantine(
    df: DataFrame, catalog: Mapping[str, str]
) -> tuple[DataFrame, DataFrame]:
    """Typed projection with a dead-letter side: returns
    ``(good, quarantine)``.

    A row is quarantined when any fallible conversion turns a NON-NULL
    input into NULL (corrupt value) — the production alternative to
    the reference's log-and-continue (lib/DataProcessor.py:35-37):
    bad records are data to audit, not rows to silently mangle. The
    quarantine frame keeps the ORIGINAL untyped row plus
    ``_bad_fields`` (array of offending column names). Both outputs
    are filters over one scan — Spark evaluates the probe expressions
    in the scan stage, no shuffle, no second read.
    """
    probes: list[tuple[str, Column]] = []
    for name in df.columns:
        at_type = catalog.get(name, "singleLineText")
        if at_type in _FALLIBLE:
            bad = F.col(name).isNotNull() & F.expr(
                _try_convert_sql(f"`{name}`", at_type)
            ).isNull()
            probes.append((name, bad))
    if not probes:
        empty = df.filter(F.lit(False)).withColumn(
            "_bad_fields", F.lit(None).cast("array<string>")
        )
        return typed_projection(df, catalog), empty
    any_bad = probes[0][1]
    for _, b in probes[1:]:
        any_bad = any_bad | b
    reasons = F.array_compact(
        F.array(*[F.when(b, F.lit(n)) for n, b in probes])
    )
    good = typed_projection(df.filter(~any_bad), catalog)
    quarantine = df.filter(any_bad).withColumn("_bad_fields", reasons)
    return good, quarantine
