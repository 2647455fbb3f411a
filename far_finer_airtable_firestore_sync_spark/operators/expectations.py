"""Commit expectations: declarative row-quality rules enforced at the
store boundary — the Delta CHECK-constraint / DLT "expectations" shape.

Reference parity: the reference trusts Airtable's schema and drops
malformed records ad hoc inside the convert loop
(/root/reference/lib/AirtableToDatastore.py type-conversion guards);
a declared rule set with a quarantine channel is the scalable version
of the same contract — bad rows are DATA, not exceptions, so one
poisoned record cannot abort a 100 TB sync.

Semantics: rules are (name, sql_predicate) pairs evaluated in order;
a row's ``_violation`` is the FIRST failing rule's name (deterministic
— the oracle replicates the same case chain), NULL when every rule
passes. A predicate that evaluates to NULL counts as a violation
(NULL-hostile by design: an unexpected NULL is exactly what the rule
is guarding against).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def violation_sql(rules: list[tuple[str, str]]) -> str:
    # Rule names are inert labels, not SQL — escape quotes so a name
    # like "can't parse" renders as a valid string literal in BOTH
    # engines instead of malformed SQL (r8 ADVICE). Predicates stay
    # raw SQL by design.
    arms = " ".join(
        "when not coalesce(({pred}), false) then '{name}'".format(
            pred=pred, name=name.replace("'", "''")
        )
        for name, pred in rules
    )
    return f"case {arms} else null end"


def apply_expectations(
    df: DataFrame, rules: list[tuple[str, str]]
) -> DataFrame:
    """Tag every row with its first violated rule (``_violation``
    column, NULL = clean). One projection — no shuffle, no row is
    dropped here; split/quarantine is the caller's routing choice."""
    return df.withColumn("_violation", F.expr(violation_sql(rules)))


def split_expectations(
    df: DataFrame, rules: list[tuple[str, str]]
) -> tuple[DataFrame, DataFrame]:
    """(valid, quarantined) split. Both sides derive from one tagged
    plan; Spark reuses the scan across the two filters. The
    quarantine side keeps ``_violation`` for triage; the valid side
    drops it so the committed schema stays clean."""
    tagged = apply_expectations(df, rules)
    valid = tagged.filter(F.col("_violation").isNull()).drop("_violation")
    quarantined = tagged.filter(F.col("_violation").isNotNull())
    return valid, quarantined
