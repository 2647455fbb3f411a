"""Canonical-JSON row/table checksums, generated for TWO SQL dialects.

Parity target: ``DataProcessor.calculate_checksum``
(reference lib/DataProcessor.py:99-114) hashes a record as
``md5(json.dumps(sorted items))`` with value normalization
(datetimes -> UTC ISO-8601, dates -> ISO, lib/DataProcessor.py:116-133),
and ``calculate_table_checksum`` (lib/DataProcessor.py:150-168) hashes
``{'metadata': ..., 'data': <pk-keyed table map>}``.

The hard part (SURVEY.md §7 hard-part #1) is not MD5 — it is making the
*canonical string* identical across engines, because the DuckDB oracle
must reproduce the Spark value bit-for-bit. So this module is a tiny
code generator: one field spec, two emitters (Spark SQL / DuckDB SQL)
that produce the *same* canonical JSON text:

- keys sorted lexicographically (reference sorts keys, :111),
- strings JSON-escaped (backslash, double-quote; built with chr() so
  the generated SQL itself contains no escape sequences — Spark and
  DuckDB disagree on backslash handling in string literals),
- doubles as ``%.6f`` fixed-point (binary doubles are never exact
  decimal-tie values at >=1 fractional digit, so Java and C rounding
  agree),
- timestamps as ``yyyy-MM-dd HH:mm:ss.SSSSSS`` wall-clock (session TZ
  pinned to UTC; parity with the reference's UTC normalization,
  lib/DataProcessor.py:130-133),
- dates as ISO ``yyyy-MM-dd``,
- booleans as ``true``/``false``, NULL as JSON ``null``.

Everything stays JVM-side in Spark (md5/concat/replace/date_format are
all codegen'd built-ins) — no Python UDF in the hot path.
"""

from __future__ import annotations

from dataclasses import dataclass


SPARK = "spark"
DUCKDB = "duckdb"

#: Supported canonical field kinds.
KINDS = (
    "string",
    "double",
    "long",
    "int",
    "boolean",
    "date",
    "timestamp",
    "array<string>",
    "array<double>",
)


@dataclass(frozen=True)
class Field:
    """A named, typed field participating in canonicalization."""

    name: str
    kind: str

    def __post_init__(self) -> None:
        if self.kind not in KINDS:
            raise ValueError(f"unsupported canonical kind {self.kind!r}; one of {KINDS}")


def _q(ident: str, dialect: str) -> str:
    """Quote an identifier for the dialect."""
    if dialect == SPARK:
        return f"`{ident}`"
    return '"' + ident.replace('"', '""') + '"'


def _json_escape(expr: str) -> str:
    # chr(92)=backslash, chr(34)=double quote: avoids literal escape
    # sequences in generated SQL (dialect-dependent parsing).
    # Control chars that json.dumps always escapes (reference behavior,
    # lib/DataProcessor.py:112) and that would otherwise make the
    # canonical text unparseable JSON: \n \r \t \b \f. Remaining
    # C0 chars (0x00-0x07, 0x0b, 0x0e-0x1f) pass through raw — they
    # cannot appear in the fixture domain and both emitters agree, so
    # checksum parity is unaffected; json.loads(strict=False) reads them.
    out = f"replace({expr}, chr(92), chr(92) || chr(92))"
    out = f"replace({out}, chr(34), chr(92) || chr(34))"
    for code, letter in ((10, "n"), (13, "r"), (9, "t"), (8, "b"), (12, "f")):
        out = f"replace({out}, chr({code}), chr(92) || '{letter}')"
    return out


def _double_repr(expr: str, dialect: str) -> str:
    """Fixed-point 6-decimal canonical text for a double — computed in
    INTEGER space, not printf.

    ``%.6f`` is NOT portable: Java's Formatter pads zeros beyond the
    shortest round-trip repr while C expands the exact binary value, so
    digits diverge once |x| needs >~15 significant digits (found by the
    cross-engine fuzz test at |x| ~ 1e12). Instead: one IEEE multiply
    ``abs(x) * 1e6`` and one ``round`` (half-away in both engines),
    then exact bigint div/mod formatting — bit-identical everywhere.

    Tiers: |x| < 8e12 -> full 6-decimal fixed point; larger -> integer
    part via decimal(38,0) (fraction is below 1 ulp there) with
    ``.000000``; >= 1e37 or non-finite -> explicit markers.
    """
    x = f"cast({expr} as double)"
    div = "div" if dialect == SPARK else "//"
    n = f"cast(round(abs({x}) * 1000000.0) as bigint)"
    sign = f"case when {x} < cast(0 as double) then '-' else '' end"
    small = (
        f"{sign} || cast({n} {div} 1000000 as string) || '.' || "
        f"lpad(cast({n} % 1000000 as string), 6, '0')"
    )
    big = (
        f"{sign} || cast(cast(round(abs({x})) as decimal(38,0)) as string)"
        " || '.000000'"
    )
    def scaled(denom: str) -> str:
        # one IEEE divide (correctly rounded, engine-identical), one
        # round, exact decimal formatting — no printf anywhere
        return (
            f"{sign} || 'e{denom}:' || "
            f"cast(cast(round(abs({x}) / 1.0e{denom}) as decimal(38,0)) as string)"
        )

    return (
        f"case when {expr} is null then null "
        f"when isnan({x}) then 'NaN' "
        f"when {x} = cast('Infinity' as double) then 'Infinity' "
        f"when {x} = cast('-Infinity' as double) then '-Infinity' "
        f"when abs({x}) >= cast(1e160 as double) then ({scaled('271')}) "
        f"when abs({x}) >= cast(1e67 as double) then ({scaled('130')}) "
        f"when abs({x}) >= cast(1e37 as double) then ({scaled('30')}) "
        f"when abs({x}) >= cast(8e12 as double) then ({big}) "
        f"else ({small}) end"
    )


def _scalar_repr(expr: str, kind: str, dialect: str) -> str:
    """SQL producing the canonical JSON text of one scalar value.

    Returns NULL (SQL) when the value is NULL; callers coalesce to the
    JSON literal 'null'.
    """
    if kind == "string":
        return f"chr(34) || {_json_escape(expr)} || chr(34)"
    if kind == "double":
        return _double_repr(expr, dialect)
    if kind in ("long", "int"):
        return f"cast({expr} as string)"
    if kind == "boolean":
        return f"case when {expr} then 'true' when not {expr} then 'false' end"
    if kind == "date":
        if dialect == SPARK:
            return f"chr(34) || date_format({expr}, 'yyyy-MM-dd') || chr(34)"
        return f"chr(34) || strftime({expr}, '%Y-%m-%d') || chr(34)"
    if kind == "timestamp":
        if dialect == SPARK:
            body = f"date_format({expr}, 'yyyy-MM-dd HH:mm:ss.SSSSSS')"
        else:
            body = f"strftime({expr}, '%Y-%m-%d %H:%M:%S.%f')"
        return f"chr(34) || {body} || chr(34)"
    raise ValueError(f"not a scalar kind: {kind}")


def _value_repr(expr: str, kind: str, dialect: str) -> str:
    """Canonical JSON text for a value of any supported kind (may be NULL)."""
    if kind.startswith("array<"):
        elem_kind = kind[len("array<") : -1]
        elem = _scalar_repr("x", elem_kind, dialect)
        elem = f"coalesce({elem}, 'null')"
        if dialect == SPARK:
            inner = f"concat_ws(',', transform({expr}, x -> {elem}))"
        else:
            # array_to_string([]) is NULL in DuckDB (concat_ws is '' in
            # Spark) — coalesce for empty-array parity.
            inner = f"coalesce(array_to_string(list_transform({expr}, x -> {elem}), ','), '')"
        return f"case when {expr} is null then null else '[' || {inner} || ']' end"
    return _scalar_repr(expr, kind, dialect)


def canonical_row_sql(
    fields: tuple[Field, ...] | list[Field],
    dialect: str,
    col_prefix: str = "",
) -> str:
    """SQL expression: canonical JSON object string for a row.

    Keys emitted in sorted order (parity: lib/DataProcessor.py:111).
    ``col_prefix`` qualifies column references (e.g. ``'s.'``).
    """
    parts: list[str] = []
    for f in sorted(fields, key=lambda f: f.name):
        ref = f"{col_prefix}{_q(f.name, dialect)}"
        val = f"coalesce({_value_repr(ref, f.kind, dialect)}, 'null')"
        parts.append(f"chr(34) || '{f.name}' || chr(34) || ':' || {val}")
    body = " || ',' || ".join(parts) if parts else "''"
    return f"('{{' || {body} || '}}')"


def checksum_sql(
    fields: tuple[Field, ...] | list[Field],
    dialect: str,
    col_prefix: str = "",
) -> str:
    """SQL expression: MD5 hex of the canonical row JSON (row checksum D2)."""
    return f"md5({canonical_row_sql(fields, dialect, col_prefix)})"


def table_json_sql(
    fields: tuple[Field, ...] | list[Field],
    pk: str,
    dialect: str,
    source_relation: str,
) -> str:
    """SQL *query fragment* producing the one-row canonical table JSON.

    The whole table pivoted into a pk-keyed JSON object, keys sorted —
    the engine's representation of the reference's table-as-one-document
    map (lib/UpdateStrategies.py:434-437). Emitted as a scalar-subquery
    SQL string usable in both dialects.

    At scale this is an intentional single-row aggregate: a two-level
    (partial -> final) string aggregation. The reference caps the same
    way (one Firestore document, SURVEY.md §7 hard-part #5).
    """
    pkq = _q(pk, dialect)
    if dialect == SPARK:
        agg = table_json_agg_sql(fields, pk)
        return (
            f"(select {agg} from {source_relation} "
            f"where {pkq} is not null)"
        )
    entry = _table_entry_sql(fields, pk, dialect)
    return (
        f"(select '{{' || coalesce(string_agg({entry}, ',' order by cast({pkq} as string)), '') || '}}' "
        f"from {source_relation} where {pkq} is not null)"
    )


def _table_entry_sql(
    fields: tuple[Field, ...] | list[Field], pk: str, dialect: str
) -> str:
    """Per-row ``"<pk>": {<row json>}`` fragment shared by both dialects."""
    pk_field = next(f for f in fields if f.name == pk)
    pkq = _q(pk, dialect)
    key_txt = f"coalesce({_value_repr(pkq, pk_field.kind, dialect)}, 'null')"
    if pk_field.kind not in ("string", "date", "timestamp"):
        # JSON object keys must be strings.
        key_txt = f"chr(34) || {key_txt} || chr(34)"
    row_json = canonical_row_sql(fields, dialect)
    return f"{key_txt} || ':' || {row_json}"


def table_json_agg_sql(fields: tuple[Field, ...] | list[Field], pk: str) -> str:
    """Spark *aggregate expression* for the canonical table JSON —
    usable directly in ``df.agg(F.expr(...))`` without a temp view.
    Caller must pre-filter ``pk IS NOT NULL`` rows."""
    pkq = _q(pk, SPARK)
    entry = _table_entry_sql(fields, pk, SPARK)
    agg = (
        f"concat_ws(',', transform("
        f"array_sort(collect_list(struct(cast({pkq} as string) as k, {entry} as e))),"
        f" p -> p.e))"
    )
    return f"'{{' || {agg} || '}}'"


def table_checksum_sql(table_json_expr: str, table_name: str, view_name: str | None) -> str:
    """MD5 over ``{"data": <table json>, "metadata": {...}}``.

    Shape parity with lib/DataProcessor.py:161-166 (sort_keys puts
    'data' before 'metadata'). Dialect-neutral (pure concat/md5).
    """
    vn = "null" if view_name is None else f"chr(34) || '{view_name}' || chr(34)"
    meta = (
        f"'{{' || chr(34) || 'Name' || chr(34) || ':' || chr(34) || '{table_name}' || chr(34)"
        f" || ',' || chr(34) || 'ViewName' || chr(34) || ':' || {vn} || '}}'"
    )
    return (
        f"md5('{{' || chr(34) || 'data' || chr(34) || ':' || {table_json_expr}"
        f" || ',' || chr(34) || 'metadata' || chr(34) || ':' || {meta} || '}}')"
    )
