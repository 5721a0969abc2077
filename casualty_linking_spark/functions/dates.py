"""Date conversion & validation (reference semantics: src/converters.py:22-58,
src/validators.py:14-39) as pure JVM-side expressions — no UDFs. The
pipeline's builders render Spark SQL text (see sqltext.py); the duckdb_*
functions render the same logic for the oracle.

The reference's date cell is a union type date|dirty-string|null
(SURVEY.md §1.2); Spark has no unions, so a converted date becomes the column
pair ``(date, str)``: ``date`` is the parsed DATE (century-repaired), ``str``
is the *cleaned* string when unparseable (the reference keeps the cleaned
``datestr``, not the raw, src/converters.py:56), and both are null for
all-'x' unknown-date markers (src/converters.py:32-34).
"""

from __future__ import annotations

import datetime

from pyspark.sql import Column, functions as F

from ..sqltext import lit

# Hard-coded typo repairs, verbatim from reference src/converters.py:38-42.
TYPO_FIXES = [
    ("26.02.0194", "26.02.1944"),
    ("03.07.0194", "03.07.1944"),
    ("13.09.0194", "13.09.1943"),
    ("18.09.0041", "18.09.1941"),
    ("16.12.0199", "16.12.1939"),
]


def clean_date_str(raw: str) -> str:
    """strip, O->0, ','->'.', then the five typo fixes (src/converters.py:37-42)."""
    c = f"replace(replace(trim({raw}), 'O', '0'), ',', '.')"
    for bad, good in TYPO_FIXES:
        c = f"replace({c}, {lit(bad)}, {lit(good)})"
    return c


def is_unknown_date(raw: str) -> str:
    """All characters are 'x' (ignoring dots): an explicit unknown marker
    (src/converters.py:32)."""
    stripped = f"lower(replace({raw}, '.', ''))"
    return f"(isnotnull({raw}) AND length({stripped}) > 0 AND {stripped} RLIKE '^x+$')"


def date_parts(raw: str) -> list[str]:
    """The cleaned string and its parse as ``<raw>_clean`` / ``<raw>_parsed``
    — the intermediate columns convert_dates reads, to be projected before
    it. Binding them once keeps the converter text short: the SQL parser
    caches state for every distinct expression it reads, so repeating the
    cleaning chain in every branch would grow that cache several-fold."""
    cleaned = clean_date_str(raw)
    return [
        f"{cleaned} AS {raw}_clean",
        f"CAST(try_to_timestamp({cleaned}, 'd.M.yyyy') AS DATE) AS {raw}_parsed",
    ]


def convert_dates(raw: str) -> tuple[str, str]:
    """(date_expr, str_expr) SQL text over the raw column ``raw`` and its
    date_parts columns, per the union-type encoding above."""
    cleaned, parsed = f"{raw}_clean", f"{raw}_parsed"
    year = f"year({parsed})"
    # Century repair: years rendered 09xx/10xx are 19xx (src/converters.py:47-48).
    repaired = (
        f"CASE WHEN {year} >= 900 AND {year} <= 1099 "
        f"THEN make_date({year} % 100 + 1900, month({parsed}), dayofmonth({parsed})) "
        f"ELSE {parsed} END"
    )
    missing = f"(isnull({raw}) OR length(trim({raw})) = 0) OR {is_unknown_date(raw)}"
    date_expr = f"CASE WHEN {missing} THEN CAST(NULL AS DATE) ELSE {repaired} END"
    str_expr = (
        f"CASE WHEN {missing} THEN CAST(NULL AS STRING) "
        f"WHEN isnotnull({repaired}) THEN CAST(NULL AS STRING) ELSE {cleaned} END"
    )
    return date_expr, str_expr


def validate_dates(
    date_expr: str,
    str_expr: str,
    after: datetime.date = datetime.date(1939, 11, 28),
    before: datetime.date = datetime.date(1945, 4, 25),
) -> str:
    """Finnish error strings, verbatim semantics of src/validators.py:14-39:
    unparseable non-'xx' strings are invalid; parsed dates must fall in
    [after, before]. The 'xx'-prefixed unresolved strings pass silently."""
    # NB: the 'xx' prefix check is case-sensitive in the reference
    # (src/validators.py:28 compares resolved[:2] != 'xx' directly).
    return (
        f"CASE WHEN isnotnull({str_expr}) AND substring({str_expr}, 1, 2) != 'xx' "
        "THEN 'Päivämäärä ei ole kelvollinen' "
        f"WHEN isnotnull({date_expr}) AND ({date_expr}) < {lit(after)} "
        "THEN 'Päivämäärä liian varhainen' "
        f"WHEN isnotnull({date_expr}) AND ({date_expr}) > {lit(before)} "
        "THEN 'Päivämäärä liian myöhäinen' "
        "ELSE CAST(NULL AS STRING) END"
    )


def date_cmp_str(date_expr: str, str_expr: str) -> str:
    """The string the reference would see for ``str(literal)`` — ISO date when
    parsed, else the cleaned string (drives the Winter-War string compare,
    src/linker.py:189-190)."""
    return f"coalesce(date_format({date_expr}, 'yyyy-MM-dd'), {str_expr})"


def strip_dash(raw: Column) -> Column:
    """strip_dash (src/converters.py:97-98): lone '-' becomes empty."""
    return F.when(F.trim(raw) == "-", F.lit("")).otherwise(raw)


def validate_mother_tongue(resolved: Column, original: Column) -> Column:
    """validate_mother_tongue (src/validators.py:50-54): any non-empty
    original that is not the 'X' marker is flagged 'Epäselvä arvo'."""
    return F.when(
        original.isNotNull()
        & (F.length(F.trim(original)) > 0)
        & (F.upper(original) != "X"),
        F.lit("Epäselvä arvo"),
    )


# DuckDB renderings of the same logic, for oracle_sql().

def duckdb_clean_expr(raw: str) -> str:
    c = f"replace(replace(trim({raw}), 'O', '0'), ',', '.')"
    for bad, good in TYPO_FIXES:
        c = f"replace({c}, '{bad}', '{good}')"
    return c


def duckdb_convert_date_exprs(raw: str) -> tuple[str, str]:
    """(date_expr, str_expr) matching convert_dates()."""
    cleaned = duckdb_clean_expr(raw)
    parsed = f"CAST(try_strptime({cleaned}, '%d.%m.%Y') AS DATE)"
    repaired = (
        f"CASE WHEN year({parsed}) BETWEEN 900 AND 1099 "
        f"THEN make_date(year({parsed}) % 100 + 1900, month({parsed}), day({parsed})) "
        f"ELSE {parsed} END"
    )
    empty = f"({raw} IS NULL OR length(trim({raw})) = 0)"
    unknown = f"regexp_full_match(lower(replace({raw}, '.', '')), 'x+')"
    date_expr = f"CASE WHEN {empty} OR {unknown} THEN NULL ELSE {repaired} END"
    str_expr = (
        f"CASE WHEN {empty} OR {unknown} THEN NULL "
        f"WHEN ({repaired}) IS NOT NULL THEN NULL ELSE {cleaned} END"
    )
    return date_expr, str_expr
