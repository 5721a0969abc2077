"""Spark SQL text builders for the pipeline operators.

Every ``F.*`` call is a py4j round trip, so a projection written as a tree
of Column calls costs one round trip per node — thousands per stage on the
pipeline path. The operators instead render each projection or predicate as
Spark SQL text and hand it to the JVM once (``F.expr`` / ``selectExpr``),
where the parser builds the same expression tree. Pandas UDFs stay Column
objects; everything else on the pipeline path goes through these helpers.
"""

from __future__ import annotations

import datetime

# Spark SQL string literals treat backslash as an escape character
# (spark.sql.parser.escapedStringLiterals=false, the default), so it is
# escaped along with the quote; control characters go through \\uXXXX.
_ESCAPES = {"\\": "\\\\", "'": "\\'"}


def lit(v) -> str:
    """A Python constant as a Spark SQL literal of the type ``F.lit`` gives
    it: str -> STRING, bool -> BOOLEAN, int -> INT, float -> DOUBLE,
    date -> DATE, None -> NULL, list -> ARRAY."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return repr(v) + "D"
    if isinstance(v, datetime.date):
        return f"DATE'{v.isoformat()}'"
    if isinstance(v, (list, tuple)):
        return "array(" + ", ".join(lit(x) for x in v) + ")"
    out = []
    for ch in str(v):
        if ch in _ESCAPES:
            out.append(_ESCAPES[ch])
        elif ord(ch) < 0x20:
            out.append(f"\\u{ord(ch):04x}")
        else:
            out.append(ch)
    return "'" + "".join(out) + "'"


def case_map(expr: str, pairs) -> str:
    """Chained exact-value rewrite: each (bad, good) pair replaces ``expr``
    (a column, function call or CASE expression) when it equals ``bad``,
    applied in order (a later pair sees the output of the earlier ones)."""
    out = expr
    for bad, good in pairs:
        out = f"CASE WHEN {out} = {lit(bad)} THEN {lit(good)} ELSE {out} END"
    return out


def triple_exprs(subj: str, pred: str, obj: str, graph_kind: str) -> list[str]:
    """The seven triple columns of a URI-object link row: ``subj`` and
    ``obj`` are SQL expressions, ``pred`` and ``graph_kind`` constants."""
    return [
        f"{subj} AS subj",
        f"{lit(pred)} AS pred",
        f"{obj} AS obj",
        "'uri' AS obj_type",
        "CAST(NULL AS STRING) AS lang",
        "CAST(NULL AS STRING) AS datatype",
        f"{lit(graph_kind)} AS graph_kind",
    ]
