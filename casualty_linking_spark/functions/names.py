"""Person-name unification (reference src/process.py:78-111 `unify_names` and
src/converters.py:61-94 `convert_person_name`).

Implemented as Arrow-batched pandas UDFs: the rule chains are regex rewrites
plus Python ``str.title()`` — title-casing capitalizes after *any* non-letter
(``'(ent. x)'.title()`` → ``'(Ent. X)'``), which Spark's ``initcap`` (word =
whitespace-delimited) cannot reproduce, so exact parity requires Python.
Each chain is written once, as a scalar function; its pandas UDF maps that
function over an Arrow batch. No per-row Python UDF at the Spark level.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F, types as T

from ..sqltext import lit


def unify_family_py(family: str) -> str:
    """unify_family_name's rule chain (src/process.py:82-89), one name at a
    time; the pandas UDF maps it, and the oracle-SQL renderer and golden
    tests call it directly."""
    f = re.sub(r"(\w)0(\w)", r"\1O\2", family or "")
    f = re.sub(r"\s+", " ", f)
    f = f.replace("%", "/")
    f = re.sub(r"(\w\w\s+)(E(?:NT)?\.)\s?(\w+)", r"\1(ent. \3)", f)
    return f.title().replace("(Ent.", "(ent.").replace("Von", "von")


def unify_given_py(given: str) -> str:
    """unify_given_name's rule chain (src/process.py:91-95), one name at a
    time."""
    return (given or "").title().replace("%", "/")


@F.pandas_udf(T.StringType())
def unify_family_name(s: pd.Series) -> pd.Series:
    return s.fillna("").map(unify_family_py)


@F.pandas_udf(T.StringType())
def unify_given_name(s: pd.Series) -> pd.Series:
    return s.fillna("").map(unify_given_py)


_RE_NAME_SPLIT = re.compile(
    r"([A-ZÅÄÖÜÉÓÁ/\-]+(?:\s+\(?E(?:NT)?[\.\s]+[A-ZÅÄÖÜÉÓÁ/\-]+)?\)?)\s*(?:(VON))?,?\s*([A-ZÅÄÖÜÉÓÁ/\- \(\)0-9,.]*)"
)
_RE_PREV_NAME = re.compile(r"([A-ZÅÄÖÜÉÓÁ/\-]{2}) +\(?(E(?:NT)?[\.\s]+)([A-ZÅÄÖÜÉÓÁ/\-]+)\)?")


def convert_person_name_py(raw_name: str) -> tuple[str, str, str]:
    """Pure-python mirror of convert_person_name (src/converters.py:61-94):
    split raw 'LAST, FIRST ...' into (firstnames, lastname, fullname) with
    previous-name syntax normalized to '(ent. X)'."""
    fullname = (raw_name or "").upper()
    m = _RE_NAME_SPLIT.search(fullname)
    lastname, extra, firstnames = m.groups() if m else (fullname, None, "")
    lastname = _RE_PREV_NAME.sub(r"\1 (ent. \3)", str(lastname))
    lastname = lastname.title().replace("(Ent. ", "(ent. ")
    firstnames = (firstnames or "").title()
    if extra:
        lastname = " ".join([extra.lower(), lastname])
    fullname = lastname + (", " + firstnames if firstnames else "")
    return firstnames, lastname, fullname


_NAME_STRUCT = T.StructType(
    [
        T.StructField("given", T.StringType()),
        T.StructField("family", T.StringType()),
        T.StructField("full", T.StringType()),
    ]
)


@F.pandas_udf(_NAME_STRUCT)
def convert_person_name(s: pd.Series) -> pd.DataFrame:
    parts = [convert_person_name_py(v) for v in s.fillna("")]
    return pd.DataFrame(parts, columns=["given", "family", "full"])


def strip_prev_name(family: str) -> str:
    """'Heino (ent. Vanha)' -> 'Heino Vanha'? No — the reference keeps only the
    captured previous name in place: re.sub(r'\\(ent\\.\\s*(.+)\\)', r'\\1', family)
    (src/linker.py:70). JVM-side regexp_replace, as Spark SQL text over the
    column expression ``family``."""
    return f"regexp_replace({family}, {_PREV_NAME}, '$1')"


_PREV_NAME = lit(r"\(ent\.\s*(.+)\)")
