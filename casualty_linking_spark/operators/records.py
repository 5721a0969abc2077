"""T2 — the silver casualty-record table: scan-time cleaning, declarative
converters, validators and the quarantine sidecar.

This re-expresses the reference's CSV scan converters
(src/csv_to_rdf.py:123-162), the CASUALTY_MAPPING converter/validator chains
(src/mapping.py:96-317) and the name unification of src/process.py:78-111 as
one projection over the raw record DataFrame — every rule is a Spark SQL
expression (JVM codegen), rendered as text so the whole converter list
reaches the JVM in one call, except the title-casing name unifier (Arrow
pandas UDF, see functions/names.py). The error side-channel (reference
output/errors.csv, src/csv_to_rdf.py:202-203) becomes the ``record_errors``
DataFrame.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, functions as F

from .. import namespaces as NS
from ..dims import CODE_TABLES, URI_MAPPINGS
from ..functions import dates as D
from ..functions import names as N
from ..sqltext import case_map, lit

MUNICIPALITY_PREFIX = NS.MUNICIPALITIES + "k"

# Columns cleaned with x_stripper at scan time (src/csv_to_rdf.py:135-149):
# lowercase 'x' and empty become null; uppercase 'X' survives (and later
# mints a kX municipality URI — vestigial check in convert_graveyards never
# fires on URIs, see src/csv_to_rdf.py:99).
X_STRIPPED = ["askunta", "kirjkunta", "haavkunta", "katokunta", "kuolinkunta", "skunta", "hkunta"]
UPPERCASED = ["kansallisuus", "kansalaisuus"]


def _x_strip(c: str) -> str:
    return f"CASE WHEN trim({c}) IN ('x', '') THEN NULL ELSE trim({c}) END"


def _enum_map(kind: str) -> dict[str, str]:
    ns, table = CODE_TABLES[kind]
    return {k: ns + v for k, v in table.items() if k is not None}


def _enum_col(c: str, kind: str) -> str:
    """convert_from_dict semantics (src/converters.py:101-102): unknown or
    missing key falls back to the None -> Tuntematon default row."""
    ns, table = CODE_TABLES[kind]
    m = "map(" + ", ".join(lit(x) for kv in _enum_map(kind).items() for x in kv) + ")"
    # try_element_at: missing/null key -> null -> Tuntematon default
    return f"coalesce(try_element_at({m}, coalesce({c}, {lit(chr(0))})), {lit(ns + table[None])})"


def _urify(c: str) -> str:
    """urify (src/converters.py:105-107): null-safe prefixing."""
    return f"CASE WHEN {c} IS NOT NULL AND {c} != '' THEN concat({lit(MUNICIPALITY_PREFIX)}, {c}) END"


def _filter_additional_information(c: str) -> str:
    """filter_additional_information (src/converters.py:110-115): values that
    are a substring of any denylisted execution term are blanked."""
    hit = " OR ".join(
        f"instr('{term}', lower({c})) > 0" for term in ("kuolemanrangaistus", "teloitettu", "ammuttu")
    )
    return f"CASE WHEN {c} IS NOT NULL AND ({hit}) THEN NULL ELSE {c} END"


def _fix_rank_literal(c: str) -> str:
    """The two literal-object repairs of URI_MAPPINGS (src/process.py:24-25)
    applied at the column level (equivalent to the triple-level rewrite since
    rank_literal triples come from this column)."""
    return case_map(c, URI_MAPPINGS[:2])


# Upper bound of the death-date validator. The reference validates against
# the day it runs; a fixed bound keeps the error sidecar (and its oracle)
# the same on every day. It lies after every date the register can hold.
DEATH_DATE_BEFORE = datetime.date(2025, 1, 1)

DATE_FIELDS = {
    # column -> (validator after, validator before)
    "saika": (datetime.date(1860, 1, 1), datetime.date(1935, 1, 1)),
    "haavaika": (datetime.date(1939, 11, 28), datetime.date(1945, 4, 25)),
    "katoaika": (datetime.date(1939, 11, 28), datetime.date(1945, 4, 25)),
    "kuolinaika": (datetime.date(1939, 11, 30), DEATH_DATE_BEFORE),
}
DATE_TARGETS = {
    "saika": "date_of_birth",
    "haavaika": "date_of_wounding",
    "katoaika": "date_of_going_mia",
    "kuolinaika": "date_of_death",
}

# raw field -> scan-time cleaning (src/csv_to_rdf.py:135-149)
_CLEANING = {
    **{c: _x_strip(c) for c in X_STRIPPED},
    **{c: f"upper(trim({c}))" for c in UPPERCASED},
    "ammatti": "lower(trim(ammatti))",
}

def _silver_exprs() -> dict[str, str | None]:
    """Silver column -> converter over the cleaned raw fields, in output
    order. None marks the name-unifier pandas UDF outputs, which
    build_records computes in their own projection."""
    out = {
        "conv_id": "conv_id",
        "person_id": "person_id",
        "record_uri": "record_uri",
        "family_name_raw": "snimi",
        "given_names_raw": "enimet",
        # P5 name unification (unify_names, src/process.py:78-111)
        "family_name": None,
        "given_names": None,
        "marital_uri": _enum_col("ssaaty", "marital"),
        "gender_uri": _enum_col("spuoli", "gender"),
        "citizenship_uri": _enum_col("kansalaisuus", "citizenship"),
        "nationality_uri": _enum_col("kansallisuus", "nationality"),
        "mother_tongue_uri": _enum_col("aidinkieli", "language"),
        "perishing_uri": _enum_col("menehtluokka", "perishing"),
        # int(x) if x.isnumeric() else None (src/mapping.py:163)
        "number_of_children": "CASE WHEN lastenlkm RLIKE '^[0-9]+$' THEN CAST(lastenlkm AS INT) END",
        "occupation_literal": "ammatti",
        "rank_literal": _fix_rank_literal("sotarvo"),
        "unit_code": "joskoodi",
        "unit_literal": "josnimi",
        "municipality_of_birth": _urify("skunta"),
        "municipality_of_domicile": _urify("kirjkunta"),
        "municipality_of_residence": _urify("askunta"),
        "municipality_of_wounding": _urify("haavkunta"),
        "municipality_of_going_mia": _urify("katokunta"),
        "municipality_of_death": _urify("kuolinkunta"),
        "municipality_of_burial": _urify("hkunta"),
        "place_of_wounding": "haavpaikka",
        "place_of_going_mia_literal": "katopaikka",
        "place_of_death_literal": "kuolinpaikka",
        "graveyard_number": "hmaa",
        "place_of_burial_number": "hpaikka",
        "additional_information": _filter_additional_information("vapaa_paikkatieto"),
    }
    for src, tgt in DATE_TARGETS.items():
        d, s = D.convert_dates(src)
        out.update({tgt: d, tgt + "_str": s, tgt + "_raw": src})
    # prefLabel 'Family, Given' (src/process.py:108-109) — references the
    # unified output columns, so the name-unifier UDFs are evaluated once.
    out["pref_label"] = "concat_ws(', ', family_name, given_names)"
    return out


_SILVER = _silver_exprs()


def build_records(raw: DataFrame) -> DataFrame:
    """Raw records (extract.mentions_to_raw_records output) -> silver record."""
    cleaned = raw.selectExpr(
        *[f"{_CLEANING.get(c, c)} AS {c}" for c in raw.columns],
        *[e for src in DATE_TARGETS for e in D.date_parts(src)],
    )
    named = cleaned.select(
        "*",
        N.unify_family_name(F.col("snimi")).alias("family_name"),
        N.unify_given_name(F.col("enimet")).alias("given_names"),
    )
    return named.selectExpr(*[f"{e or c} AS {c}" for c, e in _SILVER.items()])


def record_errors(records: DataFrame) -> DataFrame:
    """Quarantine rows mirroring output/errors.csv (person_id, name, column,
    error, original value) — src/csv_to_rdf.py:63-66."""
    parts = []
    for src_col, (after, before) in DATE_FIELDS.items():
        tgt = DATE_TARGETS[src_col]
        err = D.validate_dates(tgt, tgt + "_str", after=after, before=before)
        parts.append(
            f"struct({lit(src_col.upper())} AS `column`, {err} AS error, {tgt}_raw AS value)"
        )
    return records.selectExpr(
        "CAST(person_id AS STRING) AS person_id",
        "concat_ws(' ', family_name_raw, given_names_raw) AS name",
        f"inline(filter(array({', '.join(parts)}), e -> e.error IS NOT NULL))",
    )
