"""T1 — mention extraction from transcript turns.

Per BASELINE.json input_hint, casualty-record fields arrive embedded in turn
``text``; extraction finds the register fields that the reference reads as
CSV columns (src/mapping.py:96-317 keys). All extraction is JVM-side
``regexp_extract`` (whole-stage codegen; no Python in this hot path — at
10^12 turns this stage dominates scan cost, so it must stay in Tungsten).

Output is long-form-free: one row per turn with one nullable column per
field; a field absent from a turn is null, so the map-side partial agg in
T2's groupBy collapses each conversation's fields without a second shuffle.
Both field lists are rendered as Spark SQL text, so each projection reaches
the JVM in one call instead of one call per Column node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..sqltext import lit

# Register field names, mirroring reference src/mapping.py:96-317.
FIELDS = [
    "SNIMI", "ENIMET", "SSAATY", "SPUOLI", "KANSALAISUUS", "KANSALLISUUS",
    "AIDINKIELI", "LASTENLKM", "AMMATTI", "SOTARVO", "JOSKOODI", "JOSNIMI",
    "SAIKA", "SKUNTA", "KIRJKUNTA", "ASKUNTA", "HAAVAIKA", "HAAVKUNTA",
    "HAAVPAIKKA", "KATOAIKA", "KATOKUNTA", "KATOPAIKKA", "KUOLINAIKA",
    "KUOLINKUNTA", "KUOLINPAIKKA", "MENEHTLUOKKA", "HKUNTA", "HMAA",
    "HPAIKKA", "VAPAA_PAIKKATIETO",
]


def field_pattern(field: str) -> str:
    # \b guards against suffix collisions (SNIMI inside JOSNIMI).
    return rf"\b{field}=([^;]*)"


def extract_mentions(transcripts: DataFrame) -> DataFrame:
    """(conv_id, turn_idx) + one nullable string column per register field."""
    return transcripts.selectExpr(
        "conv_id",
        "turn_idx",
        *[
            f"nullif(trim(regexp_extract(text, {lit(field_pattern(f))}, 1)), '') AS {f.lower()}"
            for f in FIELDS
        ],
    )


def mentions_to_raw_records(mentions: DataFrame) -> DataFrame:
    """Collapse per-turn mentions to one raw record per conversation.

    Each field occurs in at most one turn, so ``max`` (null-skipping, with a
    map-side partial) is the collapse. person_id is recovered from conv_id
    and the record URI minted as DATA_CAS 'p{id}' (reference
    src/csv_to_rdf.py:187-188). One shuffle, keyed by conv_id.
    """
    # the maxes travel as one struct, so the aggregate list reaches the JVM as
    # one expression; f.* unpacks it and the optimizer folds the struct away
    maxes = ", ".join(f"max({f.lower()}) AS {f.lower()}" for f in FIELDS)
    recs = mentions.groupBy("conv_id").agg(F.expr(f"struct({maxes}) AS f"))
    # take everything after the 'conv_' prefix (no fixed width — a bounded
    # substring would silently truncate and collide large pids)
    return recs.selectExpr(
        "conv_id",
        "f.*",
        "CAST(substring(conv_id, 6) AS BIGINT) AS person_id",
        "concat('http://ldf.fi/warsa/casualties/p', CAST(CAST(substring(conv_id, 6) AS BIGINT) AS STRING)) AS record_uri",
    )
