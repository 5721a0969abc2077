"""J5/J6 — municipality linking.

Reference behavior (link_municipalities, src/linker.py:86-114): (re)compute
each casualty municipality's link to the Finnish Place Name Registry (PNR,
exact case-insensitive label equality — the ARPA pnr_municipality config
filters LCASE(label)=LCASE(ngram)) and to the wartime WarSampo municipality
graph, then set preferred = coalesce(wartime, current, self)
(src/linker.py:108-112). Both dictionaries are tiny -> broadcast equi-joins
on lower(label).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def link_municipalities(
    base_munics: DataFrame, pnr_labels: DataFrame, warsa_labels: DataFrame
) -> DataFrame:
    """base_munics(mun_uri, label) + pnr_labels(pnr_uri, label) +
    warsa_labels(warsa_uri, label) -> linked municipalities dimension with
    current/wartime/preferred columns (the golden column of
    FIXTURES.md §2.2)."""
    out = (
        base_munics.join(
            F.broadcast(pnr_labels.select(F.col("pnr_uri"), F.lower("label").alias("_pl"))),
            F.lower(base_munics.label) == F.col("_pl"),
            "left",
        )
        .drop("_pl")
        .join(
            F.broadcast(warsa_labels.select(F.col("warsa_uri"), F.lower("label").alias("_wl"))),
            F.lower(base_munics.label) == F.col("_wl"),
            "left",
        )
        .drop("_wl")
    )
    return out.select(
        "mun_uri",
        "label",
        F.col("pnr_uri").alias("current_municipality"),
        F.col("warsa_uri").alias("wartime_municipality"),
        F.coalesce("warsa_uri", "pnr_uri", "mun_uri").alias("preferred_municipality"),
    )

