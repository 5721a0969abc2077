"""J3 — rank linking: rank literal -> rank ontology URI.

Reference behavior (link_ranks call, src/linker.py:267-270): after the
URI_MAPPINGS literal repairs ('Alipuseeri'->'Aliupseeri', 'Alikers'->
'Alikersantti', src/process.py:24-25, applied in the records stage), the
SOTARVO literal is matched against rank prefLabels/altLabels by
case-insensitive label equality. Spark plan: the winner for a literal
depends only on lower(label), so the dimension is resolved first (one rank
per lower(label): prefLabel over altLabel, then rank_uri — the reference's
dict iteration order is made a stable total order, SURVEY §4.3) and the
records broadcast-join that resolved dimension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import namespaces as NS
from ..sqltext import triple_exprs


def link_ranks(records: DataFrame, rank_labels: DataFrame) -> DataFrame:
    """-> triples (record_uri, SCHEMA_CAS.rank, rank_uri).

    The argmax runs on the dimension, not on the data: the only operation
    over the records is one broadcast hash join on
    lower(trim(rank_literal)), with no shuffle and no vocabulary pass."""
    best = rank_labels.selectExpr(
        "lower(label) AS label_key",
        "rank_uri",
        "row_number() OVER (PARTITION BY lower(label) ORDER BY is_pref DESC, rank_uri ASC) AS rn",
    ).where("rn = 1")
    links = records.selectExpr("record_uri", "rank_literal").join(
        F.broadcast(best), F.expr("lower(trim(rank_literal)) = label_key")
    )
    return links.selectExpr(*triple_exprs("record_uri", NS.cas("rank"), "rank_uri", "rank_links"))
