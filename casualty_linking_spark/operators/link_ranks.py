"""J3 — rank linking: rank literal -> rank ontology URI.

Reference behavior (link_ranks call, src/linker.py:267-270): after the
URI_MAPPINGS literal repairs ('Alipuseeri'->'Aliupseeri', 'Alikers'->
'Alikersantti', src/process.py:24-25, applied in the records stage), the
SOTARVO literal is matched against rank prefLabels/altLabels by
case-insensitive label equality. Spark plan: broadcast hash equi-join on
lower(label) + deterministic per-record argmax (prefLabel over altLabel,
then rank_uri — the reference's dict iteration order is made a stable total
order, SURVEY §4.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import namespaces as NS
from ..sqltext import triple_exprs


def link_ranks(records: DataFrame, rank_labels: DataFrame) -> DataFrame:
    """-> triples (record_uri, SCHEMA_CAS.rank, rank_uri).

    Resolution happens per DISTINCT literal, so the only full-data
    operation is a broadcast hash join — no shuffle of the record stream at
    all. coalesce(1) after the vocabulary distinct puts the whole vocabulary
    in one task, as in the unit/occupation linkers. That vocabulary is the
    distinct dirty literals of the data, not the ontology's labels, so it
    grows with the corpus's dirt: sizing this path from the data is ROADMAP
    item 3."""
    recs = records.selectExpr("record_uri", "rank_literal").where("rank_literal IS NOT NULL")
    lits = recs.select("rank_literal").distinct().coalesce(1)
    cands = lits.join(F.broadcast(rank_labels), F.expr("lower(trim(rank_literal)) = lower(label)"))
    best_lit = cands.selectExpr(
        "rank_literal",
        "rank_uri",
        "row_number() OVER (PARTITION BY rank_literal ORDER BY is_pref DESC, rank_uri ASC) AS rn",
    ).where("rn = 1")
    best = recs.join(F.broadcast(best_lit.select("rank_literal", "rank_uri")), "rank_literal")
    return best.selectExpr(*triple_exprs("record_uri", NS.cas("rank"), "rank_uri", "rank_links"))
