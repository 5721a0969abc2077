"""J4 — occupation linking: fuzzy match of the lowercase occupation literal
against the occupation ontology, threshold 0.88 (reference
src/linker.py:287-291 link_occupations(..., score_threshold=0.88)).

Scorer: Jaro-Winkler (sanctioned by BASELINE.json north_star as the
replacement for the reference's jellyfish-based similarity), computed over
UTF-8 bytes by an Arrow-batched pandas UDF (exactly DuckDB's
jaro_winkler_similarity — the oracle runs the same formula).

Plan shape: candidates must share the first character — a broadcast *hash*
join on the first-char key, never a nested-loop cross join. At threshold
0.88 a first-char mismatch essentially never survives (JW weights the
prefix), so blocking trades no recall on realistic data while cutting
candidates 30-60x at the 10^4-label dictionary size (the reference scores
every record against every label, src/linker.py:287-291).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import namespaces as NS
from ..functions.similarity import jaro_winkler
from ..sqltext import lit, triple_exprs

SCORE_THRESHOLD = 0.88

# The scorer feeds a filter on its own output; Catalyst pushes that filter
# below the projection and ends up evaluating the UDF TWICE (two
# ArrowEvalPython nodes — once under the pushed filter, once in the
# projection). Marking the call non-deterministic forbids the duplication,
# halving the Python-boundary crossings of the scoring stage. Values are
# unchanged (the function is pure); only the optimizer's cloning is blocked.
_jaro_winkler_once = jaro_winkler.asNondeterministic()


def link_occupations(records: DataFrame, occupations: DataFrame) -> DataFrame:
    """-> triples (record_uri, BIOC.has_occupation, occ_uri)."""
    recs = records.selectExpr("record_uri", "occupation_literal").where(
        "occupation_literal IS NOT NULL"
    )
    # Score DISTINCT literals, not rows: the literal vocabulary is tiny
    # relative to the corpus (Zipfian occupations), so the expensive UDF pass
    # runs on |vocab| x |ontology| pairs and the per-record resolution is a
    # broadcast hash join. At 10^12 rows this is the difference between an
    # O(rows x labels) UDF scan and an O(vocab x labels) one.
    # coalesce(1): the distinct's reduce output is vocabulary-sized (the
    # whole point of scoring distinct literals), but the exchange keeps the
    # session's shuffle-partition count, so the scoring stage ran as 32
    # near-empty tasks EACH paying a Python-worker dispatch for the pandas
    # UDF (measured ~0.9 s/task of non-CPU wait). One task holds the whole
    # vocabulary. That vocabulary is bounded by the distinct dirty literals
    # in the data, not by the ontology, so the task grows with the corpus's
    # dirt; sizing it from the data is ROADMAP item 3.
    lits = recs.select("occupation_literal").distinct().coalesce(1)
    cond = F.expr("substring(occupation_literal, 1, 1) = substring(label, 1, 1)")
    cands = lits.join(F.broadcast(occupations), cond)

    scored = cands.withColumn(
        "score", _jaro_winkler_once(F.col("occupation_literal"), F.col("label"))
    ).where(f"score >= {lit(SCORE_THRESHOLD)}")

    best_per_lit = scored.selectExpr(
        "occupation_literal",
        "occ_uri",
        "row_number() OVER (PARTITION BY occupation_literal ORDER BY score DESC, occ_uri ASC) AS rn",
    ).where("rn = 1")
    best = recs.join(
        F.broadcast(best_per_lit.select("occupation_literal", "occ_uri")), "occupation_literal"
    )
    return best.selectExpr(
        *triple_exprs("record_uri", NS.BIOC + "has_occupation", "occ_uri", "occupation_links")
    )
