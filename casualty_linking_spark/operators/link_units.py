"""J1/J2 — military-unit linking, the reference's hardest linker
(src/linker.py:117-208).

Two-phase dataflow with an explicit short-circuit (the cost-based structure
Catalyst can't invent, SURVEY §4.3):

* **Path A** (records with a cover number): broadcast equi-join
  records⋈units ON unit_code = covernumber, score every candidate label
  against the record's unit literal, per-record argmax, accept when
  best >= COVER_NUMBER_SCORE_LIMIT (=20, src/linker.py:129,177).
* **left_anti** — records with no cover number OR a sub-threshold best
  (src/linker.py:188) fall through to
* **Path B**: Winter-War period tagging (death < 1941-06-25 string compare,
  src/linker.py:189-192), abbreviation-expanding preprocessor (P14), word
  n-gram explode (ARPA maxNGrams bound, BASELINE.md), and a normalized-label
  equi-join replicating units.sparql:25
  ``LCASE(REPLACE(label,'[,./\\s]','')) = LCASE(REPLACE(ngram,...))``,
  disambiguated by the war-period validator (prefer candidates whose
  conflict matches the record's period) then longest-ngram/URI tie-break.

Skew note: unit labels are Zipfian; path B joins on the *normalized label*
key against a broadcast dictionary, so the big side never shuffles — skew
materializes only in per-task candidate fan-out, bounded by the n-gram cap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import namespaces as NS
from ..functions.dates import date_cmp_str
from ..functions.similarity import ascii_fold, levenshtein_ratio
from ..sqltext import lit, triple_exprs

COVER_NUMBER_SCORE_LIMIT = 20
# the reference's ARPA candidate service allows up to 10-gram queries
# (arpa_services/warsa_casualties_actor_units:21 maxNGrams=10); honoring the
# full bound matters for long unit literals ("2. Komppania / JR 8" only
# produces its full-label candidate at n=5)
MAX_NGRAM = 10
WINTER_WAR_CUTOFF = "1941-06-25"

# Finnish unit-type abbreviation expansions (the role of the
# warsa_linkers.units preprocessor imported at src/linker.py:28 — a
# deterministic regex table; longest-key-first application).
ABBREVIATIONS = [
    (r"Raja\.?JP", "Rajajääkäripataljoona"),
    (r"It\.?Psto", "Ilmatorjuntapatteristo"),
    (r"Kev\.?Os", "Kevyt Osasto"),
    (r"Pion\.?P", "Pioneeripataljoona"),
    (r"Er\.?P", "Erillinen Pataljoona"),
    (r"Tyk\.?KK", "Tykistökoulutuskeskus"),
    (r"Laiv\.?E", "Laivaston Esikunta"),
    (r"RatsuR", "Ratsuväkirykmentti"),
    (r"Le\.?R", "Lentorykmentti"),
    (r"KTR", "Kenttätykistörykmentti"),
    (r"V\.?P", "Viestipataljoona"),
    (r"JR", "Jalkaväkirykmentti"),
    (r"JP", "Jääkäripataljoona"),
]


_WS = lit(r"\s+")
_LABEL_PUNCT = lit(r"[,./\s]")


def preprocess_unit(expr: str) -> str:
    """P14 unit-literal preprocessor: expand abbreviations, collapse space."""
    out = expr
    for pat, repl in ABBREVIATIONS:
        word = lit(r"\b" + pat + r"\b")
        out = f"regexp_replace({out}, {word}, {lit(repl)})"
    return f"trim(regexp_replace({out}, {_WS}, ' '))"


def normalize_label(expr: str) -> str:
    """units.sparql:25 normalization: strip [,./ \\s], lowercase."""
    return f"lower(regexp_replace({expr}, {_LABEL_PUNCT}, ''))"


# contiguous word n-grams of the token array, n = 1..MAX_NGRAM
_NGRAMS = (
    f"flatten(transform(sequence(1, least({MAX_NGRAM}, size(tokens))), "
    "n -> transform(sequence(0, size(tokens) - n), "
    "i -> array_join(slice(tokens, i + 1, n), ' '))))"
)


def link_units(records: DataFrame, unit_labels: DataFrame) -> tuple[DataFrame, DataFrame]:
    """-> (unit link triples, related-period triples).

    ``unit_labels``: exploded (unit_uri, label, cover_number, conflict).
    """
    recs = records.selectExpr(
        "record_uri", "unit_code", "unit_literal",
        f"{date_cmp_str('date_of_death', 'date_of_death_str')} AS death_cmp",
    )

    # ---- Path A: cover-number join + fuzzy argmax ----
    # Scoring runs on DISTINCT (unit_code, unit_literal) pairs — the literal
    # vocabulary is tiny vs the corpus, so the fuzzy pass is O(vocab x labels)
    # and records resolve via a broadcast join (same dataflow shape as the
    # reference's one batched VALUES lookup, src/linker.py:145-147).
    # coalesce(1) after the distinct: the scoring join + per-pair argmax
    # run as one task instead of a fan of near-empty shuffle-partition tasks
    # (as in the occupation linker). The (code, literal) vocabulary is
    # bounded by the distinct dirty literals in the data, not by the unit
    # ontology, so that task grows with the corpus's dirt; sizing it from
    # the data is ROADMAP item 3.
    pairs = (
        recs.where("unit_code IS NOT NULL")
        .select("unit_code", "unit_literal").distinct().coalesce(1)
    )
    cands_a = pairs.join(
        F.broadcast(unit_labels.where("cover_number IS NOT NULL")),
        F.expr("unit_code = cover_number"),
    )
    # score = edit-distance ratio on accent-folded raw label vs literal
    # (reference: max fuzz.ratio over the unit's labels, src/linker.py:171).
    # One argmax over the candidate rows: the best row's unit is the unit
    # with the best per-unit maximum, under the same unit_uri tie-break.
    score = levenshtein_ratio(ascii_fold("label"), ascii_fold("unit_literal"))
    best_pair = cands_a.selectExpr(
        "unit_code", "unit_literal", "unit_uri", f"{score} AS score"
    ).selectExpr(
        "*",
        "row_number() OVER (PARTITION BY unit_code, unit_literal"
        " ORDER BY score DESC, unit_uri ASC) AS rn",
    ).where("rn = 1")
    # one broadcast join covers every record: null cover keys simply don't
    # match, leaving score null — so both the accepted set and the
    # fall-through set (no cover / unknown cover / sub-threshold,
    # src/linker.py:188) are filters over the same joined stream, with NO
    # shuffle of the record stream anywhere in path A.
    scored_recs = recs.join(
        F.broadcast(best_pair.select("unit_code", "unit_literal", "unit_uri", "score")),
        ["unit_code", "unit_literal"],
        "left",
    )
    links_a = scored_recs.where(f"score >= {COVER_NUMBER_SCORE_LIMIT}")
    path_b = scored_recs.where(
        f"unit_code IS NULL OR score IS NULL OR score < {COVER_NUMBER_SCORE_LIMIT}"
    )

    # Winter-War tagging (string compare on the literal the reference sees)
    period = path_b.where(f"death_cmp < {lit(WINTER_WAR_CUTOFF)}").selectExpr(
        *triple_exprs("record_uri", NS.RELATED_PERIOD, lit(NS.WINTER_WAR), "unit_links")
    )

    # ---- Path B: n-gram candidates against normalized labels ----
    # guard: sequence(1, 0) would produce a *descending* sequence in Spark,
    # so empty/missing literals must be filtered before n-gram generation
    prep = path_b.where("unit_literal IS NOT NULL AND trim(unit_literal) != ''").selectExpr(
        "record_uri", "death_cmp",
        f"split({preprocess_unit('unit_literal')}, {_WS}) AS tokens",
    ).where("size(tokens) > 0")
    ngrams = prep.selectExpr("record_uri", "death_cmp", f"explode({_NGRAMS}) AS ngram")
    # Each dictionary label yields TWO normalized keys: the raw form and the
    # abbreviation-EXPANDED form. The record side always expands, so the
    # coverless literal '2./JR 8' becomes '2./Jalkaväkirykmentti 8' and can
    # only hit the expanded key of its label — while the lowercased literal
    # 'jr 8' escapes expansion (case-sensitive \b regex) and needs the raw
    # key. Either key alone measurably loses one dirt class on the planted
    # truth (eval_pr at sf0.01: units recall 0.980 with raw-only, same with
    # expanded-only; 0.991 with both — BENCH/LINK_PR.md). The reference gets
    # this from its
    # Lucene index analyzing several label variants per unit
    # (arpa_services/warsa_casualties_actor_units).
    dim_b = F.broadcast(
        unit_labels.selectExpr(
            "unit_uri",
            "conflict",
            f"explode(array_distinct(array({normalize_label('label')}, "
            f"{normalize_label(preprocess_unit('label'))}))) AS norm_label",
        )
    )
    cands_b = ngrams.selectExpr("*", f"{normalize_label('ngram')} AS norm_ngram").join(
        dim_b, F.expr("norm_ngram = norm_label")
    )
    # war-period validator (Validator(temp_graph) disambiguation,
    # src/linker.py:202-208): candidates whose conflict matches the record's
    # period win; then longest ngram, then URI.
    period_match = (
        f"CAST(conflict = CASE WHEN death_cmp < {lit(WINTER_WAR_CUTOFF)} "
        f"THEN {lit(NS.WINTER_WAR)} ELSE {lit(NS.CONTINUATION_WAR)} END AS INT)"
    )
    best_b = cands_b.selectExpr(
        "record_uri", "unit_uri",
        f"row_number() OVER (PARTITION BY record_uri ORDER BY {period_match} DESC, "
        "length(norm_ngram) DESC, unit_uri ASC) AS rn",
    ).where("rn = 1")

    link_row = triple_exprs("record_uri", NS.cas("unit"), "unit_uri", "unit_links")
    # path A and path B take complementary records and each yields at most
    # one link per record, so the union is already a set
    links = links_a.selectExpr(*link_row).unionByName(best_b.selectExpr(*link_row))
    return links, period
