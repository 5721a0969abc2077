"""Gazetteer mention detection — dictionary n-gram matching in FREE TEXT.

The structured extractor (operators/extract.py) reads planted ``FIELD=value``
mentions; this operator is the other half of the north-star's "batched
mention detection": finding ontology-dictionary labels anywhere inside
unstructured turn text (the reference reaches label text via its ARPA
lexical-match service, src/linker.py:161-214 — here the dictionary is a
broadcast dimension and matching is pure DataFrame algebra).

Shape, built for the 100 TB posture:

* one corpus scan — tokenize (lower, ``\\W+`` split, the same portable
  normalization the dedup shingles use) and emit every full n-token window
  for exactly the n's that occur in the label dictionary (driver-side
  collect of a handful of ints from the DIM, never data);
* candidate generation is a broadcast hash join of windows against the
  normalized label dictionary — no shuffle of the corpus;
* overlap suppression (longest-match-wins) runs on the MATCH table only,
  which is orders of magnitude smaller than the corpus: one self-anti-join
  keyed on the text-unit id.

Suppression rule (deterministic, relational — no sequential scan): a match
is dropped iff an overlapping match in the same text unit is strictly
longer, or equally long with a strictly earlier start. Two matches at the
same (start, length) — an ambiguous mention whose normalized text appears
under several URIs — are BOTH kept: that is candidate generation for the
downstream linker, not a defect.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .dedup import words_col


def _windows(w: Column, n: int) -> Column:
    """All full n-token windows of token array ``w`` as structs
    (start_tok 1-based, n_words, gram). greatest(...,1) keeps sequence()
    ascending; the otherwise-branch empties the array when the text is
    shorter than n (slice len 0 = typed empty array), so no partial window
    ever escapes."""
    arr = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(w) - (n - 1), F.lit(1))),
        lambda i: F.struct(
            i.alias("start_tok"),
            F.lit(n).alias("n_words"),
            F.array_join(F.slice(w, i, n), " ").alias("gram"),
        ),
    )
    return F.when(F.size(w) >= n, arr).otherwise(F.slice(arr, 1, 0))


def gazetteer_mentions(
    texts: DataFrame,
    labels: DataFrame,
    id_cols: list[str],
    text_col: str = "text",
    label_col: str = "label",
    uri_col: str = "uri",
) -> DataFrame:
    """(``*id_cols``, start_tok, n_words, mention, uri) — every dictionary
    label found in ``text_col``, longest-match-wins on overlaps.

    ``start_tok`` is the 1-based token position of the match; ``mention`` is
    the normalized matched gram. ``labels`` is a dimension table (small —
    it broadcasts); empty-normalizing labels are ignored.
    """
    labn = (
        labels.select(
            F.col(uri_col).alias("uri"),
            words_col(F.col(label_col)).alias("lw"),
        )
        .filter(F.size("lw") > 0)
        .select("uri", F.array_join("lw", " ").alias("gram"), F.size("lw").alias("n_words"))
        .distinct()
    )
    # the label dictionary's distinct word-lengths: a handful of ints off a
    # broadcast-sized dim (driver-side by design, like centroid collects)
    ns = sorted(r[0] for r in labn.select("n_words").distinct().collect())
    if not ns:
        raise ValueError("label dictionary normalizes to no usable labels")

    tw = texts.select(*id_cols, words_col(F.col(text_col)).alias("w"))
    grams = tw.select(
        *id_cols,
        F.explode(F.flatten(F.array(*[_windows(F.col("w"), n) for n in ns]))).alias("g"),
    ).select(*id_cols, "g.start_tok", "g.n_words", "g.gram")

    matches = grams.join(
        F.broadcast(labn.withColumnRenamed("n_words", "n_lab")),
        "gram",
    ).select(*id_cols, "start_tok", "n_words", F.col("gram").alias("mention"), "uri")

    # longest-match-wins: drop a match iff a strictly-dominating overlapping
    # match exists in the same text unit (self-anti-join on the match table)
    spans = matches.select(
        *[F.col(c).alias(f"o_{c}") for c in id_cols],
        F.col("start_tok").alias("o_start"),
        F.col("n_words").alias("o_n"),
    ).distinct()
    cond = F.lit(True)
    for c in id_cols:
        cond = cond & (F.col(c) == F.col(f"o_{c}"))
    cond = (
        cond
        & (F.col("o_start") <= F.col("start_tok") + F.col("n_words") - 1)
        & (F.col("o_start") + F.col("o_n") - 1 >= F.col("start_tok"))
        & (
            (F.col("o_n") > F.col("n_words"))
            | ((F.col("o_n") == F.col("n_words")) & (F.col("o_start") < F.col("start_tok")))
        )
    )
    return matches.join(spans, cond, "left_anti")


def gazetteer_label_index(
    labels: DataFrame, label_col: str = "label", uri_col: str = "uri"
) -> list[tuple[str, int, list[str]]]:
    """Driver-side (gram, n_words, sorted uris) index of a label dimension —
    normalized by the SAME Spark expression the join path uses (never a
    Python re-implementation that could diverge on regex/locale semantics).
    A dim-sized collect, like the centroid collects."""
    labn = (
        labels.select(
            F.col(uri_col).alias("uri"), words_col(F.col(label_col)).alias("lw")
        )
        .filter(F.size("lw") > 0)
        .select("uri", F.array_join("lw", " ").alias("gram"), F.size("lw").alias("n"))
        .distinct()
    )
    idx: dict[tuple[str, int], set[str]] = {}
    for r in labn.collect():
        idx.setdefault((r.gram, r.n), set()).add(r.uri)
    if not idx:
        raise ValueError("label dictionary normalizes to no usable labels")
    return sorted((g, n, sorted(us)) for (g, n), us in idx.items())


def gazetteer_mentions_stateless(
    texts: DataFrame,
    label_index: list[tuple[str, int, list[str]]],
    id_cols: list[str],
    text_col: str = "text",
) -> DataFrame:
    """Same output contract as :func:`gazetteer_mentions`, as a PURE PER-ROW
    expression: the dictionary becomes a literal map (gram -> uris), window
    generation / matching / longest-match suppression all run inside array
    HOFs on the one row — zero shuffle, zero join, trivially usable in a
    Structured Streaming plan (stateless, append-mode safe at any
    micro-batching).

    Trade-off vs the join form: the dictionary must fit in the plan (it is
    a broadcast-sized dim either way), and suppression re-evaluates the
    match array per element — O(k^2) per row in matched-window count k,
    fine for turn/document-sized rows, wrong for book-sized blobs (use the
    join form there)."""
    ns = sorted({n for _, n, _ in label_index})
    lmap = F.map_from_arrays(
        F.array(*[F.lit(g) for g, _, _ in label_index]),
        F.array(*[F.array(*[F.lit(u) for u in us]) for _, _, us in label_index]),
    )
    tw = texts.select(*id_cols, words_col(F.col(text_col)).alias("w"))
    wins = F.flatten(F.array(*[_windows(F.col("w"), n) for n in ns]))
    ms = F.filter(wins, lambda m: F.map_contains_key(lmap, m["gram"]))
    kept = F.filter(
        ms,
        lambda m: ~F.exists(
            ms,
            lambda o: (o["start_tok"] <= m["start_tok"] + m["n_words"] - 1)
            & (o["start_tok"] + o["n_words"] - 1 >= m["start_tok"])
            & (
                (o["n_words"] > m["n_words"])
                | ((o["n_words"] == m["n_words"]) & (o["start_tok"] < m["start_tok"]))
            ),
        ),
    )
    return (
        tw.select(*id_cols, F.explode(kept).alias("m"))
        .select(
            *id_cols,
            "m.start_tok",
            "m.n_words",
            F.col("m.gram").alias("mention"),
            F.explode(F.element_at(lmap, F.col("m.gram"))).alias("uri"),
        )
    )


def entity_cooccurrence(
    mentions: DataFrame, unit_cols: list[str], uri_col: str = "uri"
) -> DataFrame:
    """(uri_a, uri_b, n_units) — co-occurrence edges between detected
    entities: how many text units (conversations, documents) mention BOTH.
    The KG-construction step that turns mention detection into graph
    structure (entity-entity edges weighted by evidence count).

    Shape: distinct (unit, uri) → one groupBy(unit) collecting the SORTED
    entity set → per-row pair expansion via array HOFs (no self-join of the
    mention table) → one count aggregation with map-side combine. The pair
    fan-out is (k choose 2) for a unit mentioning k entities — bounded by
    the unit's length, never by corpus size; uri_a < uri_b canonicalizes
    the edge direction."""
    ents = mentions.select(*unit_cols, F.col(uri_col).alias("uri")).distinct()
    sets = ents.groupBy(*unit_cols).agg(
        F.array_sort(F.collect_set("uri")).alias("es")
    )
    pairs = F.flatten(
        F.transform(
            F.col("es"),
            lambda x, i: F.transform(
                F.slice(F.col("es"), i + 2, F.greatest(F.size("es"), F.lit(1))),
                lambda y: F.struct(x.alias("uri_a"), y.alias("uri_b")),
            ),
        )
    )
    return (
        sets.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.uri_a").alias("uri_a"), F.col("p.uri_b").alias("uri_b"))
        .agg(F.count("*").alias("n_units"))
    )
