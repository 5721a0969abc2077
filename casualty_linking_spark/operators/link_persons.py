"""J7/J7a — person record linkage (casualty record ↔ WarSampo person actor)
and connected-components canonicalization.

Reference behavior (link_casualties, src/linker.py:211-239): build an
11-field feature row per DeathRecord (_generate_casualties_dict,
src/linker.py:40-83), then run the dedupe RecordLink model (seeded RNG,
217 training pairs, threshold_ratio=0.85). The active-learning model is
non-relational and non-deterministic-by-construction; per SURVEY §7.3 the
*contract* is the emitted links, so the scorer here is a fixed
logistic-weight model over the same comparison fields — Jaro-Winkler for
the String fields, exact-match for the non-fuzzy DateTime fields,
set-intersection for the Custom fields (intersection_comparator), relative
difference for rank_level (Price) — thresholded at 0.85 like the
reference's threshold_ratio, followed by greedy one-to-one matching
(iterated mutual-best as one window chain). connected_components serves
general graphs; the pipeline projects its matching's components.

Plan shape (SURVEY §2.3 J7): **blocked** candidate join — block key =
(first 3 chars of folded lower family name, death year). Never a cartesian
product. Zipfian family names make the block key skewed: AQE skew-join
splits oversized partitions at runtime, and ``salt_buckets`` > 1 adds
deterministic key salting (records side: hash-mod salt; actors side:
replicate each row to every salt bucket) for clusters AQE can't split.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from .. import namespaces as NS
from ..functions.names import strip_prev_name
from ..functions.similarity import ascii_fold, jaro_winkler_names, phonetic_key
from ..sqltext import lit, triple_exprs

THRESHOLD = 0.85
_WS = lit(r"\s+")

# Calibrated logistic weights, fitted offline from labelled training pairs
# by scripts/fit_link_weights.py (the deterministic stand-in for dedupe's
# RecordLink training, src/linker.py:233-237) — see link_weights.py for the
# fit provenance and its measured validation P/R. dict() copy so tests/fit
# can patch WEIGHTS without mutating the generated module.
from .link_weights import FITTED_BIAS, FITTED_WEIGHTS

WEIGHTS = dict(FITTED_WEIGHTS)
BIAS = FITTED_BIAS


def casualty_features(records: DataFrame, rank_links: DataFrame, unit_links: DataFrame,
                      ranks_dim: DataFrame, munics_dim: DataFrame) -> DataFrame:
    """J7a — the reference's _generate_casualties_dict as aggregation joins:
    one row per record with given/family/rank/rank_level/birth_place/dates/
    units (src/linker.py:40-83; golden fixture src/tests.py:32-59)."""
    base = records.selectExpr(
        "record_uri",
        "given_names AS given",
        # family with '(ent. X)' -> 'X' in place (src/linker.py:70)
        f"{strip_prev_name('family_name')} AS family",
        "date_format(date_of_birth, 'yyyy-MM-dd') AS birth_iso",
        "date_format(date_of_death, 'yyyy-MM-dd') AS death_iso",
        "municipality_of_birth",
    )
    ranks = rank_links.selectExpr("subj AS record_uri", "obj AS rank_uri")
    units = unit_links.groupBy(F.expr("subj AS record_uri")).agg(
        F.expr("sort_array(collect_set(obj)) AS units")
    )
    lvl = ranks_dim.selectExpr("rank_uri", "level AS rank_level")
    # birth_place = {current, wartime} municipality of the birth municipality,
    # nulls dropped (src/linker.py:54-56,71)
    mun = munics_dim.selectExpr(
        "mun_uri AS municipality_of_birth",
        "array_compact(array_distinct(array(current_municipality, wartime_municipality)))"
        " AS birth_place",
    )
    return (
        base.join(ranks, "record_uri", "left")
        .join(F.broadcast(lvl), "rank_uri", "left")
        .join(units, "record_uri", "left")
        .join(F.broadcast(mun), "municipality_of_birth", "left")
        .selectExpr(
            "record_uri", "given", "family", "birth_iso", "death_iso",
            "CASE WHEN rank_uri IS NOT NULL THEN array(rank_uri) END AS `rank`",
            "rank_level",
            "birth_place",
            "units",
        )
    )


def _block_keys(
    family: str,
    death_iso: str,
    birth_iso: str,
    given: str | None = None,
    name_only_always: bool = False,
) -> str:
    """Four blocking keys per row, as Spark SQL text over the given column
    expressions: (folded family 3-prefix × death|birth
    year) plus (phonetic consonant-skeleton key × death|birth year). The
    year union keeps recall when one date is dirty (a record whose death
    date failed conversion still blocks on its birth year); the phonetic
    pass keeps recall when the family name itself is misspelled inside the
    first three characters — the reference reaches those via Lucene '~1'
    edit-distance fuzzing (SPARQL/arpa_menehtyneet_persons.sparql:20-23),
    which a prefix block alone cannot mirror. '?' placeholders never match
    the fully-dated actor side; the 'P' prefix keeps the two key families
    disjoint.

    When ``given`` is provided, a fifth NAME-ONLY key
    ('N|<phonetic skeleton>|<folded given initial>') covers records where
    BOTH dates failed conversion — otherwise all four year-keys carry '?'
    and such records get zero candidates (measured: the only person-recall
    misses on the planted truth). The reference has no such blind spot
    because its Lucene retrieval is name-first, dates enter only at scoring
    (src/linker.py:235-246). Skew posture at 10^12 rows: the actor side
    emits the key for every row (``name_only_always=True``) but the record
    side probes it only for the both-dates-unparseable sliver of the corpus
    (~0.2% under the reference's documented dirt rates), and the key itself
    is the FULL name skeleton + given initial — far finer than the fam3
    prefix — so per-block fan-out stays bounded."""
    # concat (not concat_ws) everywhere: concat is NULL-strict, so a null
    # family/given yields a NULL key, which an equi-join never matches —
    # exactly the DuckDB oracle's NULL-equality semantics. concat_ws would
    # silently DROP the null component and let two null-named rows block
    # together on the year alone, a Spark/oracle divergence on any corpus
    # with missing names.
    fam3 = f"substring({ascii_fold(f'lower({family})')}, 1, 3)"
    phon = phonetic_key(family)
    dy = f"concat('D', coalesce(substring({death_iso}, 1, 4), '?'))"
    by = f"concat('B', coalesce(substring({birth_iso}, 1, 4), '?'))"
    base = (
        f"array(concat({fam3}, '|', {dy}), concat({fam3}, '|', {by}), "
        f"concat({phon}, '|', {dy}), concat({phon}, '|', {by}))"
    )
    if given is None:
        return base
    # one name key per family TOKEN (full string + first + last, deduped):
    # a previous-name family ('Korhonen Hämäläinen' after the reference's
    # in-place '(ent. X)' substitution) must block against an actor named by
    # EITHER token — the reference's Lucene index is token-analyzed, so a
    # one-token query matches multi-token names for free.
    toks = f"split({family}, {_WS})"
    init = f"substring({ascii_fold(f'lower({given})')}, 1, 1)"

    def nk(c: str) -> str:
        return f"concat('N|', {phonetic_key(c)}, '|', {init})"

    name_keys = (
        f"array_distinct(array({nk(family)}, {nk(f'element_at({toks}, 1)')}, "
        f"{nk(f'element_at({toks}, -1)')}))"
    )
    if name_only_always:
        return f"concat({base}, {name_keys})"
    return (
        f"CASE WHEN ({death_iso}) IS NULL AND ({birth_iso}) IS NULL "
        f"THEN concat({base}, {name_keys}) ELSE {base} END"
    )


def _eq_feature(a: str, b: str) -> str:
    """1.0 equal, 0.0 differing, 0.5 when either side missing (dedupe's
    'has missing' handling)."""
    return f"CASE WHEN {a} IS NULL OR {b} IS NULL THEN 0.5D WHEN {a} = {b} THEN 1.0D ELSE 0.0D END"


def _contains_feature(arr: str, x: str) -> str:
    """1.0 when ``x`` is in ``arr``, 0.0 when not, 0.5 when either side is
    missing. Empty (non-null) arrays carry no evidence either way — dedupe's
    missing-value 0.5, same as null (array_compact can yield [] when every
    variant was null)."""
    return (
        f"CASE WHEN {arr} IS NULL OR size({arr}) = 0 OR {x} IS NULL THEN 0.5D "
        f"WHEN array_contains({arr}, {x}) THEN 1.0D ELSE 0.0D END"
    )


# The fused name scorer feeds the score filter; marked non-deterministic so
# Catalyst cannot push that filter below the projection and evaluate the
# UDF a second time (the same guard as the occupation linker's scorer).
_jaro_winkler_names_once = jaro_winkler_names.asNondeterministic()

_FEATURES = {
    "jw_given": "jw.given",
    "jw_family": "jw.family",
    "birth_eq": _eq_feature("birth_iso", "a_birth"),
    "death_eq": _eq_feature("death_iso", "a_death"),
    "place_eq": _contains_feature("birth_place", "a_place"),
    "rank_eq": _contains_feature("`rank`", "a_rank"),
    "unit_eq": _contains_feature("units", "a_unit"),
    "level_sim": (
        "CASE WHEN rank_level IS NULL OR a_rank_level IS NULL THEN 0.5D "
        "ELSE 1.0D - abs(rank_level - a_rank_level) "
        "/ CAST(greatest(rank_level, a_rank_level, 1) AS DOUBLE) END"
    ),
}


def score_pairs(pairs: DataFrame) -> DataFrame:
    """Feature vector + logistic score per candidate pair. Column contract:
    casualty side (given, family, birth_iso, death_iso, rank, rank_level,
    birth_place, units) vs actor side (a_given, a_family, a_birth, a_death,
    a_rank, a_rank_level, a_place, a_unit)."""
    jw = _jaro_winkler_names_once(
        F.expr("lower(given)"), F.expr("lower(a_given)"),
        F.expr("lower(family)"), F.expr("lower(a_family)"),
    )
    feats = (
        pairs.withColumn("jw", jw)
        .selectExpr("*", *[f"{e} AS {name}" for name, e in _FEATURES.items()])
        .drop("jw")
    )
    z = " + ".join([lit(BIAS)] + [f"{lit(w)} * {name}" for name, w in WEIGHTS.items()])
    return feats.selectExpr("*", f"1.0D / (1.0D + exp(-({z}))) AS score")


def _greedy_match(scored: DataFrame, rounds: int = 3) -> DataFrame:
    """Iterated mutual-best over (record_uri, actor_uri, score): each round
    keeps pairs that are their record's AND their actor's best remaining
    option (ties broken by partner URI), then removes both endpoints. The
    matches over all rounds are a matching (every endpoint appears at most
    once), the property Pipeline.run's projected t4_components relies on.

    One window chain over the pair rows: each row carries ``live`` (neither
    endpoint matched yet) and ``hit`` (matched in some round), and a round
    is four projections over the previous round's. Ordering ``live DESC``
    first makes each window's first row a live one whenever the partition
    has any, so the windows see exactly the remaining pairs. Every
    projection reads only the one before it, so the plan reads ``scored``
    once and grows linearly with ``rounds``: no round needs a lineage cut."""
    cur = scored.selectExpr(
        "record_uri", "actor_uri", "score", "true AS live", "false AS hit"
    )
    keep = ["record_uri", "actor_uri", "score", "live", "hit"]
    for _ in range(rounds):
        cur = (
            cur.selectExpr(
                *keep,
                "live AND row_number() OVER (PARTITION BY record_uri"
                " ORDER BY live DESC, score DESC, actor_uri) = 1 AS best_r",
            )
            .selectExpr(
                *keep,
                "best_r AND row_number() OVER (PARTITION BY actor_uri"
                " ORDER BY live DESC, score DESC, record_uri) = 1 AS m",
            )
            .selectExpr("*", "max(m) OVER (PARTITION BY actor_uri) AS a_used")
            .selectExpr(
                "record_uri", "actor_uri", "score",
                "live AND NOT a_used AND NOT max(m) OVER (PARTITION BY record_uri) AS live",
                "hit OR m AS hit",
            )
        )
    return cur.where("hit").select("record_uri", "actor_uri")


def oversized_block_keys(
    left: DataFrame, right: DataFrame, block_cap: int
) -> DataFrame:
    """Block keys whose candidate-pair count |left_bk| × |right_bk| exceeds
    ``block_cap`` — (bk, n_left, n_right, n_pairs) rows. Two map-side-
    combinable aggs + a key-only join; cost is O(distinct keys), not pairs."""
    ln = left.groupBy("bk").agg(F.count(F.lit(1)).alias("n_left"))
    rn = right.groupBy("bk").agg(F.count(F.lit(1)).alias("n_right"))
    return (
        ln.join(rn, "bk")
        .withColumn("n_pairs", F.col("n_left") * F.col("n_right"))
        .filter(F.col("n_pairs") > block_cap)
    )


def candidate_pairs(
    features: DataFrame,
    actors: DataFrame,
    salt_buckets: int = 1,
    block_cap: int | None = None,
) -> DataFrame:
    """Blocked candidate join: every (record, actor) pair sharing at least
    one block key, once per pair, with the record's feature columns, the
    actor side renamed ``a_*`` (:func:`score_pairs`' column contract) and
    one shared ``bk``.

    ``block_cap`` (off by default — semantics identical to the uncapped
    join) drops block keys whose candidate-pair count would exceed the
    cap BEFORE the pair join. This is the explicit guard for the failure
    mode measured in BENCH/LINK_PR.md: a low-cardinality name vocabulary
    makes pair counts quadratic in corpus size (13.2M pairs at 20k synth
    records), and at 10^12 rows one hot surname×year block can dominate a
    stage. The reference has the same guard implicitly — its Lucene
    retrieval returns top-N hits per query, silently truncating hot blocks
    (src/linker.py Lucene-based candidate search); here the truncation is
    explicit, deterministic, and observable via :func:`oversized_block_keys`
    (log it, alert on it, or route dropped blocks to a finer key). A record
    participating in several keys still pairs through its surviving keys."""
    left = features.selectExpr(
        "*", f"explode({_block_keys('family', 'death_iso', 'birth_iso', 'given')}) AS bk"
    )
    right = actors.selectExpr(
        "actor_uri",
        "given AS a_given",
        "family AS a_family",
        "birth_iso AS a_birth",
        "death_iso AS a_death",
        "rank_uri AS a_rank",
        "rank_level AS a_rank_level",
        "unit_uri AS a_unit",
        "birth_place AS a_place",
        "explode({}) AS bk".format(
            _block_keys("family", "death_iso", "birth_iso", "given", name_only_always=True)
        ),
    )

    if block_cap is not None:
        over = oversized_block_keys(left, right, block_cap).select("bk")
        left = left.join(F.broadcast(over), "bk", "left_anti")
        right = right.join(F.broadcast(over), "bk", "left_anti")

    if salt_buckets > 1:
        # deterministic salting for Zipfian blocks: big side takes a
        # hash-derived bucket, dictionary side replicates into every bucket
        left = left.selectExpr("*", f"pmod(hash(record_uri), {salt_buckets}) AS salt")
        right = right.selectExpr("*", f"explode(sequence(0, {salt_buckets - 1})) AS salt")
        join_keys = ["bk", "salt"]
    else:
        join_keys = ["bk"]

    return left.join(right, join_keys).dropDuplicates(["record_uri", "actor_uri"])


def link_persons(
    features: DataFrame,
    actors: DataFrame,
    salt_buckets: int = 1,
    block_cap: int | None = None,
) -> DataFrame:
    """Blocked candidate join + logistic scoring + mutual-best-match.
    -> triples (record_uri, CRM.P70_documents, actor_uri).
    ``salt_buckets`` and ``block_cap``: see :func:`candidate_pairs`."""
    scored = (
        score_pairs(candidate_pairs(features, actors, salt_buckets, block_cap))
        .where(f"score >= {lit(THRESHOLD)}")
        .select("record_uri", "actor_uri", "score")
    )

    # Iterated mutual-best match (3 rounds), deterministic tie-break on the
    # partner URI. One pass alone under-matches: when record X's top score
    # TIES between its true actor and a look-alike already claimed by its
    # own record, X picks the look-alike, the look-alike doesn't
    # reciprocate (its own record ranks first in its actor window), and X
    # matches nothing even though X's true actor's best IS X. Removing each
    # round's matches and re-running is the distributed equivalent of the
    # reference's greedy one-to-one matching (dedupe matchBlocks: take pairs
    # by descending score, skipping used partners; src/linker.py:246) — a
    # fixed 3 rounds resolves two-deep tie
    # cascades, and residual ambiguity stays conservatively unmatched.
    # The rounds are windows over the one set of scored pairs, so the whole
    # linkage is one lazy plan: it runs inside the caller's action.
    mutual = _greedy_match(scored, rounds=3)
    return mutual.selectExpr(
        *triple_exprs("record_uri", NS.CRM + "P70_documents", "actor_uri", "documents_links")
    )


def _large_star(sym: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., 'Connected Components in
    MapReduce and Beyond'): every neighbor of u strictly larger than u is
    connected to m = min(Γ(u) ∪ {u}). Input is the bidirectional (u, v)
    pair set; output is an undirected edge set as (a, b) rows."""
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("u", "mn").alias("m"))
    )
    return (
        sym.filter(F.col("v") > F.col("u"))
        .join(mins, "u")
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
        .distinct()
    )


def _small_star(edges_ab: DataFrame) -> DataFrame:
    """One small-star round: keying each undirected edge by its larger
    endpoint u, every smaller neighbor (and u itself) is connected to
    m = min of u's smaller neighborhood; self-loops dropped."""
    d = edges_ab.select(
        F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
    )
    mins = (
        d.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("u", "mn").alias("m"))
    )
    nbrs = d.join(mins, "u").select(F.col("v").alias("a"), F.col("m").alias("b"))
    selfs = mins.select(F.col("u").alias("a"), F.col("m").alias("b"))
    return nbrs.unionByName(selfs).filter(F.col("a") != F.col("b")).distinct()


def connected_components(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """Canonicalize sameAs/link closures (the GraphFrames-free CC of SURVEY
    §4.3). edges(src, dst) undirected. Returns (vertex, component) with
    component = min vertex id (lexicographic) of the connected component.
    (The pipeline's person links are a matching, so ``Pipeline.run``
    projects their components instead.)

    Alternating large-star/small-star rounds (Kiveris et al. 2014) —
    O(log n) rounds on ANY graph shape, so a 10^12-scale closure with long
    chains converges without a diameter-bounded loop. Each round is two
    keyed aggregations + joins, all map-side combinable. At the fixed point
    (the undirected edge set stops changing) the edge set is a union of
    stars (child, root) with root = the component's minimum vertex; the
    vertex table is recovered as children ∪ roots ∪ isolated input vertices
    (a degenerate input edge (v, v) yields a single-vertex component).
    Raises on non-convergence at max_iter rather than silently returning
    split components.

    One cut per round: the input edges are cut once (every later plan reads
    them), each round's edge set is cut once, and the fixed-point test is a
    single job; the vertex set and the first round's edges are lazy over
    the input cut (a cluster job would checkpoint to the cluster store)."""
    e0 = edges.select("src", "dst").localCheckpoint(eager=True)
    verts = (
        e0.select(F.col("src").alias("vertex"))
        .unionByName(e0.select(F.col("dst").alias("vertex")))
        .distinct()
    )
    cur = (
        e0.filter(F.col("src") != F.col("dst"))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .distinct()
    )
    converged = False
    for _ in range(max_iter):
        sym = cur.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            cur.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        nxt = _small_star(_large_star(sym)).localCheckpoint(eager=True)
        # fixed point: same undirected edge set. Both sides are sets, so they
        # are equal exactly when no (a, b) occurs on one side only.
        one_sided = (
            nxt.selectExpr("a", "b", "true AS in_nxt")
            .join(cur.selectExpr("a", "b", "true AS in_cur"), ["a", "b"], "full_outer")
            .where("in_nxt IS NULL OR in_cur IS NULL")
        )
        cur = nxt
        if one_sided.isEmpty():
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not reach a fixed point in "
            f"{max_iter} rounds — this is O(log n) rounds by construction; "
            f"raise max_iter"
        )
    comp = cur.select(F.col("a").alias("vertex"), F.col("b").alias("component"))
    roots = verts.join(comp, "vertex", "left_anti").select(
        "vertex", F.col("vertex").alias("component")
    )
    return comp.unionByName(roots)
