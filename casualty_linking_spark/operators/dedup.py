"""Large-scale training-data deduplication over the ``documents`` table.

Five dedup families, all engineered for the 100 TB posture:

* exact          — hash-groupBy on md5(text): one shuffle on a 32-char key,
                   map-side partial agg; canonical id = min doc_id per hash.
* minhash + LSH  — shingle -> k minhashes -> banded buckets -> bucket
                   self-join. Everything up to the bucket join is per-row
                   JVM expression work (array transforms over built-ins, no
                   UDF); the only shuffle is on band keys, whose fan-out
                   bounds candidate pairs (classic MMDS ch.3 scheme).
* simhash        — 64-bit majority-vote fingerprint over token hashes
                   (16 md5 hex nibbles); exact-dup buckets on the full
                   fingerprint, near-dup via 4 banded 16-bit sub-fingerprint
                   keys (pigeonhole: any pair at Hamming distance <= 3 shares
                   a band) + exact Hamming verify within buckets — never a
                   window over a 2^16-key skew bomb.
* n-gram Jaccard — exact verification of LSH candidate pairs
                   (array_intersect/array_union on shingle sets).
* embedding cosine — near-dup pairs above a cosine threshold, blocked by
                   random-hyperplane LSH buckets (the same deterministic
                   bucket keys the ANN path uses) so candidate generation is
                   a bucket self-join, never the n^2 cross join.

Hashes are md5-based so the DuckDB oracle can reproduce them bit-for-bit
(Spark's murmur hash() is engine-private; md5 is portable).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

N_HASHES = 12
BAND_SIZE = 3  # 4 bands of 3 -> s-curve threshold ~ (1/4)^(1/3) ≈ 0.63
SHINGLE_WORDS = 3


def words_col(text: Column) -> Column:
    return F.filter(F.split(F.lower(text), r"\W+"), lambda w: w != "")


def shingles_col(text: Column, n: int = SHINGLE_WORDS) -> Column:
    """Distinct, sorted word n-gram shingles."""
    w = words_col(text)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(w) - (n - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(w, i, n), " "),
    )
    return F.array_sort(F.array_distinct(grams))


def exact_duplicates(documents: DataFrame) -> DataFrame:
    """(doc_id, text_hash, canonical_id, group_size).

    Skew-safe shape: groupBy(text_hash).agg(min, count) + join-back instead
    of a window over the hash key. LLM corpora have degenerate mega-clusters
    (empty strings, boilerplate pages duplicated billions of times); a window
    cannot partial-aggregate — every copy of the hot key lands in one task —
    whereas the agg's map-side combine collapses each mapper's contribution
    to one row per key, and the join-back is a join AQE's skew handling can
    split (the one-row-per-key build side replicates across the split).

    Single corpus scan: the (doc_id, hash) projection is materialized once
    (localCheckpoint — a production pipeline would write the fingerprint
    table) so the agg branch and the join-probe branch don't each re-scan
    the documents; ReuseExchange can't collapse them because the agg side
    partial-aggregates before its exchange."""
    hashed = documents.select(
        F.col("doc_id"), F.md5(F.col("text")).alias("text_hash")
    ).localCheckpoint(eager=True)
    groups = hashed.groupBy("text_hash").agg(
        F.min("doc_id").alias("canonical_id"), F.count("*").alias("group_size")
    )
    # md5(NULL) is NULL; a plain equi-join would drop NULL-text docs, while
    # the DuckDB oracle's window (PARTITION BY md5(text)) keeps them as one
    # group. Null-safe equality (<=>) preserves that group and still plans
    # as a hash join.
    return hashed.join(
        groups.withColumnRenamed("text_hash", "group_hash"),
        F.col("text_hash").eqNullSafe(F.col("group_hash")),
    ).select("doc_id", "text_hash", "canonical_id", "group_size")


def _let_bound(value: Column, body) -> Column:
    """Let-binding for Column expressions: evaluate ``value`` once and feed it
    to ``body`` as a lambda variable. ``transform`` over a one-element array
    introduces a lambda variable Catalyst cannot inline, so the (arbitrarily
    expensive) ``value`` subtree appears exactly once in the plan no matter
    how many times ``body`` references it — the optimizer's CollapseProject
    would otherwise clone it per reference (measured 12x shingle-set blowup
    in the minhash signature)."""
    return F.element_at(F.transform(F.array(value), body), 1)


def lsh_bands(documents: DataFrame, n_hashes: int = N_HASHES, band_size: int = BAND_SIZE) -> DataFrame:
    """(doc_id, band_idx, band_key) — band_key = md5 of the band's minhashes.

    Shape: one narrow per-row projection. The shingle array is let-bound
    (``_let_bound``) so it is computed once per document, then the n
    minhashes are array_min folds over it — no shingle explode, no
    groupBy(doc_id) Exchange, no SortAggregate with n string min-buffers
    (string aggregation buffers force sort-based aggregation). The r5 shape
    (explode + min-agg) shuffled one row per (doc, shingle) — bytes
    proportional to the corpus — and its 12-string-buffer SortAggregate
    codegen unit was a JIT-warmup hazard (287 s vs 7 s executor CPU for the
    same stage depending on codegen-cache hits). This shape shuffles nothing
    and evaluates the same md5 recurrence via interpreted higher-order
    functions with stable cost. Hash values are bit-identical (same
    md5(seed ':' shingle) recurrence; parity-checked old-vs-new at sf0.1)."""
    n_bands = n_hashes // band_size
    sig = _let_bound(
        shingles_col(F.col("text")),
        lambda sh: F.transform(
            F.sequence(F.lit(0), F.lit(n_hashes - 1)),
            lambda i: F.array_min(
                F.transform(sh, lambda s: F.md5(F.concat(i.cast("string"), F.lit(":"), s)))
            ),
        ),
    )
    sigd = documents.select(F.col("doc_id"), sig.alias("sig"))
    bands = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    F.md5(
                        F.concat_ws(
                            "",
                            F.lit(f"{b}|"),
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("sig", b * band_size + j + 1)
                                    for j in range(band_size)
                                ],
                            ),
                        )
                    ).alias("band_key"),
                )
                for b in range(n_bands)
            ]
        )
    )
    return sigd.select("doc_id", bands.alias("b")).select("doc_id", "b.band_idx", "b.band_key")


def _shingle_rows_to_bands(sh_rows: DataFrame, n_hashes: int, band_size: int) -> DataFrame:
    """(doc_id, shingle) rows -> (doc_id, band_idx, band_key). Duplicate
    shingle rows are harmless (min-agg is idempotent), so callers can skip
    a pre-dedup shuffle."""
    sig = sh_rows.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(str(i)), F.lit(":"), F.col("shingle")))).alias(f"mh{i}")
            for i in range(n_hashes)
        ]
    )
    n_bands = n_hashes // band_size
    bands = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    F.md5(
                        F.concat_ws(
                            "", F.lit(f"{b}|"),
                            F.concat_ws(",", *[F.col(f"mh{b * band_size + j}") for j in range(band_size)]),
                        )
                    ).alias("band_key"),
                )
                for b in range(n_bands)
            ]
        )
    )
    return sig.select("doc_id", bands.alias("b")).select("doc_id", "b.band_idx", "b.band_key")


def minhash_lsh_pairs(documents: DataFrame) -> DataFrame:
    """Candidate near-dup pairs (doc_a < doc_b) sharing at least one band.

    The band self-join is forced to a shuffled hash join: both sides then
    canonicalize to the identical subtree (scan -> one signature projection
    with the let-bound shingle array -> band rows -> Exchange on band key),
    so exchange reuse (static ReuseExchange, or AQE's runtime stage reuse)
    computes the signature build ONCE. Left to the planner at toy scale, the
    small side goes under a BroadcastExchange, which is NOT structurally
    shared with the streamed side — the signature projection and the
    document scan both execute twice. The shuffle moves n_bands rows per
    document, negligible at any scale, and at 100 TB a self-join of the
    band table would never have been broadcast-able anyway."""
    return _bands_to_pairs(lsh_bands(documents))


def _bands_to_pairs(b: DataFrame) -> DataFrame:
    a = b.select(F.col("doc_id").alias("doc_a"), "band_idx", "band_key")
    c = b.select(F.col("doc_id").alias("doc_b"), "band_idx", "band_key")
    return (
        a.join(c.hint("shuffle_hash"), ["band_idx", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def _conversation_shingle_rows(transcripts: DataFrame) -> DataFrame:
    """(doc_id=conv_id, shingle) — the UNION of per-turn word-3-gram shingle
    sets. The conversation is never concatenated into one string: the explode
    runs on turn rows (embarrassingly parallel at 10^12 turns) and the one
    conv_id shuffle downstream carries only shingle rows. Cross-turn boundary
    grams are deliberately out of the shingle universe. NULL-text turns
    contribute nothing (explode of a null array)."""
    return transcripts.select(
        F.col("conv_id").alias("doc_id"),
        F.explode(shingles_col(F.col("text"))).alias("shingle"),
    )


def conversation_lsh_pairs(
    transcripts: DataFrame, n_hashes: int = N_HASHES, band_size: int = BAND_SIZE
) -> DataFrame:
    """Conversation-granularity near-dup candidates (conv_a < conv_b sharing
    an LSH band) — the SFT-corpus dedup: re-rolled conversations share almost
    every turn verbatim, and document-level dedup can't see identity spread
    across turns. Same banded-minhash shape as the document path (signature
    built once, exchange-reused self-join)."""
    return _bands_to_pairs(
        _shingle_rows_to_bands(_conversation_shingle_rows(transcripts), n_hashes, band_size)
    )


def conversation_jaccard_pairs(transcripts: DataFrame, threshold: float = 0.5) -> DataFrame:
    """LSH candidates verified by exact Jaccard over the conversations'
    shingle sets: (conv_a, conv_b, jaccard). Verification joins sets only
    for candidate pairs — never all pairs."""
    cands = conversation_lsh_pairs(transcripts).withColumnsRenamed(
        {"doc_a": "conv_a", "doc_b": "conv_b"}
    )
    sh = _conversation_shingle_rows(transcripts).groupBy("doc_id").agg(
        F.collect_set("shingle").alias("sh")
    )
    j = (
        cands.join(
            sh.withColumnsRenamed({"doc_id": "conv_a", "sh": "sh_a"}), "conv_a"
        )
        .join(sh.withColumnsRenamed({"doc_id": "conv_b", "sh": "sh_b"}), "conv_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select("conv_a", "conv_b", "jaccard")


def ngram_jaccard_pairs(documents: DataFrame, threshold: float = 0.5) -> DataFrame:
    """LSH candidates verified by exact shingle-set Jaccard (doc_a, doc_b,
    jaccard) — the verify stage after the probabilistic filter."""
    cands = minhash_lsh_pairs(documents)
    sh = documents.select(F.col("doc_id"), shingles_col(F.col("text")).alias("sh"))
    j = (
        cands.join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select("doc_a", "doc_b", "jaccard")


_HEX = "0123456789abcdef"
SIMHASH_NIBBLES = 16  # 64-bit fingerprint as 16 md5-hex nibbles
SIMHASH_BANDS = 4     # 4 x 16-bit bands -> any pair at Hamming <= 3 shares one
SIMHASH_MAX_HAMMING = 3


def _hex_nibble_to_int(c: Column) -> Column:
    return F.instr(F.lit(_HEX), c) - 1


def simhash64_fingerprints(documents: DataFrame) -> DataFrame:
    """(doc_id, simhash) — 64-bit simhash as a 16-char lowercase hex string.

    Bit p (0..63) is set iff the majority of the doc's distinct words have
    bit p set in their md5 (nibble p//4, bit 3-p%4 — plain floor-div
    arithmetic on hex nibbles, so the DuckDB oracle replicates it exactly).

    Shape: explode distinct words to rows, hash each word ONCE, fold with a
    single groupBy(doc_id) carrying 64 bit-sums + a word count (map-side
    partial agg, one shuffle) — the array-lambda formulation would re-evaluate
    the word set per bit (the measured 12x minhash blowup). explode_outer
    keeps wordless docs as a null-word row: their bit-sums are null, every
    majority test is null -> 0, yielding the all-zeros fingerprint with no
    second scan or join-back."""

    def bit(i: int, j: int) -> str:  # bit weight 2^(3-j) of nibble i
        return (
            f"CAST(floor((instr('{_HEX}', substring(h, {i + 1}, 1)) - 1)"
            f" / {1 << (3 - j)}) AS INT) % 2"
        )

    nibbles = range(SIMHASH_NIBBLES)
    aggs = ", ".join(
        ["count(word) AS n_words"]
        + [f"sum({bit(i, j)}) AS s_{i}_{j}" for i in nibbles for j in range(4)]
    )
    digits = [
        " + ".join(
            f"CASE WHEN f.s_{i}_{j} * 2 > f.n_words THEN {1 << (3 - j)} ELSE 0 END"
            for j in range(4)
        ) + f" AS d{i}"
        for i in nibbles
    ]
    hexcat = ", ".join(f"substring('{_HEX}', d{i} + 1, 1)" for i in nibbles)

    wx = documents.select(
        F.col("doc_id"),
        F.explode_outer(F.array_distinct(words_col(F.col("text")))).alias("word"),
    ).withColumn("h", F.md5("word"))
    # one struct of the 65 aggregates: one expression to parse, not 65
    sums = wx.groupBy("doc_id").agg(F.expr(f"struct({aggs}) AS f"))
    return sums.selectExpr("doc_id", *digits).selectExpr(
        "doc_id", f"concat({hexcat}) AS simhash"
    )


def simhash_buckets(documents: DataFrame) -> DataFrame:
    """(doc_id, simhash, canonical_id) — equal-64-bit-fingerprint dup groups.
    2^64 keys, but true duplicate clusters can still be huge (boilerplate
    replicated corpus-wide), so same skew-safe shape as exact_duplicates:
    map-side-combining groupBy for the canonical id, then a join-back that
    AQE skew handling can split — never a window over the fingerprint.

    The expensive part of the fingerprint build (word explode + md5 + the
    64 partial bit-sums) sits BELOW the groupBy(doc_id) exchange, and both
    join branches share that exact exchange subtree, so ReuseExchange
    computes it once — no checkpoint needed (an eager localCheckpoint here
    cost an extra materialization job + join-back shuffle, measured ~2.8x
    the r2 wall at sf0.1). The post-exchange work that runs per branch
    (final agg + digit projection) is one row per doc. The simhash string
    is never NULL by construction (wordless/NULL-text docs fold to the
    all-zeros fingerprint), but the join is null-safe anyway so a future
    nullable fingerprint cannot silently drop rows."""
    fp = simhash64_fingerprints(documents)
    canon = fp.groupBy("simhash").agg(F.min("doc_id").alias("canonical_id"))
    return fp.join(
        canon.withColumnRenamed("simhash", "group_fp"),
        F.col("simhash").eqNullSafe(F.col("group_fp")),
    ).select("doc_id", "simhash", "canonical_id")


def _nibble(fp: Column, i: Column) -> Column:
    return _hex_nibble_to_int(F.substring(fp, i + F.lit(1), 1))


def _popcount4(v: Column) -> Column:
    """Popcount of a 4-bit value by floor-div arithmetic (oracle-portable)."""
    return sum((F.floor(v / (1 << k)).cast("int") % 2) for k in range(4))


def simhash_hamming(a: Column, b: Column) -> Column:
    """Hamming distance between two 16-hex-char fingerprints: sum of nibble
    XOR popcounts (JVM built-ins only)."""
    return F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.lit(SIMHASH_NIBBLES - 1)),
            lambda i: _popcount4(_nibble(a, i).bitwiseXOR(_nibble(b, i))),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def simhash_near_dup_pairs(
    documents: DataFrame, max_hamming: int = SIMHASH_MAX_HAMMING
) -> DataFrame:
    """Near-dup pairs (doc_a < doc_b, hamming <= max_hamming) via banded
    sub-fingerprint buckets: 4 bands of 16 bits — by pigeonhole, any pair
    within Hamming distance 3 agrees exactly on at least one band, so the
    only shuffle is on band keys and candidates are verified by exact Hamming
    within buckets. Never an all-pairs join; never a global window."""
    fp = simhash64_fingerprints(documents)
    width = SIMHASH_NIBBLES // SIMHASH_BANDS
    bands = fp.select(
        "doc_id", "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.substring("simhash", b * width + 1, width).alias("band_key"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band_idx", "bb.band_key")
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("fp_a"), "band_idx", "band_key"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("fp_b"), "band_idx", "band_key"
    )
    cands = (
        # shuffle-hash (not the planner's broadcast) so the 65-agg
        # fingerprint build below both sides is exchange-reused, not
        # computed twice — same rationale as minhash_lsh_pairs
        a.join(b.hint("shuffle_hash"), ["band_idx", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "fp_a", "fp_b")
        .distinct()
    )
    return (
        cands.withColumn("hamming", simhash_hamming(F.col("fp_a"), F.col("fp_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame, threshold: float = 0.95, dim: int = 64
) -> DataFrame:
    """Cosine near-dup pairs over the embedding column, candidates from
    random-hyperplane LSH buckets (similarity_search.lsh_bucket_key — the
    identical deterministic keys the ANN path partitions by, so a production
    table bucketed for search serves dedup for free). High-cosine pairs land
    in the same sign-bit bucket in at least one table w.h.p.; the only
    shuffle is the bucket self-join and every candidate is verified by exact
    cosine."""
    from .similarity_search import N_TABLES, cosine, lsh_bucket_key

    e = embeddings.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    # one scan, all tables: explode the per-table key array instead of a
    # per-table union (which re-scanned the embeddings once per table per
    # join side — keys are "t{table}:"-prefixed so the row multiset is
    # identical); shuffle-hash forces both join sides to the same
    # canonical subtree so exchange reuse keys the corpus ONCE
    keyed = e.select(
        "vec_id", "v",
        F.explode(
            F.array(*[lsh_bucket_key(F.col("v"), dim, t) for t in range(N_TABLES)])
        ).alias("bucket"),
    )
    a = keyed.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), "bucket")
    b = keyed.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), "bucket")
    pairs = (
        a.join(b.hint("shuffle_hash"), "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .dropDuplicates(["vec_a", "vec_b"])
        .withColumn("cosine", cosine(F.col("va"), F.col("vb")))
    )
    return pairs.filter(F.col("cosine") >= threshold).select("vec_a", "vec_b", "cosine")


def incremental_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    jaccard_threshold: float = 0.5,
    intra_batch: bool = False,
) -> DataFrame:
    """(doc_id, exact_dup_of, near_dup_of, near_jaccard, verdict) — dedup an
    INCOMING BATCH against an EXISTING corpus, the shape a continuously-fed
    training pipeline actually runs: the corpus is never re-paired against
    itself (that was done when each earlier batch arrived), only batch-vs-
    corpus candidates are generated — plus, with ``intra_batch=True``,
    batch-vs-earlier-batch candidates (sequential-ingest semantics: a batch
    doc also dedups against batch docs with a SMALLER doc_id, as if the
    batch were ingested in id order).

    Per batch document:
    * ``exact_dup_of``  — smallest doc_id with identical text among corpus
      docs (any id) plus, when ``intra_batch``, batch docs with smaller id
      (md5, null-safe so NULL-text docs group together);
    * ``near_dup_of``   — the candidate doc (same eligibility rule) sharing
      a minhash band whose exact shingle Jaccard is highest (≥ threshold;
      ties to smallest doc_id), with the score in ``near_jaccard``;
    * ``verdict``       — 'exact' > 'near' > 'unique'.

    Intra-batch candidates are ALL earlier batch docs, not just the ones
    that themselves survived dedup — pointers may chain (C→B while B→A),
    which keeps the tier a pure relational expression; retention decisions
    collapse chains via ``near_dup_clusters``-style CC downstream.

    Scale: everything corpus-sided here is a FINGERPRINT (hash groups, band
    keys, shingle sets) — in production those live as persisted index tables
    maintained per batch (cf. ivf_write/ivf_append for the vector analogue),
    so a batch ingest reads the band-key index bucketed by key instead of
    re-fingerprinting 100 TB. The joins are one-sided: the batch side is
    orders of magnitude smaller, so its bands/hashes broadcast, the corpus
    side streams, and corpus shingles are fetched only for the candidate
    subset that survived the band join (semi-join pattern below). The
    intra tier touches only batch-sided data (a window + a self-join of the
    already-built batch bands), adding nothing corpus-scaled."""
    # exact tier: corpus hash groups (min id per hash), batch probes them
    cgroups = (
        corpus.select(F.md5("text").alias("chash"), "doc_id")
        .groupBy("chash")
        .agg(F.min("doc_id").alias("exact_dup_of"))
    )
    bhash = batch.select("doc_id", F.md5("text").alias("bhash"))
    exact = bhash.join(
        F.broadcast(cgroups), F.col("bhash").eqNullSafe(F.col("chash")), "left"
    ).select("doc_id", "exact_dup_of")
    if intra_batch:
        # smallest EARLIER batch id with the same hash (window partitions
        # NULL hashes as one group — same null-safe grouping as the join)
        wprev = (
            Window.partitionBy("bhash")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        iexact = bhash.select(
            "doc_id", F.min("doc_id").over(wprev).alias("intra_exact")
        )
        exact = (
            exact.join(iexact, "doc_id")
            .withColumn(
                "exact_dup_of",
                F.when(
                    F.col("exact_dup_of").isNull(), F.col("intra_exact")
                ).when(
                    F.col("intra_exact").isNull(), F.col("exact_dup_of")
                ).otherwise(F.least("exact_dup_of", "intra_exact")),
            )
            .select("doc_id", "exact_dup_of")
        )

    # near tier: batch band keys probe the corpus band index
    cband = lsh_bands(corpus).select(
        F.col("doc_id").alias("cand_id"), "band_idx", "band_key"
    )
    bband = lsh_bands(batch)
    cands = (
        cband.join(F.broadcast(bband), ["band_idx", "band_key"])
        .select("doc_id", "cand_id")
        .distinct()
    )
    bsh = batch.select("doc_id", shingles_col(F.col("text")).alias("sh_b"))
    csh = corpus.select(
        F.col("doc_id").alias("cand_id"), shingles_col(F.col("text")).alias("sh_c")
    )
    cand_sh = csh
    if intra_batch:
        icands = (
            bband.join(
                F.broadcast(
                    bband.select(
                        F.col("doc_id").alias("cand_id"), "band_idx", "band_key"
                    )
                ),
                ["band_idx", "band_key"],
            )
            .filter(F.col("cand_id") < F.col("doc_id"))
            .select("doc_id", "cand_id")
            .distinct()
        )
        cands = cands.unionByName(icands)
        cand_sh = csh.unionByName(
            bsh.select(F.col("doc_id").alias("cand_id"), F.col("sh_b").alias("sh_c"))
        )
    verified = (
        cands.join(cand_sh, "cand_id")  # candidate-subset shingles only
        .join(F.broadcast(bsh), "doc_id")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_b", "sh_c")).cast("double")
            / F.size(F.array_union("sh_b", "sh_c")).cast("double"),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("jaccard").desc(), F.col("cand_id").asc()
    )
    near = (
        verified.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("cand_id").alias("near_dup_of"),
            F.round("jaccard", 6).alias("near_jaccard"),
        )
    )
    return (
        batch.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .withColumn(
            "verdict",
            F.when(F.col("exact_dup_of").isNotNull(), F.lit("exact"))
            .when(F.col("near_dup_of").isNotNull(), F.lit("near"))
            .otherwise(F.lit("unique")),
        )
    )


def near_dup_clusters(documents: DataFrame) -> DataFrame:
    """(doc_id, component) — transitive near-duplicate CLUSTERS, the step a
    production dedup actually keys retention on: LSH surfaces pairs, but
    "keep one per group" needs the connected components of the pair graph
    (A~B, B~C must collapse to one cluster even when A~C was never a
    candidate). Components come from the same large-star/small-star CC used
    for person sameAs closures (O(log n) rounds at any diameter); docs with
    no near-dup edge are their own singleton component via the join-back.
    component = min doc_id of the cluster, so downstream "keep the
    canonical" is a filter, not another aggregation."""
    from .link_persons import connected_components

    pairs = minhash_lsh_pairs(documents)
    comp = connected_components(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    return (
        documents.select("doc_id")
        .join(comp.withColumnRenamed("vertex", "doc_id"), "doc_id", "left")
        .select(
            "doc_id", F.coalesce(F.col("component"), F.col("doc_id")).alias("component")
        )
    )
