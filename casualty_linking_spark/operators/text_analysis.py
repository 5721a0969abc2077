"""Text-analysis operators for training-data pipelines over ``documents``:
language ID (n-gram/stopword heuristic), quality scoring, token counting,
and document fingerprinting. All JVM-side built-ins (regexp counts, array
ops) so they survive the 100 TB scan without Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

FI_STOPWORDS = ["ja", "on", "ei", "että", "se", "hän", "oli", "mutta"]
EN_STOPWORDS = ["the", "and", "of", "to", "is", "in", "that", "it"]


def _word_matches(text: Column, vocab: list[str]) -> Column:
    pat = r"\b(" + "|".join(vocab) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(pat), F.lit(0)))


def language_id(text: Column) -> Column:
    """'fi' | 'en' | 'und' by stopword/character-ngram evidence."""
    fi = _word_matches(text, FI_STOPWORDS) + F.size(
        F.regexp_extract_all(F.lower(text), F.lit("[äö]"), F.lit(0))
    )
    en = _word_matches(text, EN_STOPWORDS)
    return (
        F.when((fi > en) & (fi > 0), F.lit("fi"))
        .when((en > fi) & (en > 0), F.lit("en"))
        .otherwise(F.lit("und"))
    )


def token_count_ws(text: Column) -> Column:
    """Whitespace tokenization count."""
    return F.size(F.filter(F.split(text, r"\s+"), lambda t: t != ""))


BPE_ISH_PATTERN = r"[A-Za-zÀ-ÿ]+|[0-9]+|[^A-Za-zÀ-ÿ0-9\s]"


def token_count_bpe(text: Column) -> Column:
    """BPE-ish regex tokenization (letters / digit runs / punct as separate
    tokens) — the pre-tokenizer shape GPT-style BPEs use."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), F.lit(0)))


def quality_score(text: Column) -> Column:
    """[0,1] quality heuristic: length band + punctuation ratio + stopword
    presence + mean word length band (the classic Gopher/C4-style filters)."""
    n_chars = F.length(text)
    words = F.filter(F.split(F.lower(text), r"\W+"), lambda w: w != "")
    n_words = F.size(words)
    mean_wlen = F.when(n_words > 0, n_chars.cast("double") / n_words).otherwise(F.lit(0.0))
    punct = F.size(F.regexp_extract_all(text, F.lit(r"[^\w\s]"), F.lit(0)))
    punct_ratio = F.when(n_chars > 0, punct.cast("double") / n_chars).otherwise(F.lit(1.0))
    stop = _word_matches(text, FI_STOPWORDS + EN_STOPWORDS)
    stop_ratio = F.when(n_words > 0, stop.cast("double") / n_words).otherwise(F.lit(0.0))

    s_len = F.when((n_chars >= 50) & (n_chars <= 20000), 0.25).otherwise(0.0)
    s_punct = F.when(punct_ratio <= 0.2, 0.25).otherwise(0.0)
    s_stop = F.when(stop_ratio >= 0.01, 0.25).otherwise(0.0)
    s_wlen = F.when((mean_wlen >= 3.0) & (mean_wlen <= 12.0), 0.25).otherwise(0.0)
    return (s_len + s_punct + s_stop + s_wlen).cast("double")


def fingerprint_sorted_words(text: Column) -> Column:
    """Order-insensitive document fingerprint: md5 of the sorted word
    multiset — catches shuffled/near-identical boilerplate."""
    words = F.array_sort(F.filter(F.split(F.lower(text), r"\W+"), lambda w: w != ""))
    return F.md5(F.array_join(words, " "))


def document_profile(documents: DataFrame) -> DataFrame:
    """One row per doc with all text-analysis signals."""
    t = F.col("text")
    return documents.select(
        "doc_id",
        language_id(t).alias("lang_id"),
        token_count_ws(t).alias("n_tokens_ws"),
        token_count_bpe(t).alias("n_tokens_bpe"),
        quality_score(t).alias("quality"),
        fingerprint_sorted_words(t).alias("fingerprint"),
    )


# PII scrubbing — the redaction pass a training-data pipeline runs before
# anything else sees the text. Patterns are deliberately RE2-compatible
# (no backreferences/lookaround) so the DuckDB oracle applies the IDENTICAL
# strings; replacement order is URL -> email -> phone so a URL's digits
# can't be re-matched as a phone.
PII_URL_RE = r"https?://[^\s]+"
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+?[0-9][0-9() .-]{6,}[0-9]"


def redact_pii(text: Column) -> Column:
    """Replace URLs/emails/phone-shaped spans with typed placeholder tokens.
    All-JVM regexp_replace (replaces every occurrence), no UDF."""
    r = F.regexp_replace(text, PII_URL_RE, "<URL>")
    r = F.regexp_replace(r, PII_EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(r, PII_PHONE_RE, "<PHONE>")


def pii_profile(documents: DataFrame) -> DataFrame:
    """(doc_id, redacted, n_url, n_email, n_phone) — counts measured on the
    ORIGINAL text, redaction applied in the canonical order."""
    t = F.col("text")
    return documents.select(
        "doc_id",
        redact_pii(t).alias("redacted"),
        F.regexp_count(t, F.lit(PII_URL_RE)).alias("n_url"),
        F.regexp_count(t, F.lit(PII_EMAIL_RE)).alias("n_email"),
        F.regexp_count(t, F.lit(PII_PHONE_RE)).alias("n_phone"),
    )


def ngram_grams_col(text: Column, n: int) -> Column:
    """Distinct word n-grams of ``text`` as an array (empty when the doc has
    fewer than ``n`` words — NOT degenerate shorter grams). Tokenization is
    the dedup family's words_col, so every text operator (and the DuckDB
    oracles) shares one definition of "word"."""
    from .dedup import words_col

    w = words_col(text)
    return F.when(
        F.size(w) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(w) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(w, i, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def ngram_contamination(corpus: DataFrame, benchmark: DataFrame, n: int = 4) -> DataFrame:
    """Benchmark decontamination: (doc_id, n_matched_grams) for every corpus
    document sharing at least one word ``n``-gram with any benchmark
    document — the standard exact n-gram overlap check an LLM training
    pipeline runs against eval sets before training (the published
    description of this technique uses 8–13-gram overlap; ``n`` is a knob).

    100 TB shape: the benchmark side is small by definition (eval sets), so
    its distinct gram set BROADCASTS; the corpus is scanned ONCE, its grams
    generated per-row (array_distinct before explode — per-doc dedup without
    a shuffle), matched by broadcast hash join, and reduced by a map-side-
    combining groupBy(doc_id). The corpus never shuffles except the tiny
    matched subset. Both sides tokenize with the dedup family's words_col,
    so the DuckDB oracle reproduces grams byte-for-byte."""
    corp = corpus.select(
        "doc_id", F.explode(ngram_grams_col(F.col("text"), n)).alias("gram")
    )
    bench = (
        benchmark.select(F.explode(ngram_grams_col(F.col("text"), n)).alias("gram"))
        .distinct()
    )
    return (
        corp.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matched_grams"))
    )


def corpus_vocab(documents: DataFrame, top_n: int = 100) -> DataFrame:
    """(word, n, rank, cum_frac) — the corpus vocabulary's ``top_n`` words
    by frequency with rank and cumulative token coverage, the first step of
    any tokenizer/vocab build and the standard corpus-drift report.

    Scale shape: explode words → groupBy(word) count (map-side combine
    collapses each mapper to one row per word, so the shuffle carries the
    VOCABULARY, not the corpus) → distributed top-n (``orderBy().limit()``
    plans as TakeOrdered: per-partition heaps, never a global sort) → the
    rank/coverage window runs over only the ``top_n`` survivors (bounded,
    single tiny partition by construction). The coverage denominator is the
    FULL corpus token count, aggregated before the cut."""
    words = documents.select(
        F.explode(F.filter(F.split(F.lower(F.col("text")), r"\W+"), lambda w: w != "")).alias("word")
    )
    counts = words.groupBy("word").agg(F.count("*").alias("n"))
    total = counts.agg(F.sum("n").alias("total"))
    top = counts.orderBy(F.col("n").desc(), F.col("word").asc()).limit(top_n)
    w = Window.orderBy(F.col("n").desc(), F.col("word").asc())
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w))
        .withColumn(
            "cum_frac",
            F.round(
                (F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0)))
                .cast("double") / F.col("total").cast("double"),
                6,
            ),
        )
        .select("word", "n", "rank", "cum_frac")
    )


def response_latency(transcripts: DataFrame) -> DataFrame:
    """Per user turn: which assistant turn answered it, how many turns sat
    in between (tool calls, retries), and the wall-clock wait — THE
    agent-transcript latency/SLA query.

    Contract: event time is non-decreasing in ``turn_idx`` within a
    conversation (the input_hint's stable (conv_id, turn_idx) ordering
    invariant), so the earliest-``ts`` assistant in the forward window IS
    the next assistant by index. That makes the whole operator ONE window
    pass — a single Exchange on conv_id, no self-join: the answering turn's
    index and timestamp are both forward-window minima over
    assistant-filtered CASEs. Unanswered user turns (conversation ends
    first) surface with NULL answer columns rather than being dropped."""
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    ans_idx = F.min(
        F.when(F.col("role") == "assistant", F.col("turn_idx"))
    ).over(w)
    ans_ts = F.min(F.when(F.col("role") == "assistant", F.col("ts"))).over(w)
    return (
        transcripts.select(
            "conv_id",
            "turn_idx",
            "role",
            "ts",
            ans_idx.alias("ans_turn_idx"),
            ans_ts.alias("ans_ts"),
        )
        .where(F.col("role") == "user")
        .select(
            "conv_id",
            "turn_idx",
            "ans_turn_idx",
            (F.col("ans_turn_idx") - F.col("turn_idx") - 1)
            .cast("int")
            .alias("n_intervening"),
            (F.unix_timestamp("ans_ts") - F.unix_timestamp("ts"))
            .cast("bigint")
            .alias("latency_sec"),
        )
    )


def tfidf_top_terms(documents: DataFrame, k: int = 5) -> DataFrame:
    """(doc_id, word, tf, df, tfidf, rank) — each document's ``k`` most
    characteristic terms by TF-IDF (smoothed: ``tf * ln((N+1)/(df+1))``),
    the standard keyword-extraction / topic-fingerprint primitive for
    corpus curation and search indexing.

    Scale shape: ONE corpus scan explodes to (doc, word) pairs, a map-side
    combinable groupBy collapses them to term frequencies (the shuffle
    carries doc×vocab PAIRS, never raw tokens); document frequency and the
    corpus size N are aggregations OVER that pair table (vocabulary-sized /
    one row), broadcast back — the corpus-sized side never reshuffles for
    the idf join. The top-k window shuffles the pair table once on doc_id.
    At 100 TB the df table is the aggregated vocabulary (orders of
    magnitude smaller than the corpus); if it outgrows the broadcast
    threshold the same plan degrades gracefully to a shuffle join keyed on
    word. Ranking orders by the ROUNDED score (6 dp) with a word tie-break,
    so the cross-engine float contract is deterministic.
    """
    words = documents.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower(F.col("text")), r"\W+"), lambda w: w != "")
        ).alias("word"),
    )
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n_docs = tf.agg(F.count_distinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "word")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log(
                    (F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("word").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "word", "tf", "df", "tfidf", "rank")
    )


def bigram_model(documents: DataFrame) -> DataFrame:
    """(w1, w2, n, p) — corpus bigram table with conditional probabilities
    ``P(w2|w1) = n(w1,w2) / Σ_w n(w1,w)``, the n-gram LM estimation step
    (KenLM-style corpus prep) and the companion to ``corpus_vocab``'s
    unigram table.

    One corpus scan builds per-doc adjacent word pairs JVM-side (transform
    over the shared tokenizer — bigrams never cross document boundaries),
    explodes, and map-side-combines into the bigram count table, so the
    shuffle carries the bigram VOCABULARY, not the corpus. The conditional
    denominator is a window sum over that already-aggregated table
    partitioned by w1 (vocabulary-sized — no join back, no second corpus
    scan). Probabilities are rounded to 6 dp for the cross-engine
    contract."""
    from .dedup import words_col

    wds = words_col(F.col("text"))
    pairs = F.when(
        F.size(wds) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(wds) - 1),
            lambda i: F.struct(
                F.element_at(wds, i).alias("w1"),
                F.element_at(wds, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    counts = (
        documents.where(F.col("text").isNotNull())
        .select(F.explode(pairs).alias("bg"))
        .groupBy(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy("w1")
    return counts.select(
        "w1",
        "w2",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(tot), 6).alias("p"),
    )


def repetition_profile(documents: DataFrame) -> DataFrame:
    """Intra-document repetition metrics — the published quality-filter
    family that removes boilerplate/spam by how much a document repeats
    ITSELF (cf. the Gopher/MassiveText repetition filters; the dedup family
    covers inter-document repeats, decontamination covers cross-set).

    Per doc: duplicate-occurrence fraction of words, 2-grams and 3-grams
    (``1 - distinct/total`` — the count-based simplification of the
    published character-mass definition, stated here so the threshold
    semantics are unambiguous), plus a ``repetitive`` flag at
    published-style thresholds. Pure per-row JVM expressions over the
    shared tokenizer: a projection, ZERO shuffle — at 100 TB this filter
    costs one scan fused into whatever else reads the corpus. Fractions are
    rounded to 6 dp so the DuckDB oracle hash-matches the double math."""
    from .dedup import words_col

    w = words_col(F.col("text"))

    def dup_frac(arr: Column) -> Column:
        return F.round(
            F.when(
                F.size(arr) > 0,
                1.0 - F.size(F.array_distinct(arr)) / F.size(arr),
            ).otherwise(F.lit(0.0)),
            6,
        )

    def grams(n: int) -> Column:
        return F.when(
            F.size(w) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(w) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(w, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    d1, d2, d3 = dup_frac(w), dup_frac(grams(2)), dup_frac(grams(3))
    return documents.select(
        "doc_id",
        F.size(w).alias("n_words"),
        d1.alias("dup_word_frac"),
        d2.alias("dup_2gram_frac"),
        d3.alias("dup_3gram_frac"),
        # gate thresholds scaled to the synthetic corpus's ~30-word
        # vocabulary (median d2 0.028, max 0.13 at sf0.01) so the flag is
        # data-dependent in tests; published filters on natural text sit
        # around 0.2 for the 2-gram gate
        ((d2 > 0.05) | (d3 > 0.02)).alias("repetitive"),
    )


def conversation_profile(transcripts: DataFrame) -> DataFrame:
    """Per-conversation shape/quality profile over the transcript table —
    the conversation-level analogue of document_profile, feeding SFT-data
    curation filters (drop truncated / tool-spam / monologue conversations).

    One shuffle (groupBy conv_id) with map-side combine; every expression a
    JVM built-in. Columns: turn counts by role, tool-call count, distinct
    tool count, total/mean turn chars, whitespace-token total, and the
    user/assistant alternation count (role transitions between consecutive
    turns, order taken from turn_idx — arrival order is never trusted)."""
    t = transcripts.select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        F.coalesce(F.length("text"), F.lit(0)).alias("chars"),
        F.coalesce(token_count_ws(F.col("text")), F.lit(0)).alias("toks"),
    )
    prof = t.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.sum(F.when(F.col("role") == "user", 1).otherwise(0)).alias("n_user"),
        F.sum(F.when(F.col("role") == "assistant", 1).otherwise(0)).alias("n_assistant"),
        F.sum(F.when(F.col("tool").isNotNull(), 1).otherwise(0)).alias("n_tool_calls"),
        # NOT count_distinct: a distinct aggregate next to collect_list forces
        # Spark's two-phase expansion (extra Exchange on (conv_id, tool) that
        # re-shuffles the whole turn-sequence buffer). collect_set composes in
        # the single map-side-combined pass; per-conv tool cardinality is tiny.
        F.size(F.collect_set("tool")).cast("long").alias("n_distinct_tools"),
        F.sum("chars").alias("total_chars"),
        F.sum("toks").alias("total_tokens"),
        F.round(F.sum("chars") / F.count("*"), 6).alias("mean_turn_chars"),
        # alternation: roles in turn_idx order, count adjacent transitions
        F.sort_array(F.collect_list(F.struct("turn_idx", "role"))).alias("seq"),
    )
    trans = F.size(
        F.filter(
            F.zip_with(
                F.col("seq"),
                F.slice(F.col("seq"), 2, F.greatest(F.size("seq"), F.lit(1))),
                lambda a, b: a["role"] != b["role"],
            ),
            lambda x: x,
        )
    )
    return prof.select(
        "conv_id",
        "n_turns",
        "n_user",
        "n_assistant",
        "n_tool_calls",
        "n_distinct_tools",
        "total_chars",
        "total_tokens",
        "mean_turn_chars",
        trans.alias("n_role_transitions"),
    )


def tool_call_sequences(transcripts: DataFrame) -> DataFrame:
    """Frequency-ranked tool-call sequences per conversation — the agent-
    transcript workflow-mining idiom (which tool chains do agents actually
    run?). One shuffle to the conversation key with a map-side-combinable
    collect; the per-conversation struct sort is O(k log k) in the number
    of tool calls, never in turns. Second tiny shuffle on the distinct
    sequence strings. No Python in the plan."""
    t = transcripts.filter(F.col("tool").isNotNull())
    seqs = t.groupBy("conv_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("turn_idx", "tool"))),
                lambda s: s["tool"],
            ),
            ">",
        ).alias("tool_seq")
    )
    return seqs.groupBy("tool_seq").agg(
        F.count(F.lit(1)).alias("n_convs")
    )
