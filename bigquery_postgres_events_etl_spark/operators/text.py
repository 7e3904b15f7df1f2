"""Text-analysis operators for LLM training-data pipelines:
token counting, language-ID heuristic, quality scoring, TF-IDF,
document fingerprinting.

All pure built-in expressions (split / explode / higher-order
functions) — no Python UDFs, so at 100 TB every operator stays inside
whole-stage codegen and partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import exploded_shingles, md5_hash60, with_tokens

# A small function-word list: in natural text these dominate English
# prose, so their token share is a cheap single-pass language signal.
EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]
LANG_ID_THRESHOLD = 0.03


def text_stats(docs: DataFrame) -> DataFrame:
    """Per-document token statistics in one narrow projection —
    no explode, no shuffle: size/array ops on the token array."""
    df = with_tokens(docs)
    return df.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.size("tokens").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("tokens")).cast("long").alias("n_distinct_tokens"),
        # type-to-token ratio: long/long → one IEEE division
        (F.size(F.array_distinct("tokens")).cast("long") / F.size("tokens").cast("long")).alias("ttr"),
        # BPE-ish subword estimate: ~1 token per 4 chars, whitespace floor
        F.greatest(
            F.size("tokens").cast("long"),
            F.ceil(F.length("text") / F.lit(4)).cast("long"),
        ).alias("est_bpe_tokens"),
    )


def token_frequencies(docs: DataFrame, top_n: int = 50) -> DataFrame:
    """Corpus-level token frequencies, top-N. explode → two-level agg;
    partial aggregation bounds the shuffle by |vocab| per task."""
    tok = with_tokens(docs).select(F.explode("tokens").alias("token"))
    return (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(top_n)
    )


def language_id(docs: DataFrame) -> DataFrame:
    """Heuristic language ID: share of English function words among
    tokens. The fixture text is synthetic word soup, so the value is
    the deterministic *plumbing* (ratio computation + thresholding);
    production would swap in per-language stopword lists or an n-gram
    model — same single-pass shape."""
    df = with_tokens(docs)
    stop_arr = "array(" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + ")"
    n_stop = F.expr(f"size(filter(tokens, t -> array_contains({stop_arr}, t)))")
    ratio = n_stop.cast("long") / F.size("tokens").cast("long")
    return df.select(
        "doc_id",
        n_stop.cast("long").alias("n_stopwords"),
        F.size("tokens").cast("long").alias("n_tokens"),
        ratio.alias("stopword_ratio"),
        F.when(ratio > LANG_ID_THRESHOLD, F.lit("en")).otherwise(F.lit("unknown")).alias("lang_pred"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Document quality heuristics (length, lexical diversity,
    stopword share) combined into one score.

    Written as a fixed arithmetic expression (same operation order on
    the oracle side) — each component is a ratio of exact longs, so
    the score is bit-reproducible.
    """
    df = with_tokens(docs)
    n_tok = F.size("tokens").cast("long")
    n_dist = F.size(F.array_distinct("tokens")).cast("long")
    stop_arr = "array(" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + ")"
    n_stop = F.expr(f"size(filter(tokens, t -> array_contains({stop_arr}, t)))").cast("long")
    len_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    diversity = n_dist / n_tok
    stop_share = n_stop / n_tok
    score = len_score * 0.4 + diversity * 0.4 + stop_share * 0.2
    return df.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        len_score.alias("len_score"),
        diversity.alias("diversity"),
        stop_share.alias("stop_share"),
        score.alias("quality"),
    )


def tfidf_top_terms(
    docs: DataFrame, top_k: int = 3, max_broadcast_terms: int = 1_000_000
) -> DataFrame:
    """Top-K terms per document by a rational TF-IDF score.

    Score = tf × N / df — the log-free variant: same ranking family as
    ln-based TF-IDF for fixed tf (monotone in 1/df), chosen because
    ln() is not correctly-rounded-guaranteed across engines while
    integer ratios are bit-exact. Plan: explode → (doc, term) counts →
    document frequencies → score → per-doc top-K window.

    The document-frequency table is only broadcast when its measured
    cardinality is ≤ ``max_broadcast_terms``. Heaps' law makes the
    vocabulary sublinear in corpus size but NOT bounded — a 100 TB web
    corpus has billions of distinct "terms" (URLs, typos, hex blobs)
    and a pinned broadcast would blow the 8 GB limit — so the hint is
    gated on an actual count (df_ is persisted: the count job
    materializes it once and the join reuses the cache), falling back
    to a shuffle join above the threshold. The default 1M terms ≈
    tens of MB broadcast."""
    tok = with_tokens(docs).select("doc_id", F.explode("tokens").alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # persisted: the gate's count job materializes df_ once and the
    # returned plan reuses the cache (unpersisting here would drop it
    # before the caller executes; eviction is left to Spark's LRU —
    # the table is vocab-sized, the smallest thing in the job)
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df")).persist()
    n_terms = df_.count()
    df_side = F.broadcast(df_) if n_terms <= max_broadcast_terms else df_
    n_docs = docs.select(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df_side, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.col("tf") * F.col("n_docs") / F.col("df"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("doc_id", "term", "tf", "df", "tfidf", "rank")
    )


def doc_fingerprints(docs: DataFrame, k: int = 5, n: int = 3) -> DataFrame:
    """Winnowing-style fingerprint: the K smallest shingle hashes per
    document (a deterministic content signature robust to local
    edits). Plan: shingle explode → distinct → per-doc bottom-K
    window on the 60-bit hash."""
    sh = exploded_shingles(docs, n).distinct().withColumn("h", md5_hash60("shingle"))
    w = Window.partitionBy("doc_id").orderBy(F.asc("h"), F.asc("shingle"))
    return (
        sh.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", F.col("h").alias("fingerprint"), "rank")
    )


# Gopher-style quality-rule thresholds (Rae et al. 2021, §A1.1 —
# public paper; adapted to the fixture's whitespace tokens)
GOPHER_MIN_TOKENS = 30
GOPHER_MAX_TOKENS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MIN_STOPWORD_HITS = 2


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document: the fraction of
    tokens that are repeats, the share of all word bigrams taken by
    the single most-frequent bigram, and the share of bigrams that
    occur more than once. High values flag boilerplate/spam documents
    that n-gram dedup misses because the repetition is *internal*.

    Plan: token stats are narrow array expressions (no shuffle);
    bigram stats go through exploded_shingles(n=2) → (doc, bigram)
    counts → per-doc max/sum — both aggregations partial-aggregate,
    and the (doc, bigram) keys stay partition-local to their doc, so
    per-doc reduction happens map-side. Linear in document length
    (an in-array quadratic count would not survive 10k-token docs).
    """
    tok_stats = with_tokens(docs).select(
        "doc_id",
        F.size("tokens").cast("long").alias("n_tokens"),
        (
            (F.size("tokens") - F.size(F.array_distinct("tokens")))
            / F.size("tokens")
        ).alias("dup_token_frac"),
    )
    bi = (
        exploded_shingles(docs, n=2)
        .groupBy("doc_id", "shingle")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.max("cnt").alias("top_cnt"),
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias("dup_cnt"),
        )
        .select(
            "doc_id",
            F.col("n_bigrams").cast("long").alias("n_bigrams"),
            (F.col("top_cnt") / F.col("n_bigrams")).alias("top_bigram_frac"),
            (F.col("dup_cnt") / F.col("n_bigrams")).alias("dup_bigram_frac"),
        )
    )
    return tok_stats.join(bi, "doc_id")


def gopher_rules(docs: DataFrame) -> DataFrame:
    """Gopher-style rule-based quality filter: token-count bounds,
    mean-word-length bounds, and a minimum function-word count —
    each rule a separate flag plus the conjunction, so downstream
    can audit which rule rejected a document.

    Entirely map-side: every signal is an array expression over the
    token split (the length fold is exact integer arithmetic), so the
    filter runs inside the scan's whole-stage codegen with no shuffle
    at any scale."""
    df = with_tokens(docs)
    n_tok = F.size("tokens").cast("long")
    total_len = F.expr("aggregate(transform(tokens, t -> length(t)), 0L, (a, x) -> a + x)")
    mean_len = total_len / n_tok
    stop_arr = "array(" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + ")"
    stop_hits = F.expr(f"size(filter(tokens, t -> array_contains({stop_arr}, t)))").cast("long")
    pass_len = (n_tok >= GOPHER_MIN_TOKENS) & (n_tok <= GOPHER_MAX_TOKENS)
    pass_word = (mean_len >= GOPHER_MIN_MEAN_WORD_LEN) & (mean_len <= GOPHER_MAX_MEAN_WORD_LEN)
    pass_stop = stop_hits >= GOPHER_MIN_STOPWORD_HITS
    return df.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        mean_len.alias("mean_word_len"),
        stop_hits.alias("stopword_hits"),
        pass_len.alias("pass_token_count"),
        pass_word.alias("pass_word_len"),
        pass_stop.alias("pass_stopwords"),
        (pass_len & pass_word & pass_stop).alias("passes"),
    )


# ---------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------

# Patterns restricted to the Java-regex ∩ RE2 common subset so Spark
# and the DuckDB oracle compile them identically (no lookaround, no
# backreferences — which RE2 lacks anyway).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+?\d{3}[-. ]\d{3}[-. ]\d{4}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_scan(docs: DataFrame) -> DataFrame:
    """Per-document PII inventory + redaction — the scrubbing pass a
    training-data pipeline runs before anything else sees the text
    (emails / phone numbers / IPv4 addresses → typed placeholders).

    Entirely map-side regex expressions inside whole-stage codegen: no
    shuffle, no UDF, linear in corpus bytes — the shape that matters
    at 100 TB, where this pass is pure scan throughput. Counts are
    measured on the ORIGINAL text; redaction applies email → phone →
    IP in that fixed order so overlapping matches resolve identically
    everywhere.
    """
    t = F.col("text")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL, "<EMAIL>"), PII_PHONE, "<PHONE>"
        ),
        PII_IPV4,
        "<IP>",
    )
    # Column-arg form, NOT F.expr with an embedded literal: Spark SQL
    # string literals process backslash escapes ('\d' -> 'd'), which
    # would silently corrupt the patterns.
    n_emails = F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL), F.lit(0))).cast("long")
    n_phones = F.size(F.regexp_extract_all(t, F.lit(PII_PHONE), F.lit(0))).cast("long")
    n_ipv4 = F.size(F.regexp_extract_all(t, F.lit(PII_IPV4), F.lit(0))).cast("long")
    return docs.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        n_ipv4.alias("n_ipv4"),
        (n_emails + n_phones + n_ipv4).alias("n_pii"),
        redacted.alias("redacted"),
    )


def token_rarity(docs: DataFrame, max_broadcast_terms: int = 1_000_000) -> DataFrame:
    """Corpus-statistics quality signal (the CCNet-style idea with
    rational arithmetic): per document, the document-frequency mass of
    its tokens. Boilerplate scores high (every token common), noisy /
    gibberish text scores low (tokens appear nowhere else).

    All aggregation happens in exact integer arithmetic; the only
    floating-point op is ONE final division of two exact integers —
    bit-deterministic across engines (no log, no double sums).

    Plan: explode → (doc, term) counts → global term DF (one shuffle,
    vocab-sized) → join back (broadcast GATED on measured vocab
    cardinality, same rationale as tfidf_top_terms: Heaps' law is
    sublinear, not bounded) → per-doc integer aggregation.
    """
    tok = with_tokens(docs).select("doc_id", F.explode("tokens").alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # persisted: the gate's count job materializes df_ once and the
    # returned plan reuses the cache (unpersisting here would drop it
    # before the caller executes; eviction is left to Spark's LRU —
    # the table is vocab-sized, the smallest thing in the job). The
    # count also means building this plan eagerly runs one Spark job.
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df")).persist()
    n_terms = df_.count()
    df_side = F.broadcast(df_) if n_terms <= max_broadcast_terms else df_
    per_doc = (
        tf.join(df_side, "term")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("df")).alias("sum_df"),
            F.min("df").alias("min_df"),
            F.max("df").alias("max_df"),
        )
    )
    return per_doc.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("sum_df").cast("long").alias("sum_df"),
        F.col("min_df").cast("long").alias("min_df"),
        F.col("max_df").cast("long").alias("max_df"),
        (F.col("sum_df").cast("double") / F.col("n_tokens")).alias("mean_df"),
    )


def bigram_coherence(docs: DataFrame) -> DataFrame:
    """Fluency / coherence quality signal: how predictable each
    document's word transitions are under the corpus's own bigram
    statistics — the CCNet/perplexity idea restated in exact integer
    arithmetic (a wmmodel-free stand-in: boilerplate and fluent prose
    score high, shuffled or gibberish text scores low even when its
    unigrams are common, which is exactly the case token rarity
    cannot see).

    Per document: pooled conditional probability
    ``sum(c(w1,w2)) / sum(c(w1))`` over its bigram positions, where
    ``c(w1,w2)`` is the corpus-wide occurrence count of the bigram and
    ``c(w1)`` the corpus-wide count of ``w1`` as a bigram prefix.
    Pooling sums BEFORE dividing keeps every aggregate an exact
    integer — one final IEEE division, bit-identical across engines
    (per-position ratios averaged in doubles would be
    order-dependent).

    Plan: bigram explode → corpus bigram counts (one vocab-sized
    shuffle) → prefix counts derived from the bigram table (reuses the
    same aggregate, no second pass over the data) → join back → per-doc
    integer sums. No broadcast hint: the bigram vocabulary grows
    ~linearly with corpus size (far past any broadcast limit at 100 TB)
    — the joins shuffle on the bigram/prefix key, which IS the scale
    path; AQE may still broadcast while small.
    """
    tok = with_tokens(docs)
    big = (
        tok.where(F.size("tokens") >= 2)
        .select(
            "doc_id",
            "tokens",
            F.explode(F.expr("sequence(1, size(tokens) - 1)")).alias("i"),
        )
        .select(
            "doc_id",
            F.expr("element_at(tokens, CAST(i AS INT))").alias("w1"),
            F.expr("element_at(tokens, CAST(i + 1 AS INT))").alias("w2"),
        )
    )
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_bigram"))
    c1 = c2.groupBy("w1").agg(F.sum("c_bigram").alias("c_prefix"))
    return (
        big.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("c_bigram").alias("sum_bigram"),
            F.sum("c_prefix").alias("sum_prefix"),
        )
        .select(
            "doc_id",
            F.col("n_bigrams").cast("long").alias("n_bigrams"),
            F.col("sum_bigram").cast("long").alias("sum_bigram"),
            F.col("sum_prefix").cast("long").alias("sum_prefix"),
            (F.col("sum_bigram").cast("double") / F.col("sum_prefix")).alias(
                "coherence"
            ),
        )
    )


BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """BM25 lexical ranking of the corpus against a fixed term query
    (Robertson/Sparck-Jones probabilistic IDF, the Lucene default
    scoring) as ONE declarative plan with no corpus shuffle:

    - per-term tf and doc length are map-side expressions over the
      token array (``size(filter(...))`` — the corpus is scanned once,
      never exploded into (doc, token) rows);
    - N, avgdl, and per-term df reduce to a ONE-ROW stats frame,
      broadcast back (a scalar-subquery crossJoin — unconditionally
      safe at any corpus size since |query_terms| is fixed);
    - scores are map-side arithmetic, and the top-k is a
      TakeOrderedAndProject (no global sort materialization).

    Oracle parity: per-term contributions are deterministic IEEE
    chains EXCEPT ``ln``, whose JVM vs libm results differ by 1 ulp on
    ~8% of inputs — so each contribution is rounded to DECIMAL(20,9)
    (empirically cast-identical across engines) and the per-document
    sum runs in exact decimal, with one final cast to double.
    """
    d = with_tokens(docs).select(
        "doc_id",
        F.size("tokens").cast("bigint").alias("dl"),
        *[
            F.expr(f"size(filter(tokens, x -> x = '{t}'))")
            .cast("bigint")
            .alias(f"tf{i}")
            for i, t in enumerate(query_terms)
        ],
    )
    stats = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.col("dl").cast("decimal(27,0)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avgdl"),
        *[
            F.count_if(F.col(f"tf{i}") > 0).alias(f"df{i}")
            for i in range(len(query_terms))
        ],
    )
    contribs = []
    for i in range(len(query_terms)):
        idf = F.expr(
            f"ln((CAST(n_docs AS DOUBLE) - df{i} + CAST(0.5 AS DOUBLE))"
            f" / (df{i} + CAST(0.5 AS DOUBLE)) + CAST(1 AS DOUBLE))"
        )
        # k1+1 and 1-b are computed IN-ENGINE from the same literal
        # text on both sides (a Python-computed constant could land on
        # a different ulp than the engine's own parse + add)
        sat = F.expr(
            f"(tf{i} * (CAST({k1} AS DOUBLE) + CAST(1 AS DOUBLE)))"
            f" / (tf{i} + CAST({k1} AS DOUBLE)"
            f" * (CAST(1 AS DOUBLE) - CAST({b} AS DOUBLE)"
            f" + CAST({b} AS DOUBLE) * dl / avgdl))"
        )
        contribs.append((idf * sat).cast("decimal(20,9)"))
    score_dec = contribs[0]
    for c in contribs[1:]:
        score_dec = score_dec + c
    return (
        d.crossJoin(F.broadcast(stats))
        .select("doc_id", "dl", score_dec.cast("double").alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(k)
    )


def bpe_train(docs: DataFrame, n_merges: int = 10) -> DataFrame:
    """BPE tokenizer TRAINING (Sennrich et al. 2016) in the
    production-scale shape: the corpus is touched exactly ONCE (one
    explode + groupBy building the word-frequency table — the only
    step that scales with data); the merge loop then iterates over
    the VOCAB table, which Heaps' law keeps sublinear in corpus size.
    Each round: weighted adjacent-pair counts (one small aggregation),
    a deterministic argmax (count desc, then lexicographic — a
    bounded single-row fetch, same driver-scalar discipline as the
    convergence counters in cluster.py), and a map-side left-to-right
    non-overlapping merge applied via a higher-order ``aggregate``
    over each word's symbol array (the last-element check reproduces
    BPE's canonical scan: after a merge the new symbol differs from
    the pair's left element, so overlaps self-exclude — including the
    a==a run case, pinned by the reference-parity test).

    Returns the learned merge table (rank, left, right, merged,
    n_occurrences). Iterative → rows-only in the registry;
    tests/test_text_quality.py compares the full merge sequence
    against a pure-Python reference BPE."""
    spark = docs.sparkSession
    words = (
        with_tokens(docs)
        .select(F.explode("tokens").alias("word"))
        # empty tokens have ZERO symbols and can never participate in
        # a merge — and they MUST be excluded before the char split:
        # Spark's sequence(1, length('')) is sequence(1, 0), which
        # takes the negative-step default and yields [1, 0] → two ''
        # symbols → a bogus ('','') pair that outvotes real merges on
        # corpora with repeated-space text (r13 unicode-corpus find;
        # the oracle's generate_series(1, 0) is empty, so this was a
        # silent cross-engine divergence)
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    vocab = words.withColumn(
        "syms",
        F.expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
    ).localCheckpoint(eager=False)  # materializes in round 0's take (r14)

    merges: list[tuple[int, str, str, str, int]] = []
    driver_mode = True  # r14: gated driver argmax (see wordpiece twin)
    for rank in range(n_merges):
        pairs = (
            vocab.select(
                "freq",
                F.explode(
                    F.expr(
                        "zip_with(slice(syms, 1, size(syms) - 1),"
                        " slice(syms, 2, size(syms) - 1),"
                        " (a, b) -> struct(a, b))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("n"))
        )
        if driver_mode:
            # ONE collect of the charset²-bounded pair-count table and
            # a driver argmax with identical semantics (max n, ties
            # lexicographic — Python string order == Spark UTF8 binary
            # order), replacing the global sort + .first() plan whose
            # AQE materializations cost several jobs per round; the
            # distributed sort remains as the above-gate fallback
            rows = pairs.take(TOKENIZER_DRIVER_COUNTS_MAX_ROWS + 1)
            if len(rows) > TOKENIZER_DRIVER_COUNTS_MAX_ROWS:
                driver_mode = False
            else:
                best = min(
                    rows, key=lambda r: (-r["n"], r["a"], r["b"]), default=None
                )
        if not driver_mode:
            best = pairs.orderBy(F.desc("n"), F.asc("a"), F.asc("b")).first()
        if best is None or best["n"] < 2:
            break
        a, b = best["a"], best["b"]
        merges.append((rank, a, b, a + b, int(best["n"])))
        qa, qb = a.replace("'", "\\'"), b.replace("'", "\\'")
        # lazy checkpoint: materializes inside the next round's
        # aggregation instead of a dedicated job (wordpiece twin)
        vocab = vocab.withColumn(
            "syms",
            F.expr(
                f"aggregate(syms, cast(array() as array<string>),"
                f" (acc, s) -> CASE WHEN size(acc) > 0"
                f" AND element_at(acc, -1) = '{qa}' AND s = '{qb}'"
                f" THEN concat(slice(acc, 1, size(acc) - 1), array('{qa}{qb}'))"
                f" ELSE concat(acc, array(s)) END)"
            ),
        ).localCheckpoint(eager=False)

    return spark.createDataFrame(
        merges, "rank BIGINT, left STRING, right STRING, merged STRING, n_occurrences BIGINT"
    )


# ---------------------------------------------------------------------
# Naive-Bayes quality classifier (the CCNet / GPT-3 "looks like the
# curated corpus" filter, trained and applied wholly in-engine)
# ---------------------------------------------------------------------

NB_TARGET_SOURCES = ("src0", "src1")


def nb_token_counts(
    docs: DataFrame, target_sources: tuple[str, ...] = NB_TARGET_SOURCES
) -> DataFrame:
    """TRAINING pass of the multinomial Naive-Bayes quality
    classifier: per-token occurrence counts in the curated (target)
    class vs the rest of the corpus. One explode + ONE aggregation
    carrying both class counters (no second data pass) — pure integer
    output, so the table is bit-exact across engines and directly
    mergeable (counts add) for incremental retraining.

    Scale: (doc, token) explode is map-side; the single groupBy(token)
    shuffle carries ~16-byte rows; output is vocab-sized."""
    is_target = F.col("source").isin(*target_sources)
    tok = with_tokens(docs).select(
        "doc_id", "source", F.explode("tokens").alias("token")
    )
    return tok.groupBy("token").agg(
        F.sum(F.when(is_target, 1).otherwise(0)).cast("long").alias("c_pos"),
        F.sum(F.when(is_target, 0).otherwise(1)).cast("long").alias("c_neg"),
    )


def nb_doc_token_counts(docs: DataFrame) -> DataFrame:
    """Persisted ``(doc_id, source, token, c)`` sliver — the ONE
    corpus tokenization the whole NB family (train counts, per-doc
    scoring, calibration labels) derives from. Before this frame the
    scoring path re-tokenized the corpus per consumer (4 documents
    scans in text_nb_calibration — the r5 repeated-scan class; r6
    verdict item #2).

    Persisted, never unpersisted here: the returned lazy plans
    reference the cache (same documented contract as the dedup
    shingle frames); eviction is LRU, and the bench/oracle harnesses
    clearCache per entry.

    Scale: one explode + one (doc, token) partial-aggregated shuffle;
    the persisted payload is per-doc DISTINCT tokens with counts —
    bounded by the corpus size and ~10× smaller than the raw token
    stream for natural text."""
    tc = (
        with_tokens(docs)
        .select("doc_id", "source", F.explode("tokens").alias("token"))
        .groupBy("doc_id", "source", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return tc.persist()


def nb_counts_from_tc(
    tc: DataFrame, target_sources: tuple[str, ...] = NB_TARGET_SOURCES
) -> DataFrame:
    """Vocab count table derived from the shared per-doc sliver —
    identical values to :func:`nb_token_counts` (the sum over token
    occurrences equals the c-weighted sum over distinct (doc, token)
    rows), but the input is the persisted frame, not a fresh corpus
    scan."""
    is_target = F.col("source").isin(*target_sources)
    return tc.groupBy("token").agg(
        F.sum(F.when(is_target, F.col("c")).otherwise(0)).cast("long").alias("c_pos"),
        F.sum(F.when(is_target, 0).otherwise(F.col("c"))).cast("long").alias("c_neg"),
    )


def nb_quality_score(
    docs: DataFrame,
    target_sources: tuple[str, ...] = NB_TARGET_SOURCES,
    max_broadcast_terms: int = 1_000_000,
) -> DataFrame:
    """SCORING pass: per-document Laplace-smoothed log-likelihood
    ratio under the two class-conditional token models + class prior —
    the fastText/CCNet-style "does this look like the curated set"
    quality gate, entirely declarative (explode → token join → per-doc
    sum; no Python in the loop).

    Oracle parity: each token's contribution
    ``ln((c_pos+1)/(pos_total+V)) − ln((c_neg+1)/(neg_total+V))`` is a
    deterministic IEEE chain except ``ln`` (JVM vs libm differ by
    1 ulp on ~8% of inputs), so contributions round to DECIMAL(20,9)
    — empirically cast-identical — and accumulate in exact decimal;
    the keep/drop verdict compares the decimal, not a double, so the
    boundary cannot flip between engines.

    Scale: the vocab-sized count table is broadcast only under the
    measured-cardinality gate (same contract as tfidf_top_terms);
    above it the token join shuffles. The totals/prior frames are
    1-row scalars — unconditionally safe."""
    scored, _tc = nb_score_with_tc(docs, target_sources, max_broadcast_terms)
    return scored


def nb_score_with_tc(
    docs: DataFrame,
    target_sources: tuple[str, ...] = NB_TARGET_SOURCES,
    max_broadcast_terms: int = 1_000_000,
) -> tuple[DataFrame, DataFrame]:
    """Scoring plan + the shared persisted ``(doc_id, source, token,
    c)`` sliver it was built from, so callers needing per-doc labels
    (calibration) derive them from the SAME cached frame instead of a
    fourth corpus scan.

    Value parity with the pre-sliver plan (and the SQL oracle, which
    still sums per occurrence): summing each token occurrence's
    DECIMAL(20,9) contribution equals summing c × contribution over
    distinct (doc, token) rows — c is cast to DECIMAL(10,0) so the
    product is DECIMAL(31,9), inside the 38-digit cap, hence EXACT
    (a LongType multiplicand would widen to DECIMAL(20,0) and push
    the product past 38 digits, where Spark truncates the scale to 6
    and parity dies)."""
    scored, prior, tc = _nb_scored_base(docs, target_sources, max_broadcast_terms)
    score_dec = F.col("llr_dec") + prior
    return (
        scored.select(
            "doc_id",
            "n_tokens",
            score_dec.cast("double").alias("nb_score"),
            (score_dec > 0).alias("predicted_curated"),
        ),
        tc,
    )


def nb_quality_score_dec(
    docs: DataFrame,
    target_sources: tuple[str, ...] = NB_TARGET_SOURCES,
    max_broadcast_terms: int = 1_000_000,
) -> DataFrame:
    """EXACT-DECIMAL variant of the NB score: ``(doc_id, n_tokens,
    nb_score_dec DECIMAL(20,9))`` where nb_score_dec is the exact
    decimal ``llr + prior`` — the same value the SQL oracle's
    ``d.llr + p.prior`` carries, with NO double round-trip.

    Exists for consumers whose COMPARED output descends from the
    score's decimal value (ml_eval_conformal's q̂/nonconformity):
    ``CAST(nb_score AS DECIMAL(20,9))`` of the double re-rounds an
    already-exact decimal through the engine-divergent double→decimal
    cast (registry double→decimal hazard — Spark rounds the exact
    binary value via BigDecimal, DuckDB scales in floats), and the
    oracle side never takes that round-trip, so the chain was
    asymmetric by construction (the r14 driver ml_eval_conformal
    hash-fail). The (30,9)+(20,9) sum is DECIMAL(31,9); per-doc LLRs
    are ≪ 10^11 so the (20,9) rescale is lossless (scale already 9 —
    no rounding step at all)."""
    scored, prior, _tc = _nb_scored_base(docs, target_sources, max_broadcast_terms)
    score_dec = F.col("llr_dec") + prior
    return scored.select(
        "doc_id",
        "n_tokens",
        score_dec.cast("decimal(20,9)").alias("nb_score_dec"),
    )


def _nb_scored_base(
    docs: DataFrame,
    target_sources: tuple[str, ...],
    max_broadcast_terms: int,
):
    """Shared NB scoring chain up to the per-doc exact-decimal LLR:
    returns ``(scored(doc_id, n_tokens, llr_dec, n_pos_docs,
    n_neg_docs), prior_expr, tc)``. Split out so the double-valued
    scorer (nb_score_with_tc) and the exact-decimal scorer
    (nb_quality_score_dec) are one construction — identical subplans,
    no drift."""
    # persisted: the broadcast gate's count job materializes the vocab
    # table once and the returned plan reuses the cache (unpersisting
    # here would drop it before the caller executes; eviction is left
    # to Spark's LRU — same documented contract as tfidf_top_terms /
    # token_rarity)
    tc = nb_doc_token_counts(docs)
    counts = nb_counts_from_tc(tc, target_sources).persist()
    n_terms = counts.count()
    counts_side = F.broadcast(counts) if n_terms <= max_broadcast_terms else counts
    totals = counts.agg(
        F.sum("c_pos").cast("long").alias("pos_total"),
        F.sum("c_neg").cast("long").alias("neg_total"),
        F.count(F.lit(1)).alias("vocab"),
    )
    is_target = F.col("source").isin(*target_sources)
    # priors stay a direct documents aggregate: a doc whose text is
    # NULL has no token rows (explode drops it from tc) but still
    # counts toward the class prior — and the (source)-only column
    # scan is near-free under parquet pruning at any scale.
    priors = docs.agg(
        # coalesce: a NULL source is NOT curated → a NEGATIVE doc, the
        # oracle's CASE/ELSE semantics. Bare ~is_target is NULL for a
        # NULL source, and count_if silently DROPS it from the prior —
        # every downstream NB score shifts (r13 null-corpus sweep
        # find; the driver fixtures have no NULL sources, so values
        # there are unchanged).
        F.count_if(F.coalesce(is_target, F.lit(False))).alias("n_pos_docs"),
        F.count_if(~F.coalesce(is_target, F.lit(False))).alias("n_neg_docs"),
    )
    contrib = F.expr(
        "CAST(ln((c_pos + CAST(1 AS DOUBLE)) / (pos_total + CAST(vocab AS DOUBLE)))"
        " - ln((c_neg + CAST(1 AS DOUBLE)) / (neg_total + CAST(vocab AS DOUBLE)))"
        " AS DECIMAL(20,9))"
    )
    prior = F.expr(
        "CAST(ln(CAST(n_pos_docs AS DOUBLE) / CAST(n_neg_docs AS DOUBLE))"
        " AS DECIMAL(20,9))"
    )
    scored = (
        tc.join(counts_side, "token")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            # the sum's natural type is DECIMAL(38,9), which would make
            # the later `+ prior` overflow 38 digits and truncate the
            # scale to 8 (observed: oracle -1.960757561 vs Spark
            # -1.96075756); per-doc LLRs are ≪ 10^21 so capping back to
            # the pre-sliver plan's DECIMAL(30,9) is lossless and keeps
            # the addition at scale 9
            F.sum(F.col("c").cast("decimal(10,0)") * contrib)
            .cast("decimal(30,9)")
            .alias("llr_dec"),
        )
        .crossJoin(F.broadcast(priors))
    )
    return scored, prior, tc


def _bigram_lm_joined(
    docs: DataFrame,
    target_sources: tuple[str, ...],
    max_broadcast_bigrams: int,
) -> DataFrame:
    """Shared front half of the bigram LM: ONE corpus tokenization
    into a persisted (doc, prev, cur, c) sliver, the curated bigram
    model (bc), its context margins (cc), and the smoothing vocab
    size V — joined back onto every (doc, bigram) row. Broadcasts of
    the model and margin tables are GATED on measured bigram
    cardinality (see plans.audit ALLOWED_BROADCAST_SITES)."""
    tc_bi = (
        with_tokens(docs)
        .where(F.size("tokens") >= 2)
        .select(
            "doc_id",
            "source",
            F.explode(F.expr("sequence(1, size(tokens) - 1)")).alias("i"),
            "tokens",
        )
        .select(
            "doc_id",
            "source",
            F.expr("tokens[i - 1]").alias("prev"),
            F.expr("tokens[i]").alias("cur"),
        )
        .groupBy("doc_id", "source", "prev", "cur")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist()
    )
    curated = tc_bi.where(F.col("source").isin(*target_sources))
    bc = (
        curated.groupBy("prev", "cur")
        .agg(F.sum("c").cast("long").alias("bc"))
        .persist()
    )
    n_bigrams_model = bc.count()
    bc_side = F.broadcast(bc) if n_bigrams_model <= max_broadcast_bigrams else bc
    cc = bc.groupBy("prev").agg(F.sum("bc").cast("long").alias("cc"))
    cc_side = F.broadcast(cc) if n_bigrams_model <= max_broadcast_bigrams else cc
    vocab = (
        bc.select(F.col("prev").alias("tok"))
        .union(bc.select("cur"))
        .distinct()
        .agg(F.count(F.lit(1)).alias("v"))
    )
    return (
        tc_bi.join(bc_side, ["prev", "cur"], "left")
        .join(cc_side, "prev", "left")
        .crossJoin(F.broadcast(vocab))
    )


def bigram_lm_profile(
    docs: DataFrame,
    target_sources: tuple[str, ...] = NB_TARGET_SOURCES,
    max_broadcast_bigrams: int = 2_000_000,
) -> DataFrame:
    """Exact integer sufficient statistics of the bigram-LM score —
    per (doc, likelihood class): ``num`` = bc+1 (Laplace-smoothed
    bigram count), ``den`` = cc+V (smoothed context mass), ``c_sum``
    = how many of the doc's bigram occurrences fall in that class.
    Cross-entropy follows as −Σ c_sum·ln(num/den) / Σ c_sum — a
    consumer-side fold over exact integers (``bigram_lm_score`` does
    exactly this in-engine).

    This table — not the entropy — is the oracle-compared surface:
    every column is BIGINT, so the driver's repr-exact hash has zero
    float hazard. Per-row CAST(ln(..) AS DECIMAL) terms are the
    decimal-rounded-transcendental class registry.py forbids for
    compared columns (JVM vs libm ln differ by 1 ulp and the cast
    flips at rounding boundaries — the r5 pipeline_weighted_sample
    failure); keeping ln out of the compared frame removes the
    hazard instead of betting on boundary luck.

    Model: P(cur|prev) = (bc(prev,cur)+1) / (cc(prev)+V); unseen
    bigrams/contexts fall back to the Laplace floor via
    COALESCE(·,0). Scale: the profile grain is ≤ the (doc, bigram)
    sliver (identical-likelihood bigrams collapse), the model is
    vocab²-bounded and broadcast only under the measured-cardinality
    gate, and the grouping re-partitions on (doc_id, num, den)."""
    j = _bigram_lm_joined(docs, target_sources, max_broadcast_bigrams)
    return (
        j.select(
            "doc_id",
            (F.coalesce(F.col("bc"), F.lit(0)) + F.lit(1))
            .cast("long")
            .alias("num"),
            (F.coalesce(F.col("cc"), F.lit(0)) + F.col("v"))
            .cast("long")
            .alias("den"),
            "c",
        )
        .groupBy("doc_id", "num", "den")
        .agg(F.sum("c").cast("long").alias("c_sum"))
    )


def bigram_lm_score(
    docs: DataFrame,
    target_sources: tuple[str, ...] = NB_TARGET_SOURCES,
    max_broadcast_bigrams: int = 2_000_000,
) -> DataFrame:
    """Bigram language-model fluency scoring — the CCNet/fastText
    "perplexity vs a curated reference" quality gate (Wenzek et al.
    2020 train a KenLM on Wikipedia and keep low-perplexity crawl
    text; here the reference LM is a Laplace-smoothed bigram model
    trained in-engine on the curated sources, and the score is each
    document's average negative log-likelihood under it).

    Model: P(cur|prev) = (bc(prev,cur)+1) / (cc(prev)+V), bc = curated
    bigram count, cc = Σ_cur bc (occurrences of ``prev`` as a
    non-final token), V = |distinct tokens appearing in any curated
    bigram| — a deterministic smoothing constant derivable from the
    bigram table alone (no extra unigram pass; documented choice, not
    the full unigram vocab).

    Cross-entropy per doc = −(Σ ln P)/n over its n bigrams, folded
    from the exact ``bigram_lm_profile`` sufficient statistics: each
    distinct likelihood class contributes c_sum·ln(num/den) once,
    summed in decimal (order-free within Spark), with ONE IEEE
    division at the end. The entropy is deterministic run-to-run but
    deliberately NOT oracle-compared (per-row rounded ln is the
    forbidden decimal-rounded-transcendental class); the profile is
    the compared surface, and pytest pins this fold against a pure-
    Python math.log reference.

    Scale: inherits the profile's plan — one persisted corpus
    sliver, gated model broadcasts; the per-doc fold adds one
    doc_id-keyed aggregation over the (smaller) profile frame."""
    p = bigram_lm_profile(docs, target_sources, max_broadcast_bigrams)
    contrib = F.expr(
        "CAST(ln(CAST(num AS DOUBLE) / CAST(den AS DOUBLE))"
        " AS DECIMAL(20,9))"
    )
    scored = p.groupBy("doc_id").agg(
        F.sum("c_sum").cast("long").alias("n_bigrams"),
        # c_sum capped at DECIMAL(10,0) so the product stays inside 38
        # digits and the sum caps back to (30,9) — the exact-decimal
        # discipline from nb_score_with_tc
        F.sum(F.col("c_sum").cast("decimal(10,0)") * contrib)
        .cast("decimal(30,9)")
        .alias("ll_dec"),
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        (
            -(F.col("ll_dec").cast("double"))
            / F.col("n_bigrams").cast("double")
        ).alias("cross_entropy"),
    )


# ---------------------------------------------------------------------
# compression-ratio quality signal (Gopher-style repetition detector)
# ---------------------------------------------------------------------

COMPRESSION_SCHEMA = (
    "doc_id BIGINT, raw_len BIGINT, compressed_len BIGINT, compression_ratio DOUBLE"
)


def compression_ratio(docs: DataFrame, level: int = 6) -> DataFrame:
    """zlib-compressibility quality signal (the Gopher/MassiveText
    heuristic: boilerplate and templated spam compress far better
    than natural prose, so a very LOW ratio flags repetitive junk
    and a ratio near 1 flags high-entropy noise like base64 blobs).

    Arrow-batched ``mapInPandas`` — the one operator family where
    Python in the loop is the point (zlib is a C codec behind a
    Python call, exactly like the image/audio decode stubs, except
    zlib ships in the stdlib so the REAL kernel runs here, not a
    fake). DEFLATE output for a fixed (level, strategy, library) is
    deterministic, and every executor runs the same CPython zlib, so
    the signal is reproducible; it is NOT portable across zlib
    builds, which is why this is a rows-only registry entry with the
    parity pinned by pytest instead of a DuckDB oracle.

    Scale: embarrassingly parallel, no shuffle; cost is one DEFLATE
    pass per document (~30 MB/s/core at level 6 — budget like a
    decode, not like a filter)."""

    def compress(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            raw = pdf["text"].map(lambda t: t.encode("utf-8") if t is not None else b"")
            raw_len = raw.map(len)
            comp_len = raw.map(lambda b: len(zlib.compress(b, level)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "raw_len": raw_len.astype("int64"),
                    "compressed_len": comp_len.astype("int64"),
                    "compression_ratio": comp_len.astype("float64")
                    / raw_len.astype("float64"),
                }
            )

    return docs.select("doc_id", "text").mapInPandas(compress, schema=COMPRESSION_SCHEMA)


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenizer INFERENCE — apply trained BPE merges to the corpus
    (the deploy-side half of :func:`bpe_train`; together they close
    the loop: learn merges from the corpus, then tokenize 100 TB with
    them): per word, start from characters and repeatedly merge the
    lowest-rank adjacent pair until none applies (Sennrich encode).

    The merge table is a deployment constant (vocab-size entries —
    shipped in the task closure like the scoring weights in
    ml_linear_score_users), so this is embarrassingly parallel: Arrow
    ``mapInPandas`` with a per-batch word→encoding cache (Zipf: most
    word instances repeat, so the cache turns per-occurrence work
    into per-distinct-word work — the same reason bpe_train
    aggregates words first).

    Output: ``(doc_id, n_words, n_tokens, first_tokens)`` —
    ``n_tokens`` is the training-cost number (post-BPE sequence
    length); ``first_tokens`` keeps the segmentation inspectable.
    Rows-only; parity vs a pure-Python encoder is pytest-pinned."""
    ranks = {pair: r for r, pair in enumerate(merges)}

    def encode_word(word: str) -> list[str]:
        syms = list(word)
        while len(syms) > 1:
            best_rank, best_pair = None, None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_pair = r, (syms[i], syms[i + 1])
            if best_pair is None:
                break
            a, b = best_pair
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    def run(batches):
        import pandas as pd

        cache: dict[str, list[str]] = {}

        def enc(word: str) -> list[str]:
            got = cache.get(word)
            if got is None:
                got = cache[word] = encode_word(word)
            return got

        for pdf in batches:
            n_words, n_tokens, first = [], [], []
            for text in pdf["text"]:
                words = text.split(" ") if text else []
                toks: list[str] = []
                total = 0
                for w in words:
                    e = enc(w)
                    total += len(e)
                    if len(toks) < 8:
                        toks.extend(e)
                n_words.append(len(words))
                n_tokens.append(total)
                first.append(" ".join(toks[:8]))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_words": pd.Series(n_words, dtype="int64"),
                    "n_tokens": pd.Series(n_tokens, dtype="int64"),
                    "first_tokens": first,
                }
            )

    return docs.select(F.col(id_col).alias("doc_id"), "text").mapInPandas(
        run, schema="doc_id BIGINT, n_words BIGINT, n_tokens BIGINT, first_tokens STRING"
    )


# ---------------------------------------------------------------------
# WordPiece tokenizer (Schuster & Nakajima 2012; the BERT tokenizer) —
# likelihood-scored merges + greedy longest-match-first encode
# ---------------------------------------------------------------------

WORDPIECE_UNK = "[UNK]"


def _wp_initial_syms_expr() -> str:
    """Spark SQL for a word's initial WordPiece segmentation: first
    char as-is, every later char with the ``##`` continuation prefix
    (the published convention — symbols are PLAIN STRINGS, so an
    initial piece whose raw text starts with ``##`` conflates with a
    continuation piece of the suffix; HF tokenizers shares exactly
    this string-keyed conflation, and both engines conflate
    identically, so it is canonical behavior, not a parity hazard)."""
    return (
        "transform(sequence(1, length(word)), i -> "
        "CASE WHEN i = 1 THEN substring(word, i, 1) "
        "ELSE concat('##', substring(word, i, 1)) END)"
    )


def _wp_merge_label(a: str, b: str) -> str:
    """Merged-token label: strip the right side's ``##`` prefix before
    concatenating (the HF rule) — EXCEPT when the stripped remainder
    would be empty (b == '##', reachable only through degenerate
    '#'-run corpora): concatenating '' would make merged == a, and the
    left-to-right apply scan's overlap self-exclusion relies on the
    merged symbol differing from the pair's left element (see
    bpe_train). Keeping b whole preserves merged = a + nonempty ≠ a on
    every input; the oracle applies the same rule ('##_%' — at least
    one char after the prefix)."""
    return a + (b[2:] if b.startswith("##") and len(b) > 2 else b)


# Driver-pick gate for the tokenizer merge loops (r14 optimization
# round): below this many aggregated count rows the per-round argmax
# happens on the driver from ONE collected aggregation; above it the
# original join + orderBy().first() plan runs distributed. The count
# table is (distinct adjacent symbol bigrams + symbols) — charset²-
# bounded, NOT corpus-sized (a CJK-heavy corpus has ~10⁴ chars in use,
# ~10⁶ observed bigrams; English ≈ 10³). 200k rows ≈ a few MB on the
# driver, the same order as the tfidf/unigram bounded collects.
TOKENIZER_DRIVER_COUNTS_MAX_ROWS = 200_000


def _wp_tagged_counts(vocab: DataFrame) -> DataFrame:
    """ONE aggregation pass over the vocab yielding BOTH count tables
    the WordPiece pick rule needs: adjacent-pair counts (rows with
    ``y`` non-null) and symbol counts (rows with ``y`` null). The
    previous shape ran these as two separate aggregations + two joins
    + a global sort per merge round — ~5 AQE-materialized jobs per
    round against a KB-sized sliver; fusing them into one tagged
    explode halves the per-round shuffle count and makes the result
    small enough to argmax on the driver (guide §2.4: remove shuffles
    outright; §1.2: the distributed algorithm first)."""
    return (
        vocab.select(
            "freq",
            F.explode(
                F.expr(
                    "concat("
                    "transform(zip_with(slice(syms, 1, size(syms) - 1),"
                    " slice(syms, 2, size(syms) - 1),"
                    " (a, b) -> struct(a, b)),"
                    " p -> struct(p.a AS x, p.b AS y)),"
                    " transform(syms, s -> struct(s AS x,"
                    " CAST(NULL AS STRING) AS y)))"
                )
            ).alias("k"),
        )
        .groupBy(F.col("k.x").alias("x"), F.col("k.y").alias("y"))
        .agg(F.sum("freq").alias("n"))
    )


def wordpiece_train(
    docs: DataFrame, n_merges: int = 10, min_pair: int = 2
) -> DataFrame:
    """WordPiece tokenizer TRAINING — the third production tokenizer
    beside :func:`bpe_train` and :func:`unigram_lm_train`, in the same
    scale shape: the corpus is touched exactly ONCE (word
    frequencies); the merge loop iterates over the VOCAB table
    (Heaps-sublinear in corpus size).

    The one semantic difference from BPE is the PICK rule: instead of
    the most frequent adjacent pair, WordPiece merges the pair
    maximizing the likelihood gain score

        score(a, b) = n(a,b) / (n(a) · n(b))

    (Schuster & Nakajima 2012 §III — the pair whose merge most
    increases a unigram LM's corpus likelihood), so each round needs
    the pair counts AND the symbol counts: two small aggregations over
    the vocab table instead of one. The score is compared as ONE IEEE
    chain over exact integers (cast, multiply, divide — all exactly
    rounded, hence bit-identical across engines; no transcendental),
    with ties broken lexicographically on (left, right). The apply
    step is the bpe_train higher-order ``aggregate`` scan verbatim —
    the merged label differs from the pair's left element on every
    input (see :func:`_wp_merge_label`), so overlaps self-exclude.

    Returns (rank, left, right, merged, n_pair, n_left, n_right) —
    all-integer counts beside the labels, so the entry is
    hash-oracle-checkable (the unrolled-CTE DuckDB twin replays every
    round; score itself is deliberately NOT a compared column).

    Reference behavior derived from the published algorithm only
    (Schuster & Nakajima 2012, Wu et al. 2016 §4.1); no reference-repo
    counterpart exists (extract_bq.py has no tokenizer)."""
    merges, _alpha = _wordpiece_train_impl(docs, n_merges, min_pair)
    return docs.sparkSession.createDataFrame(
        merges,
        "rank BIGINT, left STRING, right STRING, merged STRING,"
        " n_pair BIGINT, n_left BIGINT, n_right BIGINT",
    )


def _wordpiece_train_impl(
    docs: DataFrame, n_merges: int, min_pair: int
) -> tuple[list[tuple[int, str, str, str, int, int, int]], list[str] | None]:
    """Shared WordPiece merge loop → (merges, alphabet-or-None).

    r14 optimization: per round the pick rule needs the pair counts
    AND the symbol counts — previously two aggregations, two joins and
    a global sort (~5 tiny AQE-materialized jobs per round; the job
    counts and job-seconds in the bench sidecar BENCH_DETAIL.json show
    the entry's wall dominated by the
    driver gaps BETWEEN those jobs, not by compute). Now ONE tagged
    aggregation (:func:`_wp_tagged_counts`) is collected per round
    (gated on TOKENIZER_DRIVER_COUNTS_MAX_ROWS — charset²-bounded,
    never corpus-sized) and the argmax runs on the driver with
    BIT-IDENTICAL semantics: score = IEEE double n/(ca·cb) exactly as
    the previous plan's cast-divide expression, ties (score, a, b)
    with Python string order == Spark's UTF8 binary order (UTF-8 byte
    order preserves codepoint order). Above the gate the original
    join + orderBy().first() plan runs unchanged (the tfidf
    measured-cardinality fallback pattern). The merge-apply step
    checkpoints LAZILY — it materializes inside the next round's
    aggregation job instead of spending a dedicated job per round.

    The alphabet (round-0 symbol keys — exactly the distinct initial
    segmentation pieces) rides along for :func:`wordpiece_vocab`,
    which previously re-scanned the corpus to derive it; None when the
    gate tripped before round 0's counts were collected."""
    spark = docs.sparkSession
    words = (
        with_tokens(docs)
        .select(F.explode("tokens").alias("word"))
        # '' words have zero symbols (the bpe_train sequence(1,0)
        # precedent) — excluded before the char split
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    vocab = words.withColumn(
        "syms", F.expr(_wp_initial_syms_expr())
    ).localCheckpoint(eager=False)  # materializes in round 0's take (r14)

    merges: list[tuple[int, str, str, str, int, int, int]] = []
    alphabet: list[str] | None = None
    driver_mode = True
    for rank in range(n_merges):
        best_pick: tuple[str, str, int, int, int] | None = None
        if driver_mode:
            rows = _wp_tagged_counts(vocab).take(
                TOKENIZER_DRIVER_COUNTS_MAX_ROWS + 1
            )
            if len(rows) > TOKENIZER_DRIVER_COUNTS_MAX_ROWS:
                driver_mode = False  # charset too wide: distributed pick
            else:
                if rank == 0:
                    alphabet = sorted({r["x"] for r in rows if r["y"] is None})
                sym_c = {r["x"]: int(r["n"]) for r in rows if r["y"] is None}
                cand = None
                for r in rows:
                    if r["y"] is None or r["n"] < min_pair:
                        continue
                    a, b, n = r["x"], r["y"], int(r["n"])
                    ca, cb = sym_c[a], sym_c[b]
                    # the exact IEEE chain the distributed plan
                    # compiled: double(n) / (double(ca) * double(cb))
                    key = (-(float(n) / (float(ca) * float(cb))), a, b)
                    if cand is None or key < cand[0]:
                        cand = (key, (a, b, n, ca, cb))
                if cand is None:
                    break
                best_pick = cand[1]
        if not driver_mode:
            pairs = (
                vocab.select(
                    "freq",
                    F.explode(
                        F.expr(
                            "zip_with(slice(syms, 1, size(syms) - 1),"
                            " slice(syms, 2, size(syms) - 1),"
                            " (a, b) -> struct(a, b))"
                        )
                    ).alias("p"),
                )
                .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
                .agg(F.sum("freq").alias("n"))
            )
            sym_counts = (
                vocab.select("freq", F.explode("syms").alias("s"))
                .groupBy("s")
                .agg(F.sum("freq").alias("c"))
            )
            best = (
                pairs.where(F.col("n") >= min_pair)
                .join(
                    sym_counts.select(F.col("s").alias("a"), F.col("c").alias("ca")),
                    "a",
                )
                .join(
                    sym_counts.select(F.col("s").alias("b"), F.col("c").alias("cb")),
                    "b",
                )
                .orderBy(
                    F.desc(
                        F.col("n").cast("double")
                        / (F.col("ca").cast("double") * F.col("cb").cast("double"))
                    ),
                    F.asc("a"),
                    F.asc("b"),
                )
                .first()  # bounded single-row fetch (the bpe_train contract)
            )
            if best is None:
                break
            best_pick = (
                best["a"],
                best["b"],
                int(best["n"]),
                int(best["ca"]),
                int(best["cb"]),
            )
        a, b, n_pair, ca, cb = best_pick
        merged = _wp_merge_label(a, b)
        merges.append((rank, a, b, merged, n_pair, ca, cb))
        qa, qb, qm = (x.replace("'", "\\'") for x in (a, b, merged))
        # lazy checkpoint: lineage still truncates once materialized,
        # but the materialization happens inside the NEXT round's
        # aggregation job (or the fallback's .first()) instead of a
        # dedicated eager job per round; the final round's vocab is
        # never consumed and never materializes at all
        vocab = vocab.withColumn(
            "syms",
            F.expr(
                f"aggregate(syms, cast(array() as array<string>),"
                f" (acc, s) -> CASE WHEN size(acc) > 0"
                f" AND element_at(acc, -1) = '{qa}' AND s = '{qb}'"
                f" THEN concat(slice(acc, 1, size(acc) - 1), array('{qm}'))"
                f" ELSE concat(acc, array(s)) END)"
            ),
        ).localCheckpoint(eager=False)

    return merges, alphabet


def wordpiece_vocab(docs: DataFrame, n_merges: int = 10) -> list[str]:
    """The deployable WordPiece vocabulary: the initial alphabet
    (every word-initial char as-is + every later char ``##``-prefixed,
    exactly the symbols training starts from) plus the learned merged
    tokens. Two bounded collects — alphabet ≤ 2·|charset| rows,
    merges ≤ n_merges rows (the bpe_encode merge-table contract:
    deployment constants, never corpus-sized).

    r14 optimization: the alphabet rides out of the train loop's
    round-0 symbol counts (the same distinct set the dedicated
    explode+distinct pass computed — every initial symbol occurs in
    some word, so the round-0 count table's null-tagged keys ARE the
    alphabet), saving one full corpus re-scan + distinct per call.
    The explicit scan remains as the above-gate fallback."""
    merges, alphabet = _wordpiece_train_impl(docs, n_merges, min_pair=2)
    if alphabet is None:  # driver gate tripped before round 0
        alphabet = sorted(
            r["piece"]
            for r in (
                with_tokens(docs)
                .select(F.explode("tokens").alias("word"))
                .where(F.col("word") != "")
                .select(F.explode(F.expr(_wp_initial_syms_expr())).alias("piece"))
                .distinct()
                .collect()
            )
        )
    return sorted(set(alphabet) | {m[3] for m in merges})


def wordpiece_encode(
    docs: DataFrame,
    vocab: list[str],
    id_col: str = "doc_id",
    unk: str = WORDPIECE_UNK,
) -> DataFrame:
    """Tokenizer INFERENCE — greedy longest-match-first WordPiece
    encoding (the BERT runtime tokenizer): per word, repeatedly take
    the LONGEST vocabulary piece matching at the cursor (continuation
    positions look up '##' + substring — plain string membership, the
    published convention); any position with no match makes the whole
    word a single ``[UNK]`` token (the HF WordPiece rule).

    The vocabulary is a deployment constant shipped in the task
    closure (the bpe_encode contract); Arrow ``mapInPandas`` with a
    per-batch word→encoding cache (Zipf: per-occurrence work becomes
    per-distinct-word work). Output: (doc_id, n_words, n_tokens,
    first_tokens) — the shared tokenizer column contract, so all
    three tokenizers' corpus footprints are directly comparable."""
    vset = frozenset(vocab)

    def encode_word(word: str) -> list[str]:
        n = len(word)
        out: list[str] = []
        pos = 0
        while pos < n:
            hit = None
            for ln_ in range(n - pos, 0, -1):
                cand = ("##" if pos > 0 else "") + word[pos : pos + ln_]
                if cand in vset:
                    hit = (cand, ln_)
                    break
            if hit is None:
                return [unk]
            out.append(hit[0])
            pos += hit[1]
        return out

    def run(batches):
        import pandas as pd

        cache: dict[str, list[str]] = {}

        def enc(word: str) -> list[str]:
            got = cache.get(word)
            if got is None:
                got = cache[word] = encode_word(word)
            return got

        for pdf in batches:
            n_words, n_tokens, first = [], [], []
            for text in pdf["text"]:
                ws = text.split(" ") if text else []
                toks: list[str] = []
                total = 0
                for w in ws:
                    e = enc(w)
                    total += len(e)
                    if len(toks) < 8:
                        toks.extend(e)
                n_words.append(len(ws))
                n_tokens.append(total)
                first.append(" ".join(toks[:8]))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_words": pd.Series(n_words, dtype="int64"),
                    "n_tokens": pd.Series(n_tokens, dtype="int64"),
                    "first_tokens": first,
                }
            )

    return docs.select(F.col(id_col).alias("doc_id"), "text").mapInPandas(
        run, schema="doc_id BIGINT, n_words BIGINT, n_tokens BIGINT, first_tokens STRING"
    )


# ---------------------------------------------------------------------
# Unigram-LM tokenizer training (the SentencePiece unigram model,
# Kudo 2018) — hard-EM over a bounded seed vocabulary
# ---------------------------------------------------------------------

UNIGRAM_MAX_PIECE = 4
UNIGRAM_MIN_SEED = 2
UNIGRAM_COST_SCALE = 10**9
UNIGRAM_MAX_WORD = 16
UNIGRAM_EM_ROUNDS = 2


def _unigram_cost_map(c: DataFrame, scale: int) -> dict[str, int]:
    """Driver-collected ``{piece: cost_fp}`` under the current counts,
    cost(p) = floor(ln(T/c(p)) · scale).

    Bounded collect (the kmeans-q8 contract): the piece vocabulary is
    Heaps-sublinear in corpus size and hard-capped by
    |charset|^max_piece — never corpus-sized. The ln is evaluated
    JVM-SIDE by the exact expression the previous per-level join plan
    compiled in, so the cross-engine floor(ln)·scale parity argument
    (verified empirically at all fixture scales) is unchanged."""
    t = c.agg(F.sum("c").alias("t"))
    rows = (
        c.crossJoin(F.broadcast(t))
        .select(
            "piece",
            F.expr(
                f"CAST(FLOOR(LN(CAST(t AS DOUBLE) / CAST(c AS DOUBLE))"
                f" * {scale}) AS BIGINT)"
            ).alias("cost"),
        )
        .collect()  # vocabulary-bounded, never data-sized
    )
    return {r["piece"]: r["cost"] for r in rows}


def _unigram_viterbi(
    words: DataFrame, costs: dict[str, int], max_piece: int
) -> DataFrame:
    """Viterbi segmentation of every word under the broadcast piece
    costs, FUSED into one Arrow ``mapInPandas`` pass (r12 verdict
    item 2 — the bpe_encode precedent: the previous unrolled
    suffix-DP + forward-walk join chain spent ~6·max_word tiny Spark
    jobs per EM round on a vocab-sized sliver; the whole-word DP is
    a pure function of (word, vocab), so one kernel pass replaces
    them all and wall-clock stops scaling with max_word).

    Semantics are IDENTICAL to the join chain (the pure-Python EM
    parity pytest pins them): suffix DP sbest[pos] = min over vocab
    pieces at pos of cost + sbest[pos+len] in exact BIGINT, then a
    forward walk re-picking argmin with the (total, len) tie-break —
    ties to the SHORTEST piece. Unsegmentable words (sbest[1]
    undefined) emit nothing, exactly as the join chain's empty
    match-set did. Returns one row per used piece:
    (word, freq, step, piece), step 1-based in reading order.

    Scale: the cost table ships in a Spark broadcast (vocab-bounded);
    the kernel is O(len·max_piece) integer work per DISTINCT word
    (words is the post-groupBy frequency table, Heaps-sublinear) —
    embarrassingly parallel, no shuffle, no driver state.

    Broadcast lifecycle (r13 ADVICE): one broadcast is created per EM
    round per entry and is deliberately NEVER unpersisted/destroyed
    here — the returned frame is LAZY and its closure re-executes this
    kernel on every caller action (the final hash/collect replays all
    rounds over the persisted vocab sliver), so an eager destroy()
    would fail that replay and unpersist() is a no-op in one-JVM local
    mode (blocks live in the driver's own BlockManager, which
    unpersist skips). Reclamation relies on ContextCleaner instead,
    exactly like the persist contracts elsewhere: the broadcast is
    referenced ONLY from this closure, so once the caller drops the
    returned frame (check_oracle drops per entry) the py4j proxy and
    the JVM Broadcast become unreachable and ContextCleaner removes
    the blocks. Long single-JVM sweeps therefore hold at most the
    live entries' broadcasts, not the session's history."""
    b = words.sparkSession.sparkContext.broadcast(costs)
    mp = max_piece

    def run(batches):
        import pandas as pd

        cost = b.value
        for pdf in batches:
            ws: list[str] = []
            fs: list[int] = []
            ss: list[int] = []
            ps: list[str] = []
            for word, freq in zip(pdf["word"], pdf["freq"]):
                n = len(word)
                sb: list[int | None] = [None] * (n + 2)
                sb[n + 1] = 0
                for pos in range(n, 0, -1):
                    best = None
                    for ln_ in range(1, min(mp, n - pos + 1) + 1):
                        cst = cost.get(word[pos - 1 : pos - 1 + ln_])
                        nxt = sb[pos + ln_]
                        if cst is None or nxt is None:
                            continue
                        tot = cst + nxt
                        if best is None or tot < best:
                            best = tot
                    sb[pos] = best
                if sb[1] is None:
                    continue  # unsegmentable: no emission (join-chain parity)
                pos, step = 1, 1
                f = int(freq)
                while pos <= n:
                    pick = None
                    for ln_ in range(1, min(mp, n - pos + 1) + 1):
                        p = word[pos - 1 : pos - 1 + ln_]
                        cst = cost.get(p)
                        nxt = sb[pos + ln_]
                        if cst is None or nxt is None:
                            continue
                        k = (cst + nxt, ln_, p)
                        if pick is None or k < pick:
                            pick = k
                    ws.append(word)
                    fs.append(f)
                    ss.append(step)
                    ps.append(pick[2])
                    pos += pick[1]
                    step += 1
            yield pd.DataFrame(
                {
                    "word": pd.Series(ws, dtype="object"),
                    "freq": pd.Series(fs, dtype="int64"),
                    "step": pd.Series(ss, dtype="int64"),
                    "piece": pd.Series(ps, dtype="object"),
                }
            )

    return words.select("word", "freq").mapInPandas(
        run, schema="word STRING, freq BIGINT, step BIGINT, piece STRING"
    )


def _unigram_em_counts(
    docs: DataFrame,
    em_rounds: int,
    max_piece: int,
    min_seed: int,
    max_word: int,
    scale: int,
) -> tuple[DataFrame, DataFrame]:
    """Shared train loop for :func:`unigram_lm_train` /
    :func:`unigram_encode`: returns ``(words, c)`` — the persisted
    word-frequency table (caller unpersists) and the hard-EM piece
    counts after ``em_rounds``. One corpus scan (word frequencies);
    the substring seed pass and every EM round iterate over the
    VOCAB table only."""
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .where((F.col("word") != "") & (F.length("word") <= max_word))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .persist()
    )
    c = (
        words.select(
            "freq",
            F.explode(F.expr("sequence(1, length(word))")).alias("start"),
            "word",
        )
        .select(
            "freq",
            "word",
            "start",
            F.explode(
                F.expr(
                    f"sequence(1, least({max_piece}, length(word) - start + 1))"
                )
            ).alias("len"),
        )
        .select(F.expr("substring(word, start, len)").alias("piece"), "freq")
        .groupBy("piece")
        .agg(F.sum("freq").alias("c"))
        .where((F.length("piece") == 1) | (F.col("c") >= min_seed))
    )
    for _ in range(em_rounds):
        costs = _unigram_cost_map(c, scale)
        uses = _unigram_viterbi(words, costs, max_piece)
        c = uses.groupBy("piece").agg(F.sum("freq").alias("c"))
    return words, c


def unigram_lm_train(
    docs: DataFrame,
    em_rounds: int = UNIGRAM_EM_ROUNDS,
    max_piece: int = UNIGRAM_MAX_PIECE,
    min_seed: int = UNIGRAM_MIN_SEED,
    max_word: int = UNIGRAM_MAX_WORD,
    scale: int = UNIGRAM_COST_SCALE,
) -> DataFrame:
    """Unigram-LM tokenizer TRAINING (Kudo 2018 — the SentencePiece
    unigram model; the production tokenizer beside BPE) as hard-EM
    over the word-frequency vocabulary, in the bpe_train scale shape:
    the corpus is touched exactly ONCE (word frequencies); everything
    after iterates over the VOCAB table, which Heaps' law keeps
    sublinear in corpus size.

    Semantics (the Viterbi/hard-EM variant of SentencePiece's EM —
    expected counts replaced by best-segmentation counts, the
    standard hard-EM specialization):

    - SEED: every substring of length 1..``max_piece`` of every word,
      counted with multiplicity weighted by word frequency; pieces
      below ``min_seed`` are pruned except single chars (coverage).
    - E-step: per word, the min-cost segmentation under fixed-point
      integer piece costs cost(p) = floor(ln(T/c(p)) · scale) — the
      Viterbi path via a SUFFIX DP (sbest[pos] = min over vocab
      pieces at pos of cost + sbest[pos+len]), then a forward walk
      re-picking argmin(cost + sbest[pos+len], ties to the SHORTEST
      piece) so no backpointer state is carried.
    - M-step: piece counts re-estimated from the Viterbi uses
      (count × word freq); unused pieces drop out (the hard-EM prune
      — every word stays segmentable because its own previous
      segmentation survives by construction).
    - Output after ``em_rounds``: (piece, freq, cost_fp) — the final
      vocabulary with re-estimated counts and costs.

    Cross-engine exactness: all arithmetic is BIGINT except the ONE
    ln() per (piece, round), floored to 1e-9 units before any
    comparison (the text_bm25_topk precedent: ln differs by ≤1 ulp
    across JVM/libm on ~8% of inputs; a floor to integer units makes
    a value-flip require the true value to sit within ~1e-7 relative
    of a unit boundary — parity verified empirically at all fixture
    scales, and the DP/argmin tie-break (total, len) is exact-integer
    on both engines).

    Scale: one corpus scan for word frequencies; the substring seed
    pass and the EM rounds iterate over the VOCAB table only. The
    per-word Viterbi is FUSED into one Arrow ``mapInPandas`` kernel
    per round (r12 verdict item 2 — replaces the ~6·max_word-job
    unrolled DP/walk join chain; wall no longer scales with
    max_word), with the piece costs collected to the driver
    (vocab-bounded) and shipped as a Spark broadcast. Words longer
    than ``max_word`` are excluded — the documented truncation
    valve; production would pre-split rare giant tokens. Driver
    holds no data-sized state.

    Reference behavior derived from the published SentencePiece
    algorithm only (Kudo 2018, arXiv:1804.10959); no reference-repo
    counterpart exists (extract_bq.py has no tokenizer)."""
    words, c = _unigram_em_counts(
        docs, em_rounds, max_piece, min_seed, max_word, scale
    )
    t = c.agg(F.sum("c").alias("t"))
    out = (
        c.crossJoin(F.broadcast(t))
        .select(
            "piece",
            F.col("c").alias("freq"),
            F.expr(
                f"CAST(FLOOR(LN(CAST(t AS DOUBLE) / CAST(c AS DOUBLE))"
                f" * {scale}) AS BIGINT)"
            ).alias("cost_fp"),
        )
    )
    words.unpersist()
    return out


def unigram_encode(
    docs: DataFrame,
    em_rounds: int = UNIGRAM_EM_ROUNDS,
    max_piece: int = UNIGRAM_MAX_PIECE,
    min_seed: int = UNIGRAM_MIN_SEED,
    max_word: int = UNIGRAM_MAX_WORD,
    scale: int = UNIGRAM_COST_SCALE,
) -> DataFrame:
    """ENCODE the corpus with the trained unigram-LM vocabulary — the
    sibling of :func:`unigram_lm_train` completing train+encode for
    the second tokenizer (the BPE pair's precedent): train for
    ``em_rounds``, then run ONE more Viterbi pass under the FINAL
    vocabulary's costs and roll the per-word segmentations up to
    documents. Output per doc: (doc_id, n_words, n_tokens,
    first_tokens) — the text_bpe_encode_trained column contract, so
    the two tokenizers' corpus-level footprints are directly
    comparable. Words longer than ``max_word`` (and empty splits) are
    outside the vocabulary contract and excluded from the counts on
    both engines."""
    words, c = _unigram_em_counts(
        docs, em_rounds, max_piece, min_seed, max_word, scale
    )
    # encode pass under the FINAL vocabulary (one more fused kernel)
    enc = _unigram_viterbi(words, _unigram_cost_map(c, scale), max_piece)
    word_enc = enc.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("enc_len"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("step", "piece"))),
            lambda x: x["piece"],
        ).alias("syms"),
    )
    doc_words = (
        docs.where(F.col("text") != "")
        .select(
            "doc_id",
            F.posexplode(F.split("text", " ")).alias("pos0", "word"),
        )
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "word")
    )
    doc_enc = doc_words.join(word_enc, "word").select(
        "doc_id",
        "pos",
        "enc_len",
        "syms",
        F.coalesce(
            F.sum("enc_len").over(
                Window.partitionBy("doc_id")
                .orderBy("pos")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("cum_before"),
    )
    agg = doc_enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.coalesce(F.sum("enc_len"), F.lit(0)).cast("long").alias("n_tokens"),
        F.array_join(
            F.slice(
                F.flatten(
                    F.transform(
                        F.sort_array(
                            F.collect_list(
                                F.when(
                                    F.col("cum_before") < 8,
                                    F.struct("pos", "syms"),
                                )
                            )
                        ),
                        lambda x: x["syms"],
                    )
                ),
                1,
                8,
            ),
            " ",
        ).alias("first_tokens"),
    )
    out = (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("first_tokens", F.lit("")).alias("first_tokens"),
        )
    )
    words.unpersist()
    return out
