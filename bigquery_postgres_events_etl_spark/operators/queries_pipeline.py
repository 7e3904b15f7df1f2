"""Oracle-checked training-data pipeline queries (operators.pipeline
+ operators.cluster) over the ``documents`` fixture.

Determinism conventions: hash ordering via md5 (cross-engine), double
literals forced to DOUBLE in the oracle (DuckDB parses ``0.5`` as
DECIMAL, whose ceil/mult semantics differ from Spark's doubles),
window sums cast to BIGINT (DuckDB HUGEINT), integer ceil-division via
``div``/``//`` (float division could round across a boundary).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table, parallelize
from ..registry import register
from .cluster import connected_components, dup_clusters
from .dedup import minhash_lsh_pairs
from .pipeline import (
    CHUNK_STRIDE,
    CHUNK_WIDTH,
    MIXTURE_DEFAULT_FRACTION,
    MIXTURE_FRACTIONS,
    PACK_BUDGET,
    context_chunks,
    mixture_sample,
    pack_sequences,
    quality_percentile_filter,
    quality_threshold_filter,
    train_test_split,
)
from .queries_text import _STOP_LIST


def _h60(expr: str, seed: int | None = None) -> str:
    inner = f"concat('{seed}:', {expr})" if seed is not None else expr
    return f"('0x' || substr(md5({inner}), 1, 15))::BIGINT"


@register(
    "pipeline_train_test_split",
    f"""
    SELECT doc_id,
           {_h60("CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
           CASE WHEN {_h60("CAST(doc_id AS VARCHAR)")} % 100 < 90
                THEN 'train' ELSE 'test' END AS split
    FROM documents
    """,
)
def pipeline_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bucket train/test split (90/10)."""
    return train_test_split(load_table(spark, sf_dir, "documents"))


_FRAC_SQL = (
    "CASE source "
    + " ".join(
        f"WHEN '{s}' THEN CAST({f} AS DOUBLE)" for s, f in MIXTURE_FRACTIONS.items()
    )
    + f" ELSE CAST({MIXTURE_DEFAULT_FRACTION} AS DOUBLE) END"
)


@register(
    "pipeline_mixture_sample",
    f"""
    WITH h AS (
      SELECT doc_id, source, {_h60("CAST(doc_id AS VARCHAR)", seed=7)} AS hh
      FROM documents
    ), ranked AS (
      SELECT doc_id, source,
             CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY hh, doc_id)
                  AS BIGINT) AS rn,
             CAST(ceil(count(*) OVER (PARTITION BY source) * ({_FRAC_SQL}))
                  AS BIGINT) AS keep_n
      FROM h
    )
    SELECT doc_id, source, rn FROM ranked WHERE rn <= keep_n
    """,
)
def pipeline_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted corpus-mixture sampling per source."""
    return mixture_sample(load_table(spark, sf_dir, "documents"))


@register(
    "pipeline_mixture_sample_sharded",
    f"""
    WITH h AS (
      SELECT doc_id, source,
             {_h60("CAST(doc_id AS VARCHAR)", seed=7)} AS hh,
             {_h60("CAST(doc_id AS VARCHAR)", seed=13)} % 16 AS shard
      FROM documents
    ), ranked AS (
      SELECT doc_id, source, shard,
             CAST(ROW_NUMBER() OVER (PARTITION BY source, shard
                                     ORDER BY hh, doc_id) AS BIGINT) AS rn,
             CAST(ceil(count(*) OVER (PARTITION BY source, shard)
                       * ({_FRAC_SQL})) AS BIGINT) AS keep_n
      FROM h
    )
    SELECT doc_id, source, shard, rn FROM ranked WHERE rn <= keep_n
    """,
)
def pipeline_mixture_sample_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale tier of the mixture sampler: hash-sub-sharded windows so
    a dominant source parallelizes (see mixture_sample_sharded)."""
    from .pipeline import mixture_sample_sharded

    return mixture_sample_sharded(load_table(spark, sf_dir, "documents"))


@register(
    "pipeline_pack_sequences",
    f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             {_h60("CAST(doc_id AS VARCHAR)", seed=11)} AS h
      FROM documents
    ), s AS (
      SELECT doc_id, n_tokens,
             CAST(coalesce(SUM(n_tokens) OVER (
               ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS start_offset
      FROM t
    )
    SELECT doc_id, n_tokens, start_offset,
           CAST(floor(start_offset / {PACK_BUDGET}) AS BIGINT) AS first_bin,
           CAST(floor((start_offset + n_tokens - 1) / {PACK_BUDGET}) AS BIGINT)
             AS last_bin
    FROM s
    """,
)
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk token packing into 512-token bins."""
    return pack_sequences(load_table(spark, sf_dir, "documents"))


@register(
    "pipeline_context_chunks",
    f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    e AS (
      SELECT doc_id, toks,
             unnest(generate_series(0,
               (greatest(len(toks) - {CHUNK_WIDTH}, 0) + {CHUNK_STRIDE - 1})
                 // {CHUNK_STRIDE})) AS i
      FROM t WHERE toks IS NOT NULL
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_id,
           CAST(i * {CHUNK_STRIDE} + 1 AS BIGINT) AS start_token,
           array_to_string(
             toks[(i * {CHUNK_STRIDE} + 1):(i * {CHUNK_STRIDE} + {CHUNK_WIDTH})],
             ' ') AS chunk_text
    FROM e
    """,
)
def pipeline_context_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 32-token context windows, stride 24."""
    return context_chunks(parallelize(load_table(spark, sf_dir, "documents")))


@register(
    "pipeline_quality_filter",
    f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    q AS (
      SELECT doc_id,
             least(len(toks) / 100.0, 1.0) * 0.4
               + (len(list_distinct(toks)) / len(toks)) * 0.4
               + (len(list_filter(toks, t -> t IN ({_STOP_LIST}))) / len(toks)) * 0.2
               AS quality
      FROM t
    ), r AS (
      SELECT doc_id, quality,
             percent_rank() OVER (ORDER BY quality DESC, doc_id) AS pct_rank
      FROM q
    )
    SELECT doc_id, quality, pct_rank FROM r WHERE pct_rank <= 0.5
    """,
)
def pipeline_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-half quality filter by percentile rank."""
    return quality_percentile_filter(load_table(spark, sf_dir, "documents"))


@register(
    "pipeline_quality_threshold",
    f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    q AS (
      SELECT doc_id,
             least(len(toks) / 100.0, 1.0) * 0.4
               + (len(list_distinct(toks)) / len(toks)) * 0.4
               + (len(list_filter(toks, t -> t IN ({_STOP_LIST}))) / len(toks)) * 0.2
               AS quality
      FROM t
    ), thr AS (SELECT quantile_cont(quality, 0.5) AS thr FROM q)
    SELECT doc_id, quality, thr FROM q, thr WHERE quality >= thr
    """,
)
def pipeline_quality_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale tier of the quality filter: percentile threshold scalar
    (partial-aggregatable) + map-side filter — no global sort."""
    return quality_threshold_filter(load_table(spark, sf_dir, "documents"))


def _cluster_oracle_sql(final_select: str) -> str:
    """Recursive-CTE oracle for the LSH-pair cluster entries: the
    Spark side is ITERATIVE min-label propagation (not SQL), but its
    output — comp = min reachable node over the candidate-pair graph
    — is exactly a recursive transitive closure, so DuckDB can
    hash-check it (r7 verdict item #1; these were the last rows-only
    entries with SQL-expressible output)."""
    from .queries_dedup import _CLOSURE_FROM_P_CTE, _LSH_PAIRS_P_CTE

    return (
        "WITH RECURSIVE "
        + _LSH_PAIRS_P_CTE
        + _CLOSURE_FROM_P_CTE
        + final_select
    )


@register(
    "dedup_dup_clusters",
    _cluster_oracle_sql("""
    SELECT c.node AS doc_id, c.cid AS cluster_id,
           CAST(s.n AS BIGINT) AS cluster_size,
           (c.node = c.cid) AS is_canonical
    FROM comp c JOIN sz s ON s.cid = c.cid
    """),
)
def dedup_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over MinHash-LSH candidate pairs →
    (doc_id, cluster_id, cluster_size, is_canonical). The deletion
    step of the dedup pipeline. The ITERATION isn't SQL-expressible
    but the fixpoint is (min reachable node): the oracle recomputes it
    with a DuckDB recursive CTE, on top of the union-find pytest pin
    (tests/test_cluster.py)."""
    pairs = minhash_lsh_pairs(parallelize(load_table(spark, sf_dir, "documents")))
    return dup_clusters(pairs)


@register(
    "pipeline_dedup_apply",
    _cluster_oracle_sql("""
    SELECT d.doc_id, d.source,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
           (c.node IS NOT NULL) AS in_dup_cluster
    FROM documents d
    LEFT JOIN comp c ON c.node = d.doc_id
    WHERE c.node IS NULL OR c.node = c.cid
    """),
)
def pipeline_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup DELETION step end-to-end — the action every dedup
    tier exists to feed: MinHash-LSH candidate pairs → connected
    components → drop every non-canonical cluster member → the
    surviving corpus (doc_id, source, n_tokens, in_dup_cluster). The
    whole pairs→clusters→corpus composition is hash-oracle-checked
    via the shared recursive-closure CTE. Scale: the cluster frame is
    bounded by docs that actually collide in a band (tiny next to the
    corpus), so the keep-join broadcasts; the corpus itself never
    shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(parallelize(docs))
    clusters = dup_clusters(pairs).select("doc_id", "cluster_id", "is_canonical")
    return (
        docs.join(clusters, "doc_id", "left")
        .where(F.col("is_canonical").isNull() | F.col("is_canonical"))
        .select(
            "doc_id",
            "source",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
            F.col("cluster_id").isNotNull().alias("in_dup_cluster"),
        )
    )


@register(
    "dedup_cluster_star",
    _cluster_oracle_sql("""
    SELECT node AS doc_id, cid AS cluster_id FROM comp
    """),
)
def dedup_cluster_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bare connected components over the same LSH pairs: (doc_id,
    cluster_id) from ``cluster.connected_components``, without
    dup_clusters' size and canonical columns. Same recursive-closure
    oracle as dedup_dup_clusters (comp = min reachable node); the
    name is kept for the registry."""
    pairs = minhash_lsh_pairs(parallelize(load_table(spark, sf_dir, "documents")))
    return connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    )


@register(
    "pipeline_pack_sharded",
    f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             {_h60("CAST(doc_id AS VARCHAR)", seed=11)} AS h
      FROM documents
    ), s AS (
      SELECT doc_id, source, n_tokens,
             CAST(coalesce(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS start_offset
      FROM t
    )
    SELECT doc_id, source, n_tokens, start_offset,
           CAST(floor(start_offset / {PACK_BUDGET}) AS BIGINT) AS first_bin,
           CAST(floor((start_offset + n_tokens - 1) / {PACK_BUDGET}) AS BIGINT)
             AS last_bin
    FROM s
    """,
)
def pipeline_pack_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard packing — the parallel 100 TB form: one independent
    stream per source shard, prefix-sums never serialize globally."""
    from .pipeline import pack_sequences_sharded

    return pack_sequences_sharded(load_table(spark, sf_dir, "documents"))


@register(
    "pipeline_pseudonymize",
    """
    SELECT event_id,
           md5(CAST(user_id AS VARCHAR)) AS user_pseudo_id,
           regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS props_redacted
    FROM events
    """,
)
def pipeline_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII pass: identifier tokenization (md5 stand-in for keyed HMAC)
    + digit-run redaction in free text. Map-side, no shuffle."""
    from ..io import load_table as _lt
    from .pipeline import pseudonymize_events

    return pseudonymize_events(_lt(spark, sf_dir, "events"))




def _prep_signals(docs: DataFrame) -> DataFrame:
    """ONE map-side corpus pass computing every per-doc scalar the
    composed prep pipelines consume — token count, quality score,
    PII counts, blocklist verdict, content digest, split bucket — as
    a persisted SLIVER frame (doc_id + a few numerics + one digest;
    orders of magnitude smaller than the text). The composed entries
    previously rebuilt each signal from the raw corpus per consumer
    (8 documents scans in end2end, 16 in prep_full — the r5
    repeated-scan class, caught by the cold scan-budget contract);
    deriving the threshold scalar, the dedup survivors, the filters,
    and the final aggregate from this frame leaves the raw text
    scanned once (plus the decontamination shingle pass, which needs
    the text itself)."""
    from .text import (
        EN_STOPWORDS,
        PII_EMAIL,
        PII_IPV4,
        PII_PHONE,
        with_tokens,
    )

    t = F.col("text")
    n_pii = (
        F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL), F.lit(0)))
        + F.size(F.regexp_extract_all(t, F.lit(PII_PHONE), F.lit(0)))
        + F.size(F.regexp_extract_all(t, F.lit(PII_IPV4), F.lit(0)))
    ).cast("long")
    n_tok = F.size("tokens").cast("long")
    n_dist = F.size(F.array_distinct("tokens")).cast("long")
    stop_arr = "array(" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + ")"
    n_stop = F.expr(
        f"size(filter(tokens, t -> array_contains({stop_arr}, t)))"
    ).cast("long")
    quality = (
        F.least(n_tok / F.lit(100.0), F.lit(1.0)) * 0.4
        + (n_dist / n_tok) * 0.4
        + (n_stop / n_tok) * 0.2
    )
    block_arr = F.array(*[F.lit(w) for w in FULL_PREP_BLOCKLIST])
    from .dedup import md5_hash60

    bucket = F.pmod(md5_hash60(F.col("doc_id").cast("string")), F.lit(100))
    return (
        with_tokens(docs)
        .select(
            "doc_id",
            n_tok.alias("n_tokens"),
            quality.alias("quality"),
            n_pii.alias("n_pii"),
            F.size(F.array_intersect(F.array_distinct("tokens"), block_arr))
            .cast("long")
            .alias("n_blocked"),
            F.md5("text").alias("digest"),
            F.when(bucket < 90, F.lit("train")).otherwise(F.lit("test")).alias("split"),
        )
        .persist()
    )

@register(
    "pipeline_corpus_prep_end2end",
    f"""
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
    q AS (
      SELECT doc_id, len(toks) AS n_tokens,
             least(len(toks) / 100.0, 1.0) * 0.4
               + (len(list_distinct(toks)) / len(toks)) * 0.4
               + (len(list_filter(toks, t -> t IN ({_STOP_LIST}))) / len(toks)) * 0.2
               AS quality
      FROM t
    ),
    thr AS (SELECT quantile_cont(quality, 0.5) AS thr FROM q),
    kept AS (SELECT q.doc_id, q.n_tokens FROM q, thr WHERE q.quality >= thr.thr),
    canon AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    corpus AS (SELECT k.doc_id, k.n_tokens FROM kept k JOIN canon c ON c.doc_id = k.doc_id)
    SELECT CASE WHEN {_h60("CAST(doc_id AS VARCHAR)")} % 100 < 90
                THEN 'train' ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM corpus GROUP BY 1
    """,
)
def pipeline_corpus_prep_end2end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-prep pipeline in one plan: quality-threshold
    filter → exact-dedup canonical survivors → deterministic train/
    test split → per-split doc and token budgets. One declarative
    composition of the §2.12 operators over the ONE-PASS persisted
    signal sliver (_prep_signals): the raw corpus is scanned once,
    and the only shuffles are the dedup hash-agg, the threshold
    scalar, and the final 2-row aggregate."""
    sig = _prep_signals(load_table(spark, sf_dir, "documents"))
    thr = sig.agg(F.percentile("quality", F.lit(0.5)).alias("thr"))
    canon = sig.groupBy("digest").agg(F.min("doc_id").alias("doc_id"))
    return (
        sig.join(canon.select("doc_id"), "doc_id", "left_semi")
        .crossJoin(F.broadcast(thr))
        .where(F.col("quality") >= F.col("thr"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


@register(
    "pipeline_decontaminate",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(CASE WHEN len(t) >= 3
                         THEN list_transform(generate_series(1, len(t) - 2),
                                             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                         ELSE [] END) AS shingle
      FROM toks
    ),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
    train AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE doc_id % 97 != 0)
    SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
    FROM train t JOIN bench b USING (shingle)
    GROUP BY t.doc_id
    """,
)
def pipeline_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any word
    n-gram with the held-out set (doc_id % 97 — a stand-in benchmark
    suite). Fixture uses n=3 so the synthetic word-soup actually
    collides; production uses n=8..13. The benchmark n-gram set is
    parameter-bounded (fixed eval suite) → broadcast; the corpus side
    never shuffles."""
    from pyspark.sql import functions as F

    from .pipeline import decontaminate

    docs = parallelize(load_table(spark, sf_dir, "documents"))
    bench = docs.where(F.col("doc_id") % 97 == 0)
    train = docs.where(F.col("doc_id") % 97 != 0)
    return decontaminate(train, bench, n=3)


BLOCKLIST_TERMS = ["slow", "vector", "stream"]
CONTAM_MIN_OVERLAP = 3
# the composed pipeline gates on a RARE term: the standalone blocklist
# entry reports counts over common terms, but a corpus-prep gate using
# top-frequency tokens would empty the tiny-vocabulary fixture corpus
FULL_PREP_BLOCKLIST = ["dup"]
_FULL_BLOCK_SQL = ", ".join(f"'{t}'" for t in FULL_PREP_BLOCKLIST)
_BLOCK_SQL = ", ".join(f"'{t}'" for t in BLOCKLIST_TERMS)


@register(
    "pipeline_blocklist_filter",
    f"""
    SELECT doc_id,
           CAST(len(list_filter(list_distinct(string_split(text, ' ')),
                                t -> t IN ({_BLOCK_SQL}))) AS BIGINT) AS n_blocked_terms,
           len(list_filter(list_distinct(string_split(text, ' ')),
                           t -> t IN ({_BLOCK_SQL}))) = 0 AS kept
    FROM documents
    """,
)
def pipeline_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style token-blocklist gate — distinct blocked-term count +
    keep/drop verdict, entirely map-side (the blocklist compiles to a
    literal array in the scan's codegen)."""
    from .pipeline import blocklist_filter

    return blocklist_filter(load_table(spark, sf_dir, "documents"), BLOCKLIST_TERMS)


@register(
    "pipeline_length_buckets",
    """
    WITH base AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(ntile(4) OVER (ORDER BY n_tokens NULLS FIRST, doc_id)
                AS BIGINT) AS length_bucket
    FROM base
    """,
)
def pipeline_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum / batch-shape bucketing: quartile buckets by token
    count (short→long), the standard prep for length-grouped batching
    (sequence packing efficiency) and length-based curricula. ntile
    derives from the two-pass global ranking — no unpartitioned
    window at any scale."""
    from .ranking import ntile_from_rn, with_global_ranks

    base = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens")
    )
    ranked = with_global_ranks(
        base, key_order=[("n_tokens", "asc")], tie_order=[("doc_id", "asc")]
    )
    return ranked.select(
        "doc_id",
        "n_tokens",
        ntile_from_rn(F.col("rn"), F.col("n_total"), 4).alias("length_bucket"),
    )


@register(
    "pipeline_corpus_prep_full",
    f"""
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
    blocked_ok AS (
      SELECT doc_id FROM t
      WHERE len(list_filter(list_distinct(toks), x -> x IN ({_FULL_BLOCK_SQL}))) = 0
    ),
    pii AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}'))
           + len(regexp_extract_all(text, '\\+?\\d{{3}}[-. ]\\d{{3}}[-. ]\\d{{4}}'))
           + len(regexp_extract_all(text, '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b'))
             AS n_pii
      FROM t
    ),
    q AS (
      SELECT doc_id, len(toks) AS n_tokens,
             least(len(toks) / 100.0, 1.0) * 0.4
               + (len(list_distinct(toks)) / len(toks)) * 0.4
               + (len(list_filter(toks, x -> x IN ({_STOP_LIST}))) / len(toks)) * 0.2
               AS quality
      FROM t
    ),
    thr AS (SELECT quantile_cont(quality, 0.5) AS thr FROM q),
    kept AS (SELECT q.doc_id, q.n_tokens FROM q, thr WHERE q.quality >= thr.thr),
    canon AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    sh AS (
      SELECT doc_id,
             unnest(CASE WHEN len(toks) >= 3
                         THEN list_transform(generate_series(1, len(toks) - 2),
                                             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                         ELSE [] END) AS shingle
      FROM t
    ),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
    contaminated AS (
      SELECT s.doc_id FROM (SELECT DISTINCT doc_id, shingle FROM sh) s
      JOIN bench b USING (shingle)
      WHERE s.doc_id % 97 != 0
      GROUP BY s.doc_id HAVING count(*) >= {CONTAM_MIN_OVERLAP}
    ),
    corpus AS (
      SELECT k.doc_id, k.n_tokens, p.n_pii
      FROM kept k
      JOIN canon c ON c.doc_id = k.doc_id
      JOIN blocked_ok bo ON bo.doc_id = k.doc_id
      JOIN pii p ON p.doc_id = k.doc_id
      WHERE k.doc_id % 97 != 0
        AND k.doc_id NOT IN (SELECT doc_id FROM contaminated)
    )
    SELECT CASE WHEN {_h60("CAST(doc_id AS VARCHAR)")} % 100 < 90
                THEN 'train' ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_pii) AS BIGINT) AS total_pii_redacted
    FROM corpus GROUP BY 1
    """,
)
def pipeline_corpus_prep_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL composed prep: blocklist gate → PII audit → quality
    threshold → exact-dedup survivors → benchmark decontamination →
    deterministic split → per-split doc/token/PII budgets. Every
    stage is itself an oracle-checked §2.12 operator; this entry
    proves the composition stays one declarative Catalyst plan over
    the ONE-PASS persisted signal sliver (_prep_signals — raw text
    scanned once, plus the decontamination shingle pass which needs
    the text; shuffles: dedup hash-agg, threshold scalar,
    decontamination join, final 2-row aggregate). Contamination here
    requires ≥ CONTAM_MIN_OVERLAP shared distinct n-grams — on the
    synthetic word-soup a single shared 3-gram flags nearly every
    document, which is a property of the fixture, not the policy."""
    from .pipeline import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    train_docs = docs.where(F.col("doc_id") % 97 != 0)

    sig = _prep_signals(docs)
    thr = sig.agg(F.percentile("quality", F.lit(0.5)).alias("thr"))
    canon = sig.groupBy("digest").agg(F.min("doc_id").alias("doc_id"))
    contaminated = (
        decontaminate(train_docs, bench, n=3)
        .where(F.col("n_overlap") >= CONTAM_MIN_OVERLAP)
        .select("doc_id")
    )

    return (
        sig.where(F.col("doc_id") % 97 != 0)
        .where(F.col("n_blocked") == 0)
        .join(canon.select("doc_id"), "doc_id", "left_semi")
        .crossJoin(F.broadcast(thr))
        .where(F.col("quality") >= F.col("thr"))
        .join(contaminated, "doc_id", "left_anti")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_pii").alias("total_pii_redacted"),
        )
    )


@register(
    "pipeline_cdc_chunks",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    b AS (
      SELECT doc_id, toks,
             list_concat(list_concat(
               [CAST(0 AS BIGINT)],
               CASE WHEN len(toks) > 3
                    THEN list_filter(generate_series(3, len(toks) - 1),
                         i -> ('0x' || substr(md5(toks[i-2] || ' ' || toks[i-1]
                                  || ' ' || toks[i]), 1, 15))::BIGINT % 16 = 0)
                    ELSE [] END),
               [CAST(len(toks) AS BIGINT)]) AS bounds
      FROM t WHERE len(toks) >= 1
    ),
    e AS (SELECT doc_id, toks, bounds,
                 unnest(generate_series(1, len(bounds) - 1)) AS tt
          FROM b)
    SELECT doc_id,
           CAST(tt - 1 AS BIGINT) AS chunk_id,
           CAST(bounds[tt] + 1 AS BIGINT) AS start_token,
           CAST(bounds[tt + 1] - bounds[tt] AS BIGINT) AS n_tokens,
           array_to_string(toks[(bounds[tt] + 1):(bounds[tt + 1])], ' ')
             AS chunk_text
    FROM e
    """,
)
def pipeline_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined (rolling-hash) chunking, divisor 16 / 3-gram
    boundary rule — boundaries re-synchronize after edits, so
    chunk-level dedup across crawl snapshots keeps matching. Map-side
    only; the md5-60bit cut rule is bit-identical in the oracle."""
    from .pipeline import cdc_chunks

    return cdc_chunks(parallelize(load_table(spark, sf_dir, "documents")))


@register(
    "pipeline_source_caps",
    f"""
    WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
               FROM documents),
    q AS (
      SELECT doc_id, source,
             least(len(toks) / 100.0, 1.0) * 0.4
               + (len(list_distinct(toks)) / len(toks)) * 0.4
               + (len(list_filter(toks, t -> t IN ({_STOP_LIST}))) / len(toks)) * 0.2
               AS quality
      FROM t
    ),
    r AS (
      SELECT doc_id, source, quality,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY quality DESC, doc_id
             ) AS BIGINT) AS source_rank
      FROM q
    )
    SELECT doc_id, source, quality, source_rank FROM r WHERE source_rank <= 15
    """,
)
def pipeline_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document caps (C4/RefinedWeb anti-domination): keep
    the top-15 docs per source by quality, deterministic tie-break —
    one source-partitioned exchange, ranked sliver is 3 narrow
    columns, never text."""
    from .pipeline import source_caps

    return source_caps(parallelize(load_table(spark, sf_dir, "documents")))


@register(
    "dedup_cdc_chunk_spans",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    b AS (
      SELECT doc_id, toks,
             list_concat(list_concat(
               [CAST(0 AS BIGINT)],
               CASE WHEN len(toks) > 3
                    THEN list_filter(generate_series(3, len(toks) - 1),
                         i -> ('0x' || substr(md5(toks[i-2] || ' ' || toks[i-1]
                                  || ' ' || toks[i]), 1, 15))::BIGINT % 16 = 0)
                    ELSE [] END),
               [CAST(len(toks) AS BIGINT)]) AS bounds
      FROM t WHERE len(toks) >= 1
    ),
    e AS (SELECT doc_id, toks, bounds,
                 unnest(generate_series(1, len(bounds) - 1)) AS tt
          FROM b),
    chunks AS (
      SELECT doc_id,
             array_to_string(toks[(bounds[tt] + 1):(bounds[tt + 1])], ' ')
               AS chunk_text
      FROM e
    )
    SELECT md5(chunk_text) AS chunk_hash,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           min(doc_id) AS first_doc
    FROM chunks
    GROUP BY md5(chunk_text)
    HAVING count(DISTINCT doc_id) >= 2
    """,
)
def dedup_cdc_chunk_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup at CDC-chunk granularity — the composition
    content-defined chunking exists for: because boundaries
    re-synchronize after edits, a paragraph shared by two documents
    lands in byte-identical chunks even when its offsets differ, so a
    plain hash-agg over chunk text finds cross-document repeated spans
    (memorization-removal inventory) without any pairwise comparison.
    One map-side chunk explode + one hash-agg shuffle on the digest —
    at 100 TB the group key is the 128-bit hash, never chunk text."""
    from pyspark.sql import functions as F

    from .pipeline import cdc_chunks

    chunks = cdc_chunks(parallelize(load_table(spark, sf_dir, "documents")))
    return (
        chunks.select("doc_id", F.md5("chunk_text").alias("chunk_hash"))
        .groupBy("chunk_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .where(F.col("n_docs") >= 2)
    )


@register(
    "pipeline_importance_weight",
    """
    WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t
                  FROM documents),
    sh AS (
      SELECT doc_id, source,
             unnest(CASE WHEN len(t) >= 3
                         THEN list_transform(generate_series(1, len(t) - 2),
                              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                         ELSE [] END) AS shingle
      FROM toks
    ),
    counts AS (
      SELECT shingle,
             count(*) AS c_corpus,
             SUM(CASE WHEN source IN ('src0', 'src1') THEN 1 ELSE 0 END)
               AS c_target
      FROM sh GROUP BY shingle
    )
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(SUM(c.c_target) AS BIGINT) AS sum_target,
           CAST(SUM(c.c_corpus) AS BIGINT) AS sum_corpus,
           CAST(SUM(c.c_target) AS DOUBLE) / SUM(c.c_corpus) AS importance
    FROM sh s JOIN counts c ON c.shingle = s.shingle
    GROUP BY s.doc_id
    """,
)
def pipeline_importance_weight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data-selection weights: pooled target/corpus n-gram
    count ratio per document (src0+src1 stand in for the curated
    target distribution) — integer sums, one final division."""
    from .pipeline import importance_weight

    return importance_weight(parallelize(load_table(spark, sf_dir, "documents")))


@register(
    "pipeline_paragraph_dedup",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    b AS (
      SELECT doc_id, toks,
             list_concat(list_concat(
               [CAST(0 AS BIGINT)],
               CASE WHEN len(toks) > 3
                    THEN list_filter(generate_series(3, len(toks) - 1),
                         i -> ('0x' || substr(md5(toks[i-2] || ' ' || toks[i-1]
                                  || ' ' || toks[i]), 1, 15))::BIGINT % 16 = 0)
                    ELSE [] END),
               [CAST(len(toks) AS BIGINT)]) AS bounds
      FROM t WHERE len(toks) >= 1
    ),
    e AS (SELECT doc_id, toks, bounds,
                 unnest(generate_series(1, len(bounds) - 1)) AS tt
          FROM b),
    chunks AS (
      SELECT doc_id,
             CAST(tt - 1 AS BIGINT) AS chunk_id,
             CAST(bounds[tt + 1] - bounds[tt] AS BIGINT) AS n_tokens,
             array_to_string(toks[(bounds[tt] + 1):(bounds[tt + 1])], ' ')
               AS chunk_text
      FROM e
    ),
    flagged AS (
      SELECT doc_id, chunk_id, n_tokens, chunk_text,
             CASE WHEN ROW_NUMBER() OVER (
               PARTITION BY ('0x' || substr(md5(chunk_text), 1, 15))::BIGINT
               ORDER BY doc_id, chunk_id) = 1 THEN 1 ELSE 0 END AS keep
      FROM chunks
    )
    SELECT doc_id,
           count(*) AS n_chunks,
           CAST(sum(keep) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN keep = 1 THEN n_tokens ELSE 0 END) AS BIGINT)
             AS n_tokens_kept,
           coalesce(string_agg(chunk_text, ' ' ORDER BY chunk_id)
                      FILTER (WHERE keep = 1), '') AS text_kept
    FROM flagged GROUP BY doc_id
    """,
)
def pipeline_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition removal with rewrite: CDC-chunk the corpus, keep
    each span's first corpus-wide occurrence, re-concatenate the
    survivors per document (MassiveText's duplicated-passage removal
    as one declarative plan: map-side chunking + one digest window +
    one doc aggregation)."""
    from .pipeline import paragraph_dedup

    return paragraph_dedup(parallelize(load_table(spark, sf_dir, "documents")))


@register(
    "pipeline_stratified_sample",
    f"""
    WITH r AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY {_h60('CAST(doc_id AS VARCHAR)', seed=23)}, doc_id
             ) AS pick
      FROM documents
    )
    SELECT doc_id, source, CAST(pick AS BIGINT) AS pick
    FROM r WHERE pick <= 10
    """,
)
def pipeline_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k stratified sampling: exactly min(k, |stratum|) docs per
    source, drawn in a deterministic pseudo-random order (md5 of the
    id — reproducible across runs AND engines, unlike rand(seed)
    which is engine-specific). The complement of `pipeline_
    mixture_sample`'s rate-based draw: rates give binomial-sized
    strata, this gives exact counts (eval sets, per-domain quotas).
    One source-partitioned exchange over an (id, source, hash)
    sliver; text never shuffles — rejoin by id downstream."""
    docs = load_table(spark, sf_dir, "documents")
    from .dedup import md5_hash60

    w = Window.partitionBy("source").orderBy(
        md5_hash60(F.col("doc_id").cast("string"), seed=23), "doc_id"
    )
    return (
        docs.select("doc_id", "source")
        .withColumn("pick", F.row_number().over(w).cast("bigint"))
        .where(F.col("pick") <= 10)
    )


@register(
    "pipeline_temperature_mixture",
    f"""
    WITH sizes AS (
      SELECT source, count(*) AS n_src FROM documents GROUP BY source
    ),
    weights AS (
      SELECT source, n_src, sqrt(CAST(n_src AS DOUBLE)) AS w FROM sizes
    ),
    tot AS (
      SELECT CAST(SUM(CAST(w AS DECIMAL(27,12))) AS DOUBLE) AS w_total
      FROM weights
    ),
    rates AS (
      SELECT source, n_src,
             least(CAST(1 AS DOUBLE),
                   CAST(100 AS DOUBLE) * (w / t.w_total) / n_src) AS rate
      FROM weights, tot t
    )
    SELECT d.doc_id, d.source, r.rate
    FROM documents d JOIN rates r ON d.source = r.source
    WHERE {_h60('CAST(d.doc_id AS VARCHAR)', seed=31)} % 1000000
          < CAST(r.rate * 1000000 AS BIGINT)
    """,
)
def pipeline_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened source mixture (the mT5/XLM-R recipe,
    alpha = 0.5): sampling mass per source ∝ n^alpha, so dominant
    sources are down-weighted and tail sources up-weighted relative
    to natural proportions. sqrt is IEEE correctly-rounded (unlike
    ln), the weight total sums in exact decimal, and membership is
    the deterministic md5-threshold draw — so the exact sampled SET
    is engine-reproducible. Plan: source sizes (one narrow agg) →
    1-row total → per-source rates joined back (AQE broadcasts the
    |sources|-row rate table). Differs from `pipeline_mixture_sample`
    (hand-specified fractions) by DERIVING the rates from measured
    sizes + temperature."""
    docs = load_table(spark, sf_dir, "documents")
    from .dedup import md5_hash60

    sizes = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    weights = sizes.withColumn("w", F.sqrt(F.col("n_src").cast("double")))
    tot = weights.agg(
        F.sum(F.col("w").cast("decimal(27,12)")).cast("double").alias("w_total")
    )
    rates = weights.crossJoin(F.broadcast(tot)).select(
        "source",
        F.least(
            F.lit(1.0),
            F.lit(100.0) * (F.col("w") / F.col("w_total")) / F.col("n_src"),
        ).alias("rate"),
    )
    return (
        docs.join(rates, "source")
        .where(
            F.pmod(md5_hash60(F.col("doc_id").cast("string"), seed=31), F.lit(1000000))
            < (F.col("rate") * 1000000).cast("bigint")
        )
        .select("doc_id", "source", "rate")
    )


@register(
    "pipeline_weighted_sample",
    f"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             CAST(-ln(CAST({_h60("CAST(doc_id AS VARCHAR)", seed=17)} + 1 AS DOUBLE)
                      / CAST(1152921504606846977 AS DOUBLE))
                  / CAST(n_chars AS DOUBLE) AS DECIMAL(20,9)) AS es_key
      FROM documents
    )
    SELECT doc_id, n_chars
    FROM keyed ORDER BY es_key, doc_id LIMIT 100
    """,
)
def pipeline_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis weighted sample without replacement: k
    smallest −ln(u)/w keys, u drawn per-row from md5 — map-side keys +
    TakeOrderedAndProject, no corpus shuffle, partitioning-invariant.
    The transcendental es_key is NOT in the compared output (r5 driver
    hash-fail: a key within 1 ulp of a DECIMAL(20,9) boundary rounds
    differently across libm builds) — only the selected set is."""
    from .pipeline import weighted_sample

    return weighted_sample(load_table(spark, sf_dir, "documents"))


@register("pipeline_decontaminate_bloom", None)  # bloom binary: no DuckDB twin
def pipeline_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter scale tier of benchmark decontamination: the
    held-out suite folds to one binary scalar; the corpus streams
    map-side through might_contain (no corpus-side join). One-sided
    error — flagged ⊇ exact tier's contaminated set (pytest-pinned)."""
    from pyspark.sql import functions as F

    from .pipeline import decontaminate_bloom

    docs = parallelize(load_table(spark, sf_dir, "documents"))
    bench = docs.where(F.col("doc_id") % 97 == 0)
    train = docs.where(F.col("doc_id") % 97 != 0)
    return decontaminate_bloom(train, bench, n=3)


# Ensemble quality-gate thresholds: each signal is cheap and
# individually weak; the AND of them is the production gate shape
# (FineWeb/RefinedWeb combine signals exactly this way). Entropy
# threshold in nats; TTR band filters both stamped-out repetition
# (low) and hex-soup noise (high ~1.0 on long docs).
ENSEMBLE_MIN_TOKENS = 30
ENSEMBLE_MAX_TOKENS = 100_000
ENSEMBLE_MIN_ENTROPY = "1.5"
ENSEMBLE_TTR_LO = "0.05"
ENSEMBLE_TTR_HI = "0.9"


@register(
    "pipeline_quality_ensemble",
    f"""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
    tc AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY doc_id, token),
    tot AS (
      SELECT doc_id, token, c, SUM(c) OVER (PARTITION BY doc_id) AS n FROM tc
    ),
    b AS (
      SELECT doc_id,
             CAST(MAX(n) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(SUM(CASE WHEN token IN ({_FULL_BLOCK_SQL}) THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
             SUM(CAST(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                      * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                 AS DECIMAL(20,9))) AS ent_dec
      FROM tot GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_tokens,
           CAST(b.n_distinct AS DOUBLE) / b.n_tokens AS ttr,
           b.n_blocked,
           (b.n_tokens >= {ENSEMBLE_MIN_TOKENS} AND b.n_tokens <= {ENSEMBLE_MAX_TOKENS}) AS pass_length,
           (b.ent_dec >= CAST({ENSEMBLE_MIN_ENTROPY} AS DECIMAL(20,9))) AS pass_entropy,
           (CAST(b.n_distinct AS DOUBLE) / b.n_tokens >= CAST({ENSEMBLE_TTR_LO} AS DOUBLE)
            AND CAST(b.n_distinct AS DOUBLE) / b.n_tokens <= CAST({ENSEMBLE_TTR_HI} AS DOUBLE)) AS pass_ttr,
           (b.n_blocked = 0) AS pass_blocklist,
           (b.n_tokens >= {ENSEMBLE_MIN_TOKENS} AND b.n_tokens <= {ENSEMBLE_MAX_TOKENS}
            AND b.ent_dec >= CAST({ENSEMBLE_MIN_ENTROPY} AS DECIMAL(20,9))
            AND CAST(b.n_distinct AS DOUBLE) / b.n_tokens >= CAST({ENSEMBLE_TTR_LO} AS DOUBLE)
            AND CAST(b.n_distinct AS DOUBLE) / b.n_tokens <= CAST({ENSEMBLE_TTR_HI} AS DOUBLE)
            AND b.n_blocked = 0) AS keep
    FROM b
    """,
)
def pipeline_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-signal quality GATE — the production shape
    (FineWeb/RefinedWeb): individually-weak cheap signals ANDed into
    one keep verdict, every signal emitted alongside so the gate is
    auditable per document (which rule fired, not just that one did).
    Signals: Gopher length band, unigram-entropy floor (the
    stamped-out-boilerplate catch), type-token-ratio band (low =
    repetition, ~1.0 on long docs = hex soup), and the token
    blocklist. All integer/decimal-rounded arithmetic; the raw
    entropy double is NOT in the compared output (registry
    transcendental boundary-safety rule — the r5 weighted-sample
    failure class), and the entropy gate compares the exact decimal
    sum to an exact decimal threshold on both engines.

    Plan: ONE corpus scan → one (doc, token) count shuffle of integer
    slivers → one doc-partitioned window + aggregation deriving every
    signal; no join, no corpus-sized cache. Boolean columns compare
    values derived identically on both engines, so the verdict cannot
    flip across engines."""
    from pyspark.sql import Window

    from .dedup import with_tokens

    docs = parallelize(load_table(spark, sf_dir, "documents"))
    # ONE corpus pass, NO corpus-sized cache: every signal — length,
    # type-token ratio, blocklist hits, entropy — derives from the
    # (doc, token, count) frame (n_tokens = Σc, n_distinct = rows,
    # n_blocked = rows with a blocked token), so the corpus is scanned
    # and tokenized once and the only shuffled/held state is integer
    # count slivers. (An earlier draft persisted the tokenized corpus
    # instead — at 100 TB that caches data LARGER than the source for
    # two consumers; the count frame makes the second consumer free.)
    tok = with_tokens(docs).select("doc_id", F.explode("tokens").alias("token"))
    tc = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("doc_id")
    contrib = F.expr(
        "CAST(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))"
        " * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) AS DECIMAL(20,9))"
    )
    blocked = F.when(F.col("token").isin(*FULL_PREP_BLOCKLIST), 1).otherwise(0)
    base = (
        tc.select("doc_id", "c", blocked.alias("blk"), F.sum("c").over(w).alias("n"))
        .groupBy("doc_id")
        .agg(
            F.max("n").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.sum("blk").cast("long").alias("n_blocked"),
            F.sum(contrib).alias("ent_dec"),
        )
    )
    ttr = F.col("n_distinct").cast("double") / F.col("n_tokens")
    pass_length = (F.col("n_tokens") >= ENSEMBLE_MIN_TOKENS) & (
        F.col("n_tokens") <= ENSEMBLE_MAX_TOKENS
    )
    # exact-decimal threshold on the exact-decimal sum (never a
    # double-vs-double compare; the registry boundary-safety rule)
    pass_entropy = F.col("ent_dec") >= F.lit(ENSEMBLE_MIN_ENTROPY).cast(
        "decimal(20,9)"
    )
    pass_ttr = (ttr >= F.lit(ENSEMBLE_TTR_LO).cast("double")) & (
        ttr <= F.lit(ENSEMBLE_TTR_HI).cast("double")
    )
    pass_block = F.col("n_blocked") == 0
    return base.select(
        "doc_id",
        "n_tokens",
        ttr.alias("ttr"),
        "n_blocked",
        pass_length.alias("pass_length"),
        pass_entropy.alias("pass_entropy"),
        pass_ttr.alias("pass_ttr"),
        pass_block.alias("pass_blocklist"),
        (pass_length & pass_entropy & pass_ttr & pass_block).alias("keep"),
    )


# Gopher/LLaMA-style epoch repeat factors for the fixture mix: a
# curated source seen 2.5x per epoch, a boosted one 1.5x, a
# down-weighted one 0.25x, everything else exactly once.
EPOCH_WEIGHTS = {"src0": 2.5, "src3": 1.5, "src7": 0.25}


@register(
    "pipeline_epoch_repeat",
    f"""
    WITH w AS (
      SELECT doc_id, source,
             CASE source WHEN 'src0' THEN CAST(2.5 AS DOUBLE)
                         WHEN 'src3' THEN CAST(1.5 AS DOUBLE)
                         WHEN 'src7' THEN CAST(0.25 AS DOUBLE)
                         ELSE CAST(1.0 AS DOUBLE) END AS weight,
             CASE source WHEN 'src0' THEN 2 WHEN 'src3' THEN 1 WHEN 'src7' THEN 0 ELSE 1 END
               + CASE WHEN {_h60("CAST(doc_id AS VARCHAR)", 41)} % 1000000 <
                           CASE source WHEN 'src0' THEN 500000 WHEN 'src3' THEN 500000
                                       WHEN 'src7' THEN 250000 ELSE 0 END
                      THEN 1 ELSE 0 END AS n_copies
      FROM documents
    )
    SELECT doc_id, source, weight, CAST(n_copies AS INTEGER) AS n_copies,
           CAST(unnest(generate_series(1, n_copies)) AS INTEGER) AS copy_id
    FROM w WHERE n_copies > 0
    """,
)
def pipeline_epoch_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-epoch repeat-factor upsampling of the corpus mix (docs
    from a 2.5x source appear 2-3 times, deterministically) — see
    pipeline.epoch_repeat for the stability/scale contract. Map-side
    expression + explode, zero shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    from .pipeline import epoch_repeat

    return epoch_repeat(docs, EPOCH_WEIGHTS)


# Waterfill budget as a fraction of total corpus tokens, in EXACT
# integer arithmetic (19/20 = 95% — high enough that the fixture's
# largest sources saturate the level and the fixpoint is non-trivial)
WATERFILL_BUDGET_NUM = 19
WATERFILL_BUDGET_DEN = 20


@register(
    "pipeline_token_waterfill",
    f"""
    WITH caps AS (
      SELECT source, CAST(SUM(n_chars) AS BIGINT) AS cap
      FROM documents GROUP BY source
    ),
    st AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST((SUM(cap) * {WATERFILL_BUDGET_NUM})
                  // {WATERFILL_BUDGET_DEN} AS BIGINT) AS b
      FROM caps
    ),
    rk AS (
      SELECT source, cap,
             CAST(ROW_NUMBER() OVER (ORDER BY cap, source) AS BIGINT) AS k,
             CAST(SUM(cap) OVER (ORDER BY cap, source
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pk
      FROM caps
    ),
    j AS (SELECT rk.*, st.n, st.b FROM rk, st),
    ag AS (
      SELECT COALESCE(MAX(CASE WHEN pk + (n - k) * cap <= b
                               THEN k END), 0) AS kstar,
             COALESCE(MAX(CASE WHEN pk + (n - k) * cap <= b
                               THEN pk END), 0) AS p_kstar
      FROM j
    )
    SELECT source, cap AS capacity,
           CAST(CASE WHEN k <= kstar THEN cap
                ELSE (b - p_kstar) // NULLIF(n - kstar, 0)
                     + CASE WHEN k - kstar <=
                              (b - p_kstar) % NULLIF(n - kstar, 0)
                            THEN 1 ELSE 0 END
                END AS BIGINT) AS allocated,
           k <= kstar AS saturated
    FROM j, ag
    """,
)
def pipeline_token_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget waterfilling across sources — the mixture-design
    allocator for "fit this corpus into B training tokens without
    over-draining any source": sources smaller than the water level
    contribute everything they have (saturated); the rest are
    levelled, so the budget spreads as evenly as the caps allow. The
    closed form needs only a sort + prefix sums — k* is the largest
    saturated count with P_k + (n−k)·t_k ≤ B — and the level is dealt
    out in EXACT integer arithmetic: base = (B−P_k*) div (n−k*), the
    (B−P_k*) mod (n−k*) remainder tokens go one each to the smallest
    unsaturated sources. Σ allocated == B exactly, no float anywhere
    (the temperature/proportional siblings are
    pipeline_temperature_mixture / pipeline_mixture_sample).

    Plan: per-source capacity aggregation (one exchange over the
    sliver); the ordering window rides the SOURCE VOCABULARY — a
    small finite set by construction, never corpus-sized — and the
    fixpoint scalars broadcast back. At 100 TB the only corpus-scale
    work is the first groupBy."""
    caps = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum("n_chars").cast("long").alias("cap"))
    )
    return token_waterfill(caps)


def token_waterfill(
    caps: DataFrame,
    budget_num: int = WATERFILL_BUDGET_NUM,
    budget_den: int = WATERFILL_BUDGET_DEN,
) -> DataFrame:
    """The waterfill core over a (source, cap) frame — factored out of
    the registered entry so property tests can drive it with arbitrary
    capacity tables (see test_pipeline_ops hypothesis case)."""
    w = Window.orderBy("cap", "source")
    ranked = caps.select(
        "source",
        "cap",
        F.row_number().over(w).cast("long").alias("k"),
        F.sum("cap")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("pk"),
    )
    st = caps.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr(
            f"CAST((SUM(cap) * {budget_num})"
            f" div {budget_den} AS BIGINT)"
        ).alias("b"),
    )
    j = ranked.crossJoin(F.broadcast(st))
    sat = (F.col("pk") + (F.col("n") - F.col("k")) * F.col("cap")) <= F.col("b")
    ag = j.agg(
        F.coalesce(F.max(F.when(sat, F.col("k"))), F.lit(0).cast("long")).alias(
            "kstar"
        ),
        F.coalesce(F.max(F.when(sat, F.col("pk"))), F.lit(0).cast("long")).alias(
            "p_kstar"
        ),
    )
    out = j.crossJoin(F.broadcast(ag))
    # nullif guards the all-saturated case (kstar == n, reachable when
    # budget >= total capacity): every row then takes the k <= kstar
    # branch so base/extra are unused, but ANSI mode (and the DuckDB
    # oracle) would still error on the eager 0-divisor without it
    base = F.expr("(b - p_kstar) div nullif(n - kstar, 0)")
    extra = F.when(
        (F.col("k") - F.col("kstar"))
        <= F.expr("(b - p_kstar) % nullif(n - kstar, 0)"),
        F.lit(1).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    return out.select(
        "source",
        F.col("cap").alias("capacity"),
        F.when(F.col("k") <= F.col("kstar"), F.col("cap"))
        .otherwise(base + extra)
        .cast("long")
        .alias("allocated"),
        (F.col("k") <= F.col("kstar")).alias("saturated"),
    )


HRW_SHARDS = 8


@register(
    "pipeline_rendezvous_sharding",
    f"""
    WITH w AS (
      SELECT doc_id, s.shard,
             {_h60("CAST(doc_id AS VARCHAR) || '#' || CAST(s.shard AS VARCHAR)")}
               AS weight
      FROM documents, (SELECT unnest(generate_series(0, {HRW_SHARDS - 1}))
                       AS shard) s
    ),
    assigned AS (
      SELECT doc_id, shard, weight FROM (
        SELECT doc_id, shard, weight,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY weight DESC, shard) AS rn
        FROM w
      ) WHERE rn = 1
    ),
    sizes AS (
      SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM assigned GROUP BY shard
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
    SELECT CAST(s.shard AS INTEGER) AS shard, s.n_docs,
           CAST(s.n_docs AS DOUBLE) * {HRW_SHARDS} / t.n AS balance_ratio
    FROM sizes s, tot t
    """,
)
def pipeline_rendezvous_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) sharding — the stable
    document→shard assignment a pipeline uses so that ADDING a shard
    moves only ~1/(n+1) of the keys (plain `hash % n` reshuffles
    almost everything): each doc scores every shard with the
    deterministic 60-bit md5 weight and lands on its argmax. Emits
    per-shard populations and the balance ratio (n_docs·S/N — 1.0 =
    perfectly even). The minimal-disruption property is pytest-pinned
    by re-running with S+1 shards.

    Scale: the S-way weight fan-out is map-side (S is a config
    constant); the argmax is a per-doc window over S rows; only the
    shard-sized rollup shuffles."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    shards = spark.range(HRW_SHARDS).select(F.col("id").cast("int").alias("shard"))
    from .dedup import md5_hash60

    w = docs.crossJoin(F.broadcast(shards)).select(
        "doc_id",
        "shard",
        md5_hash60(
            F.concat_ws("#", F.col("doc_id").cast("string"), F.col("shard"))
        ).alias("weight"),
    )
    wr = Window.partitionBy("doc_id").orderBy(
        F.col("weight").desc(), F.col("shard")
    )
    assigned = (
        w.withColumn("rn", F.row_number().over(wr)).where(F.col("rn") == 1)
    )
    sizes = assigned.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    tot = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return sizes.crossJoin(F.broadcast(tot)).select(
        "shard",
        "n_docs",
        (
            F.col("n_docs").cast("double")
            * F.lit(HRW_SHARDS)
            / F.col("n").cast("double")
        ).alias("balance_ratio"),
    )


CURRICULUM_STAGES = 4


@register(
    "pipeline_curriculum_order",
    f"""
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (ORDER BY n_chars ASC, doc_id ASC) AS rnk,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM documents
    ),
    staged AS (
      SELECT doc_id, source, n_chars,
             CAST(((rnk - 1) * {CURRICULUM_STAGES}) // n AS BIGINT) AS stage,
             rnk
      FROM ranked
    ),
    interleaved AS (
      SELECT doc_id, source, n_chars, stage,
             ROW_NUMBER() OVER (PARTITION BY stage, source
                                ORDER BY rnk) AS src_rnk
      FROM staged
    )
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars, stage,
           CAST(ROW_NUMBER() OVER (ORDER BY stage, src_rnk,
                                   source NULLS FIRST, doc_id)
                AS BIGINT) AS train_order
    FROM interleaved
    """,
)
def pipeline_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum data ordering (Bengio et al. 2009, the data-ordering
    dual of mixture design): documents ranked easy→hard by a
    difficulty proxy (length, ties to doc_id), split into
    {CURRICULUM_STAGES} equal difficulty stages, and WITHIN each stage
    the sources are round-robin interleaved (order by per-source rank,
    then source) so no training window is single-source — the schedule
    a curriculum loader actually consumes, emitted as a deterministic
    train_order column.

    All-integer window arithmetic (rank, floor-div stage split,
    per-(stage, source) re-rank) — hash-exact with no numeric caveats.

    Scale: both GLOBAL orderings (the length rank and the final
    train_order) run through the two-pass distributed ranking pattern
    (ranking.with_global_ranks — range partition, local ranks,
    bounded per-partition offset table), so no data-sized
    single-reducer window anywhere; the interleave window partitions
    by (stage, source) — parallel by construction."""
    from .ranking import with_global_ranks

    docs = load_table(spark, sf_dir, "documents")
    ranked = with_global_ranks(
        docs.select("doc_id", "source", "n_chars"),
        key_order=[("n_chars", "asc")],
        tie_order=[("doc_id", "asc")],
    ).select(
        "doc_id",
        "source",
        "n_chars",
        F.col("rn").alias("rnk"),
        F.col("n_total").alias("n"),
    )
    staged = ranked.select(
        "doc_id",
        "source",
        "n_chars",
        F.expr(f"CAST(((rnk - 1) * {CURRICULUM_STAGES}) div n AS BIGINT)").alias(
            "stage"
        ),
        "rnk",
    )
    w_src = Window.partitionBy("stage", "source").orderBy("rnk")
    inter = staged.select(
        "doc_id",
        "source",
        "n_chars",
        "stage",
        F.row_number().over(w_src).alias("src_rnk"),
    )
    out = with_global_ranks(
        inter,
        key_order=[("stage", "asc"), ("src_rnk", "asc"), ("source", "asc")],
        tie_order=[("doc_id", "asc")],
    )
    return out.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        "stage",
        F.col("rn").cast("long").alias("train_order"),
    )


def _doremi_oracle() -> str:
    """Unrolled MATERIALIZED-CTE twin of the fixed-point
    multiplicative-weights loop in operators/pipeline.doremi_weights
    (the unigram-trainer oracle pattern: DuckDB cannot aggregate over
    a recursive reference, so the bounded round count unrolls into a
    plain CTE chain, each level MATERIALIZED to stop 2^depth plan
    inlining). Per-source proxy loss comes from the shared NB scoring
    chain (NB_SCORE_CTES — the same SQL the scorer and evaluators
    use), per-doc decimal scores routed through the identical
    decimal→double→decimal cast Spark applies to nb_score."""
    from .pipeline import (
        DOREMI_ETA_NUM,
        DOREMI_EXCESS_CLAMP,
        DOREMI_LOSS_SCALE,
        DOREMI_ROUNDS,
        DOREMI_W_SCALE,
    )
    from .queries_text import NB_SCORE_CTES

    S, ETA, C = DOREMI_W_SCALE, DOREMI_ETA_NUM, DOREMI_EXCESS_CLAMP
    parts = [
        """score AS MATERIALIZED (
      SELECT d.doc_id,
             CAST(CAST(d.llr + p.prior AS DOUBLE) AS DECIMAL(20,9)) AS sd
      FROM per_doc d CROSS JOIN priors p
    )""",
        f"""srcloss AS MATERIALIZED (
      SELECT doc.source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(FLOOR(-(CAST(SUM(s.sd) AS DOUBLE) / count(*))
                        * {DOREMI_LOSS_SCALE}) AS BIGINT) AS loss_fp
      FROM score s JOIN documents doc USING (doc_id)
      GROUP BY doc.source
    )""",
        f"""w0 AS MATERIALIZED (
      SELECT source, n_docs, loss_fp,
             CAST({S} AS BIGINT) // (SELECT count(*) FROM srcloss) AS w
      FROM srcloss
    )""",
    ]
    # the weighted-mean terms w·loss_fp reach ~1e18 each (w ≤ 1e9,
    # loss_fp ~ 1e9 on extreme-loss docs), so the SUM over sources can
    # overflow BIGINT; HUGEINT matches the Python loop's unbounded ints
    # (doremi_weights) instead of raising where the engine succeeds.
    for r in range(1, DOREMI_ROUNDS + 1):
        p = r - 1
        parts.append(f"""a{r} AS MATERIALIZED (
      SELECT source, n_docs, loss_fp,
             (w * (CAST({S} AS BIGINT)
                   + CASE WHEN exc >= 0
                          THEN (CAST({ETA} AS BIGINT) * exc) // {C}
                          ELSE -((CAST({ETA} AS BIGINT) * (-exc)) // {C})
                     END)) // CAST({S} AS BIGINT) AS w
      FROM (SELECT source, n_docs, loss_fp, w,
                   LEAST(GREATEST(loss_fp -
                         (SELECT CASE WHEN SUM(CAST(w AS HUGEINT) * loss_fp) >= 0
                                 THEN SUM(CAST(w AS HUGEINT) * loss_fp) // SUM(w)
                                 ELSE -((-SUM(CAST(w AS HUGEINT) * loss_fp)) // SUM(w)) END
                          FROM w{p}),
                         -{C}), {C}) AS exc
            FROM w{p}) t
    )""")
        parts.append(f"""w{r} AS MATERIALIZED (
      SELECT source, n_docs, loss_fp,
             (w * CAST({S} AS BIGINT)) // (SELECT SUM(w) FROM a{r}) AS w
      FROM a{r}
    )""")
    body = ",\n    ".join(parts)
    return f"""
    WITH {NB_SCORE_CTES},
    {body}
    SELECT source, n_docs, loss_fp, CAST(w AS BIGINT) AS weight_fp
    FROM w{DOREMI_ROUNDS}
    """


@register("pipeline_doremi_weights", _doremi_oracle())
def pipeline_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al. 2023) — the
    missing member of the mixture-design family (temperature,
    waterfill, caps, curriculum): per-source proxy loss = −mean NB
    quality llr (the already-in-engine proxy model, per-doc decimal
    scores summed order-free, ONE IEEE division, floored to 1e-6
    fixed point), then DOREMI_ROUNDS of the exact-integer
    Hedge/Group-DRO multiplicative-weights update — domains the proxy
    scores worst gain mixture weight, re-normalized each round.
    Output: (source, n_docs, loss_fp, weight_fp) — weight_fp at 1e9
    scale, the training-mixture rates a data pipeline feeds its
    sampler.

    Scale: the corpus-sized work is the NB scoring plan (one token
    sliver, the persisted-tc contract); the per-source rollup is
    |sources| rows, the MW loop is driver arithmetic over that
    vocabulary-bounded table (the kmeans-q8 centroid-loop contract),
    and the weights rejoin via a literal map — no data-sized driver
    state, no extra corpus scan."""
    from .pipeline import DOREMI_LOSS_SCALE, doremi_weights
    from .text import nb_score_with_tc

    docs = parallelize(load_table(spark, sf_dir, "documents"))
    scored_full, tc = nb_score_with_tc(docs)
    labels = tc.select("doc_id", "source").distinct()
    srcloss = (
        scored_full.select("doc_id", "nb_score")
        .join(labels, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.expr("CAST(nb_score AS DECIMAL(20,9))")).alias("sd"),
        )
        .select(
            "source",
            "n_docs",
            F.expr(
                f"CAST(FLOOR(-(CAST(sd AS DOUBLE) / n_docs)"
                f" * {DOREMI_LOSS_SCALE}) AS BIGINT)"
            ).alias("loss_fp"),
        )
        .persist()
    )
    rows = srcloss.select("source", "loss_fp").collect()  # |sources| rows
    w = doremi_weights([(r["source"], int(r["loss_fp"])) for r in rows])
    if not w:
        return srcloss.select(
            "source", "n_docs", "loss_fp",
            F.lit(None).cast("long").alias("weight_fp"),
        )
    # a NULL source is a legitimate domain row (the oracle's GROUP BY
    # keeps it); map literals cannot key NULL, so route it through a
    # coalesce sentinel on both the map and the lookup. sorted() keys
    # None-last (r13 null-corpus sweep: bare sorted() crashed on None).
    sentinel = "\x00<null-source>"
    wmap = F.create_map(
        *[
            F.lit(x)
            for s in sorted(w, key=lambda k: (k is None, k))
            for x in (sentinel if s is None else s, w[s])
        ]
    )
    return srcloss.select(
        "source",
        "n_docs",
        "loss_fp",
        wmap[F.coalesce(F.col("source"), F.lit(sentinel))]
        .cast("long")
        .alias("weight_fp"),
    )


def _learnability_oracle() -> str:
    """Combined NB + bigram-LM twin for the learnability selection:
    the two shared scoring chains (NB_SCORE_CTES / BIGRAM_LM_CTES —
    the exact strings their own entries compare) feed two plain
    ROW_NUMBER rankings. Per the registry exactness policy the
    transcendental scores only ORDER rows; every compared column is
    an integer rank / id / boolean."""
    from .queries_text import BIGRAM_LM_CTES, NB_SCORE_CTES

    return f"""
    WITH {NB_SCORE_CTES},
    {BIGRAM_LM_CTES},
    prof AS (
      SELECT doc_id, num, den, CAST(SUM(c) AS BIGINT) AS c_sum
      FROM classes GROUP BY 1, 2, 3
    ),
    lmce AS MATERIALIZED (
      SELECT doc_id,
             -(CAST(SUM(CAST(c_sum AS DECIMAL(10,0))
                 * CAST(ln(CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
                        AS DECIMAL(20,9))) AS DOUBLE))
               / CAST(SUM(c_sum) AS DOUBLE) AS ce
      FROM prof GROUP BY doc_id
    ),
    nbranked AS MATERIALIZED (
      SELECT d.doc_id,
             ROW_NUMBER() OVER (
               ORDER BY CAST(d.llr + p.prior AS DOUBLE) DESC, d.doc_id
             ) AS nb_rank,
             COUNT(*) OVER () AS n
      FROM per_doc d CROSS JOIN priors p
    ),
    cand AS (
      SELECT n.doc_id, l.ce
      FROM nbranked n JOIN lmce l USING (doc_id)
      WHERE 2 * n.nb_rank <= n.n + 1
    ),
    ceranked AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY ce DESC, doc_id) AS ce_rank,
             COUNT(*) OVER () AS m
      FROM cand
    )
    SELECT n.doc_id,
           CAST(n.nb_rank AS BIGINT) AS nb_rank,
           CAST(r.ce_rank AS BIGINT) AS ce_rank,
           COALESCE(2 * r.ce_rank <= r.m + 1, FALSE) AS selected
    FROM nbranked n LEFT JOIN ceranked r USING (doc_id)
    """


@register("pipeline_learnability_select", _learnability_oracle())
def pipeline_learnability_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learnability-prioritized data selection (RHO-loss — Mindermann
    et al. 2022; RHO-1, Lin et al. 2024): keep the examples that are
    CLEAN under the reference-quality signal yet HARD under the
    fluency proxy — the "worth learning and not yet learnt" quadrant.
    In-engine specialization with the two already-trained proxies:
    clean pool = top half by NB quality score (rank 1 = cleanest),
    and within it select the top half by bigram-LM cross-entropy
    (rank 1 = hardest) — i.e. the top quarter of the corpus on the
    clean-but-hard frontier. Docs with no bigram profile (single-token
    text) are never candidates: NULL ce_rank, selected FALSE.

    Exactness: both scores are transcendental-derived, so they only
    ORDER rows (the registry policy: a rank flips only when two keys
    collide within an ulp AT a selection boundary, and doc_id breaks
    ties); every compared column is an integer rank / boolean. Both
    scoring chains are the shared oracle strings their own entries
    hash-compare (NB_SCORE_CTES / BIGRAM_LM_CTES), so scorer and
    selector cannot drift.

    Scale: the corpus-sized work is the two scoring plans (one token
    sliver each, gated broadcasts); both rankings ride the two-pass
    distributed row_number (range partition + bounded offsets) — no
    unpartitioned data window, no driver state."""
    from .ranking import with_global_ranks
    from .text import bigram_lm_score, nb_quality_score

    docs = parallelize(load_table(spark, sf_dir, "documents"))
    scored = nb_quality_score(docs).select("doc_id", "nb_score")
    nbr = with_global_ranks(
        scored, [("nb_score", "desc")], [("doc_id", "asc")]
    ).select("doc_id", F.col("rn").alias("nb_rank"), "n_total")
    ce = bigram_lm_score(docs).select("doc_id", "cross_entropy")
    cand = (
        nbr.where(2 * F.col("nb_rank") <= F.col("n_total") + 1)
        .join(ce, "doc_id")
        .select("doc_id", "cross_entropy")
    )
    cer = with_global_ranks(
        cand, [("cross_entropy", "desc")], [("doc_id", "asc")]
    ).select("doc_id", F.col("rn").alias("ce_rank"), F.col("n_total").alias("m"))
    return nbr.join(cer, "doc_id", "left").select(
        "doc_id",
        F.col("nb_rank").cast("long").alias("nb_rank"),
        F.col("ce_rank").cast("long").alias("ce_rank"),
        F.coalesce(
            2 * F.col("ce_rank") <= F.col("m") + 1, F.lit(False)
        ).alias("selected"),
    )
