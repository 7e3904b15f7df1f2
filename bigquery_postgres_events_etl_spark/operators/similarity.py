"""Similarity search over embedding columns (``array<float>``).

Two tiers:

- brute-force cosine top-k: the correctness baseline. Dot products are
  computed with built-in higher-order functions (``zip_with`` +
  ``aggregate``) — JVM-side, no Python — accumulating in DECIMAL so
  results are bit-exact across engines (see functions.scalars.dsum for
  the rationale). Cost O(|queries| × |corpus|): fine for a bounded
  query set, the re-ranking stage of ANN, or validation.

- hyperplane-LSH ANN: the 100 TB path. Sign-random-projection buckets
  (deterministic md5-derived hyperplanes, so runs are reproducible)
  shrink the candidate set to one bucket (plus optional multi-probe),
  then exact cosine re-ranks within the bucket. Bucketing is a single
  narrow projection + one shuffle on the bucket key.

- IVF ANN (``ivf_topk``): the trained-quantizer alternative — a
  Spark-ML k-means coarse quantizer partitions the corpus into
  inverted lists; queries probe their nearest lists and exact-cosine
  re-rank inside them. Better list balance on clustered data than
  LSH, at the cost of a training pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..schemas import EMBEDDING_DIM

# Sequential-double dot product between two array<float> columns.
# ``aggregate`` folds left-to-right, so the summation order is fixed:
# ((0 + x1·y1) + x2·y2) + … — every operation is IEEE-754 double and
# bit-reproducible. The DuckDB oracle twin is an explicit
# left-associative 64-term `+` chain (see queries_similarity._dot_sql),
# which performs the identical operation sequence → bit-equal results
# without any decimal casting (double→decimal casts tie-break
# differently across engines and are avoided here).
_DOT_TMPL = (
    "aggregate(zip_with({a}, {b},"
    " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)


def dot(a: str, b: str) -> Column:
    return F.expr(_DOT_TMPL.format(a=a, b=b))


def norm_sq(a: str) -> Column:
    return F.expr(_DOT_TMPL.format(a=a, b=a))


def cosine(dot_col: Column, norm_a: Column, norm_b: Column) -> Column:
    """cosine = dot / sqrt(|a|² · |b|²) — one multiply, one sqrt (IEEE
    correctly-rounded), one divide: deterministic across engines."""
    return dot_col / F.sqrt(norm_a * norm_b)


def with_norm_sq(df: DataFrame, emb_col: str = "embedding") -> DataFrame:
    return df.withColumn("norm_sq", norm_sq(emb_col))


def normalize_embeddings(
    df: DataFrame, id_col: str = "vec_id", emb_col: str = "embedding"
) -> DataFrame:
    """L2-normalize vectors to unit length (the preprocessing step
    before cosine reduces to a dot product). Map-side expression:
    the norm is the same sequential sum-of-squares chain the dot
    product uses (cross-engine bit parity), sqrt is IEEE-exact. The
    norm is projected ONCE and referenced from the lambda — inlining
    it into the per-element transform would recompute the whole O(d)
    reduction d times per row."""
    with_n = df.select(
        F.col(id_col), F.col(emb_col), F.sqrt(norm_sq(emb_col)).alias("norm")
    )
    return with_n.select(
        F.col(id_col),
        F.expr(f"transform({emb_col}, x -> CAST(x AS DOUBLE) / norm)").alias("unit"),
        "norm",
    )


def quantize_embeddings_int8(
    df: DataFrame, id_col: str = "vec_id", emb_col: str = "embedding"
) -> DataFrame:
    """Symmetric int8 quantization: scale = 127 / max|x| per vector,
    q_i = floor(x_i · scale) — floor, not round (round's tie rules
    differ across engines; floor is exact). The 4× storage cut for
    ANN candidate stages; map-side, no shuffle. The scale is projected
    once and referenced from the lambda (see normalize_embeddings).

    All-zero vectors would give scale = 127/0 = Inf and NaN→null
    elements; the nullif guard leaves scale NULL for them and the
    coalesce quantizes every element to 0 instead."""
    absmax = F.expr(f"array_max(transform({emb_col}, x -> abs(CAST(x AS DOUBLE))))")
    with_s = df.select(
        F.col(id_col),
        F.col(emb_col),
        (F.lit(127.0) / F.nullif(absmax, F.lit(0.0))).alias("scale"),
    )
    return with_s.select(
        F.col(id_col),
        "scale",
        F.expr(
            f"transform({emb_col},"
            " x -> coalesce(CAST(floor(CAST(x AS DOUBLE) * scale) AS INTEGER), 0))"
        ).alias("q8"),
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Plan: broadcast the (small) query set against the corpus — the
    corpus never shuffles; per-pair cosine is a codegen'd expression;
    top-k per query is one window on the (tiny) pair set. At scale,
    swap the broadcast side or pre-bucket with ann_lsh below.
    """
    q = with_norm_sq(queries, emb_col).select(
        F.col(id_col).alias("query_id"),
        F.col(emb_col).alias("q_emb"),
        F.col("norm_sq").alias("q_norm"),
    )
    c = with_norm_sq(corpus, emb_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(emb_col).alias("c_emb"),
        F.col("norm_sq").alias("c_norm"),
    )
    pairs = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
    scored = pairs.withColumn(
        "cosine", cosine(dot("q_emb", "c_emb"), F.col("q_norm"), F.col("c_norm"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_near_pairs(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine ≥ threshold (embedding near-dup dedup).
    Brute-force all-pairs — correctness baseline; the LSH bucketing
    below is the scale path."""
    v = with_norm_sq(vectors, emb_col)
    a = v.select(
        F.col(id_col).alias("id_a"),
        F.col(emb_col).alias("ea"),
        F.col("norm_sq").alias("na"),
    )
    b = v.select(
        F.col(id_col).alias("id_b"),
        F.col(emb_col).alias("eb"),
        F.col("norm_sq").alias("nb"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine(dot("ea", "eb"), F.col("na"), F.col("nb")))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def mutual_knn_graph(
    vectors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Mutual k-nearest-neighbor graph: an undirected edge (a, b)
    exists iff b is in a's cosine top-k AND a is in b's — the
    symmetric-filter construction used for bitext/semantic-pair
    mining (mutual-NN filtering is the precision step of
    margin-based mining, Artetxe & Schwenk 2019) and as the input
    graph for graph-clustering dedup: a one-directional neighbor is
    often a hub artifact; mutuality prunes hubs with no parameter.

    Plan: per-vector exact top-k (all-pairs cosine → per-source
    window rank, same brute-force verify tier as cosine_near_pairs)
    → the directed edge sliver (|V|·k rows) is persisted — the
    mutual join consumes it twice (forward and reversed arm) and
    re-deriving it would repeat the quadratic scoring. At corpus
    scale, generate candidates per LSH bucket first (ann_lsh) and
    verify mutuality on the bucketed top-k — same composition as the
    other brute-force/ANN tier pairs.

    Output: (vec_id_a < vec_id_b, cosine, rank_ab, rank_ba).
    """
    v = with_norm_sq(vectors, emb_col)
    a = v.select(
        F.col(id_col).alias("src"),
        F.col(emb_col).alias("ea"),
        F.col("norm_sq").alias("na"),
    )
    b = v.select(
        F.col(id_col).alias("dst"),
        F.col(emb_col).alias("eb"),
        F.col("norm_sq").alias("nb"),
    )
    scored = a.join(b, F.col("src") != F.col("dst")).withColumn(
        "cosine", cosine(dot("ea", "eb"), F.col("na"), F.col("nb"))
    )
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    edges = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("src", "dst", "cosine", "rank")
        .persist()
    )
    fwd = edges.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("vec_id_a"),
        F.col("dst").alias("vec_id_b"),
        "cosine",
        F.col("rank").alias("rank_ab"),
    )
    rev = edges.where(F.col("src") > F.col("dst")).select(
        F.col("dst").alias("vec_id_a"),
        F.col("src").alias("vec_id_b"),
        F.col("rank").alias("rank_ba"),
    )
    return fwd.join(rev, ["vec_id_a", "vec_id_b"]).select(
        "vec_id_a", "vec_id_b", "cosine", "rank_ab", "rank_ba"
    )


# ---------------------------------------------------------------------
# Hyperplane LSH (sign random projection)
# ---------------------------------------------------------------------


def _hyperplane(plane: int, dim: int = EMBEDDING_DIM) -> list[int]:
    """Deterministic ±1 hyperplane from md5(plane:dim) — reproducible
    across runs/executors with no RNG state to ship."""
    import hashlib

    return [
        1 if hashlib.md5(f"{plane}:{d}".encode()).digest()[0] & 1 else -1
        for d in range(dim)
    ]


def with_lsh_bucket(
    df: DataFrame,
    num_planes: int = 8,
    emb_col: str = "embedding",
    dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """Append an LSH bucket id: bit_p = sign(emb · plane_p).

    The projection is a literal-array zip_with — constant-folded per
    plane, no shuffle, no UDF. 8 planes → 256 buckets.
    """
    bucket = F.lit(0)
    for p in range(num_planes):
        plane = _hyperplane(p, dim)
        arr = f"array({', '.join(f'CAST({v} AS DOUBLE)' for v in plane)})"
        proj = F.expr(
            f"aggregate(zip_with({emb_col}, {arr}, (x, y) -> CAST(x AS DOUBLE) * y),"
            " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        bucket = bucket + F.when(proj > 0, F.lit(2**p)).otherwise(F.lit(0))
    return df.withColumn("lsh_bucket", bucket.cast("int"))


def ann_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    num_planes: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: equi-join on the LSH bucket, exact cosine
    re-rank inside the bucket. Recall is tunable via num_planes
    (fewer planes → bigger buckets → higher recall & cost); the
    pytest suite measures recall against brute_force_topk."""
    q = with_lsh_bucket(with_norm_sq(queries, emb_col), num_planes, emb_col).select(
        F.col(id_col).alias("query_id"),
        F.col(emb_col).alias("q_emb"),
        F.col("norm_sq").alias("q_norm"),
        F.col("lsh_bucket").alias("q_bucket"),
    )
    c = with_lsh_bucket(with_norm_sq(corpus, emb_col), num_planes, emb_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(emb_col).alias("c_emb"),
        F.col("norm_sq").alias("c_norm"),
        F.col("lsh_bucket").alias("c_bucket"),
    )
    pairs = c.join(
        F.broadcast(q),
        (F.col("c_bucket") == F.col("q_bucket"))
        & (F.col("neighbor_id") != F.col("query_id")),
    )
    scored = pairs.withColumn(
        "cosine", cosine(dot("q_emb", "c_emb"), F.col("q_norm"), F.col("c_norm"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------
# Product quantization (PQ) ANN — asymmetric distance computation
# ---------------------------------------------------------------------

PQ_M = 8  # subspaces (PQ_M * PQ_DSUB = EMBEDDING_DIM)
PQ_DSUB = 8  # dims per subspace
PQ_K = 16  # centroids per subspace → 4-bit codes, 8 codes per vector


def _pq_centroid(m: int, c: int, dsub: int = PQ_DSUB) -> list[float]:
    """Deterministic codebook entry from md5(pq:m:c:j) — component
    values k/64 for k in [-8, 8]: exact binary fractions (so literal
    SQL rendering is lossless) at the component scale of the
    unit-norm 64-dim fixture embeddings (std ≈ 1/8). A trained
    codebook (k-means per subspace) drops in behind the same
    signature; the md5 codebook keeps the whole entry bit-exactly
    reproducible cross-engine with no RNG or training state."""
    import hashlib

    return [
        (hashlib.md5(f"pq:{m}:{c}:{j}".encode()).digest()[0] % 17 - 8) / 64.0
        for j in range(dsub)
    ]


def _pq_codebook_expr(m: int) -> str:
    """Subspace m's 16 centroids as a literal array<array<double>>."""
    rows = ", ".join(
        "array("
        + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in _pq_centroid(m, c))
        + ")"
        for c in range(PQ_K)
    )
    return f"array({rows})"


def _pq_dists_expr(emb_col: str, m: int) -> str:
    """array<double> of the 16 subspace-m squared distances: a
    transform over the literal codebook, each entry the left-to-right
    aggregate fold Σ_j (CAST(x AS DOUBLE) − c_j)² — the identical IEEE
    chain the DuckDB oracle spells out (0 + t₁ is IEEE-exact), so the
    16 doubles are bit-equal cross-engine. Higher-order functions over
    literal arrays, NOT 16 inlined 8-term chains: the inlined form
    blows the Janino 64 KB method limit (24 compile exceptions + a
    19 s interpreted fallback, measured) — the same discipline as
    with_lsh_bucket's zip_with fold."""
    sub = f"slice({emb_col}, {m * PQ_DSUB + 1}, {PQ_DSUB})"
    return (
        f"transform({_pq_codebook_expr(m)}, cb -> "
        f"aggregate(zip_with({sub}, cb, "
        f"(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        f"CAST(0 AS DOUBLE), (acc, v) -> acc + v))"
    )


def pq_encode(df: DataFrame, emb_col: str = "embedding") -> DataFrame:
    """Append code_0..code_{M-1}: per subspace, the index of the
    nearest codebook centroid (squared L2; ties → lowest index, since
    array_position returns the FIRST slot holding the bit-identical
    minimum). Pure map-side expressions — the corpus never shuffles to
    encode, which is the property that makes PQ the 100 TB path:
    64 floats/vector compress to 8 small ints."""
    out = df
    for m in range(PQ_M):
        out = out.withColumn(f"_pqd_{m}", F.expr(_pq_dists_expr(emb_col, m)))
        out = out.withColumn(
            f"code_{m}",
            F.expr(
                f"CAST(array_position(_pqd_{m}, array_min(_pqd_{m})) - 1 AS INT)"
            ),
        )
    return out.drop(*[f"_pqd_{m}" for m in range(PQ_M)])


def pq_adc_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Asymmetric distance computation: the query keeps its exact
    vector and builds one 16-entry distance table per subspace
    (map-side arrays); each corpus vector contributes only its 8
    codes, and the approximate distance is the table-lookup sum
    Σ_m qd_m[code_m] — 8 array lookups + 7 adds per candidate instead
    of a 64-dim scan. Top-k by (adc ASC, neighbor_id) per query.

    Scale shape: queries broadcast with their distance tables; the
    encoded corpus streams map-side (its 64-float embedding column is
    never shipped to the join); the per-query top-k is a window over
    the candidate scores. Recall/parity contract in
    tests/test_similarity.py; full hash oracle in queries_similarity."""
    enc = pq_encode(corpus, emb_col).select(
        F.col(id_col).alias("neighbor_id"),
        *[f"code_{m}" for m in range(PQ_M)],
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(emb_col).alias("q_emb")
    )
    for m in range(PQ_M):
        q = q.withColumn(f"qd_{m}", F.expr(_pq_dists_expr("q_emb", m)))
    j = F.broadcast(q.drop("q_emb")).join(
        enc, F.col("neighbor_id") != F.col("query_id")
    )
    adc = None
    for m in range(PQ_M):
        t = F.element_at(F.col(f"qd_{m}"), F.col(f"code_{m}") + 1)
        adc = t if adc is None else adc + t
    scored = j.select("query_id", "neighbor_id", adc.alias("adc"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


# ---------------------------------------------------------------------
# IVF (inverted-file) ANN — k-means coarse quantizer
# ---------------------------------------------------------------------


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: Spark-ML k-means partitions the corpus into
    ``n_lists`` inverted lists; each query probes its ``n_probe``
    nearest centroids and exact-cosine re-ranks only those lists.

    The trained-quantizer counterpart of the (training-free)
    hyperplane LSH above: better list balance on clustered data, at
    the cost of a training pass. At 100 TB the quantizer trains on a
    sample and assignment is one narrow transform; candidate search
    touches |corpus| × n_probe / n_lists rows per query.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    corpus_v = corpus.withColumn(
        "__fvec", array_to_vector(F.col(emb_col).cast("array<double>"))
    )
    model = KMeans(featuresCol="__fvec", k=n_lists, seed=seed).fit(corpus_v)
    assigned = (
        model.transform(corpus_v)
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(emb_col).alias("c_emb"),
            F.col("prediction").alias("list_id"),
        )
        .withColumn("c_norm", norm_sq("c_emb"))
    )

    # per-query probe lists: distance to each centroid (tiny literal
    # cross join — n_lists rows per query, all constant-folded arrays)
    centers = model.clusterCenters()
    center_rows = [(i, [float(x) for x in c]) for i, c in enumerate(centers)]
    spark = queries.sparkSession
    centers_df = spark.createDataFrame(center_rows, "list_id int, center array<double>")
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(emb_col).alias("q_emb")
    ).withColumn("q_norm", norm_sq("q_emb"))
    probed = (
        q.crossJoin(F.broadcast(centers_df))
        .withColumn(
            "dist",
            F.expr(
                "aggregate(zip_with(q_emb, center,"
                " (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),"
                " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("list_id"))
    probes = (
        probed.withColumn("pr", F.row_number().over(w))
        .where(F.col("pr") <= n_probe)
        .select("query_id", "q_emb", "q_norm", "list_id")
    )

    pairs = assigned.join(
        F.broadcast(probes),
        (assigned.list_id == probes.list_id)
        & (F.col("neighbor_id") != F.col("query_id")),
    )
    scored = pairs.withColumn(
        "cosine", cosine(dot("q_emb", "c_emb"), F.col("q_norm"), F.col("c_norm"))
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


_L2_TMPL = (
    "aggregate(zip_with({a}, {b},"
    " (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
    " * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
    " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)


def l2_sq(a: str, b: str) -> Column:
    """Squared L2 distance as the same left-associative sequential
    fold as :func:`dot` — replayable term-by-term in a SQL oracle."""
    return F.expr(_L2_TMPL.format(a=a, b=b))


def ivf_fixed_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_lists: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """IVF ANN with a FROZEN codebook: the first ``n_lists`` corpus
    vectors (``id < n_lists``) are the centroids — the production
    pattern where the quantizer is trained offline (or on a sample)
    and SHIPPED, so cluster assignment is a pure expression over the
    frozen codebook rather than an in-pipeline k-means fit. The
    deterministic codebook is what makes this tier hash-oracle-able,
    giving the IVF family a hard driver check next to the
    recall-tested trained tier (:func:`ivf_topk`).

    Plan: centroids broadcast (n_lists rows — constant); corpus
    assignment is one map-side crossJoin + min(struct(d, list_id))
    aggregation (ties to the smallest list — engine-portable); probes
    are the query's ``n_probe`` nearest centroids; candidates = the
    probed inverted lists, exact-cosine re-ranked. Candidate volume
    per query ≈ |corpus| · n_probe / n_lists, never all-pairs.
    """
    seeds = corpus.where(F.col(id_col) < n_lists).select(
        F.col(id_col).cast("long").alias("list_id"),
        F.col(emb_col).alias("center"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("c_emb")
    )
    assigned = (
        c.crossJoin(F.broadcast(seeds))
        .select(
            "neighbor_id",
            "c_emb",
            "list_id",
            l2_sq("c_emb", "center").alias("d"),
        )
        .groupBy("neighbor_id")
        .agg(
            F.min(F.struct("d", "list_id")).getField("list_id").alias("list_id"),
            # value-constant per key (the embedding rides the groupBy
            # so the re-rank needs no second corpus join/shuffle)
            F.first("c_emb").alias("c_emb"),
        )
        .withColumn("c_norm", norm_sq("c_emb"))
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(emb_col).alias("q_emb")
    ).withColumn("q_norm", norm_sq("q_emb"))
    wq = Window.partitionBy("query_id").orderBy(F.asc("d"), F.asc("list_id"))
    probes = (
        q.crossJoin(F.broadcast(seeds))
        .withColumn("d", l2_sq("q_emb", "center"))
        .withColumn("pr", F.row_number().over(wq))
        .where(F.col("pr") <= n_probe)
        .select(
            "query_id", "q_emb", "q_norm", F.col("list_id").alias("p_list")
        )
    )
    pairs = assigned.join(
        F.broadcast(probes),
        (F.col("list_id") == F.col("p_list"))
        & (F.col("neighbor_id") != F.col("query_id")),
    ).drop("p_list")
    scored = pairs.withColumn(
        "cosine", cosine(dot("q_emb", "c_emb"), F.col("q_norm"), F.col("c_norm"))
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "list_id", "cosine", "rank")
    )


def ann_lsh_topk_multiprobe(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    num_planes: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Multi-probe hyperplane LSH: each query also probes the
    ``num_planes`` buckets at Hamming distance 1 from its own (one
    hyperplane flipped) — the standard recall boost that beats
    shrinking ``num_planes`` because candidate sets grow linearly
    (planes+1 buckets) instead of exponentially (halving planes
    doubles every bucket).

    Plan shape is unchanged: the query side explodes to its probe
    list (tiny), broadcast, equi-join on the bucket, exact re-rank.
    """
    q = with_lsh_bucket(with_norm_sq(queries, emb_col), num_planes, emb_col).select(
        F.col(id_col).alias("query_id"),
        F.col(emb_col).alias("q_emb"),
        F.col("norm_sq").alias("q_norm"),
        F.col("lsh_bucket").alias("q_bucket"),
    )
    probes = F.array(
        F.col("q_bucket"),
        *[F.col("q_bucket").bitwiseXOR(F.lit(1 << p)) for p in range(num_planes)],
    )
    q = q.withColumn("probe_bucket", F.explode(probes))
    c = with_lsh_bucket(with_norm_sq(corpus, emb_col), num_planes, emb_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(emb_col).alias("c_emb"),
        F.col("norm_sq").alias("c_norm"),
        F.col("lsh_bucket").alias("c_bucket"),
    )
    pairs = c.join(
        F.broadcast(q),
        (F.col("c_bucket") == F.col("probe_bucket"))
        & (F.col("neighbor_id") != F.col("query_id")),
    )
    scored = pairs.withColumn(
        "cosine", cosine(dot("q_emb", "c_emb"), F.col("q_norm"), F.col("c_norm"))
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def semantic_dedup(
    vectors: DataFrame,
    threshold: float = 0.8,
    num_planes: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style embedding dedup (Abbas et al. 2023, public
    paper): coarse-cluster the corpus, then inside each cluster drop
    every vector that has a lower-id neighbor with cosine ≥ threshold
    — one survivor per near-duplicate group, no global all-pairs.

    The coarse clusters here are deterministic hyperplane-LSH buckets
    (training-free, reproducible across engines — the paper's k-means
    is a drop-in swap via ``ivf_topk``'s quantizer when approximate
    cluster boundaries are acceptable). The in-bucket pair join is the
    scale story: cost is Σ bucket² instead of |corpus|², and buckets
    shrink geometrically with ``num_planes``.

    Output: one row per vector — (vec_id, lsh_bucket, n_near_dups,
    kept); ``kept`` is false iff some lower-id in-bucket vector is
    within the cosine threshold.
    """
    # Persisted shared sliver (r6 verdict item #2, the deferred 3-scan
    # shape): v feeds both pair-join arms AND the final keep/drop
    # left-join — unpersisted, each consumer re-reads the vectors and
    # recomputes the num_planes hyperplane projections per row (the
    # expensive part). Persist-no-unpersist is the documented operator
    # contract (harnesses clearCache per entry).
    v = with_lsh_bucket(with_norm_sq(vectors, emb_col), num_planes, emb_col).persist()
    a = v.select(
        F.col(id_col).alias("id_a"),
        F.col(emb_col).alias("ea"),
        F.col("norm_sq").alias("na"),
        F.col("lsh_bucket").alias("bucket_a"),
    )
    b = v.select(
        F.col(id_col).alias("id_b"),
        F.col(emb_col).alias("eb"),
        F.col("norm_sq").alias("nb"),
        F.col("lsh_bucket").alias("bucket_b"),
    )
    dup_counts = (
        a.join(b, (F.col("bucket_a") == F.col("bucket_b")) & (F.col("id_a") < F.col("id_b")))
        .withColumn("cosine", cosine(dot("ea", "eb"), F.col("na"), F.col("nb")))
        .where(F.col("cosine") >= threshold)
        .groupBy(F.col("id_b").alias("vec_id"))
        .agg(F.count(F.lit(1)).alias("n_near_dups"))
    )
    return (
        v.select(F.col(id_col).alias("vec_id"), F.col("lsh_bucket").cast("bigint").alias("lsh_bucket"))
        .join(dup_counts, "vec_id", "left")
        .select(
            "vec_id",
            "lsh_bucket",
            F.coalesce(F.col("n_near_dups"), F.lit(0)).cast("long").alias("n_near_dups"),
            (F.coalesce(F.col("n_near_dups"), F.lit(0)) == 0).alias("kept"),
        )
    )


def semantic_dedup_kmeans(
    vectors: DataFrame,
    threshold: float = 0.8,
    n_clusters: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """SemDeDup with the paper's actual clustering (Abbas et al. 2023
    §3: k-means over the embeddings) instead of the LSH-bucket stand-in
    in :func:`semantic_dedup` — the same quantizer :func:`ivf_topk`
    trains for ANN, reused for dedup cluster boundaries.

    Inside each cluster, a vector is dropped iff a lower-id cluster
    member is within the cosine threshold — identical pair semantics
    to the LSH variant, so the two are directly comparable (the pytest
    suite pins this variant's recall of true near-dup pairs ≥ the LSH
    variant's on the fixture corpus; k-means boundaries track the data
    distribution where fixed hyperplanes cannot).

    Scale: the training pass runs on a sample at 100 TB (KMeans
    ``.fit`` over a ``.sample`` of the corpus), assignment is one
    narrow map over the corpus, and the pair join costs Σ cluster² —
    balanced clusters from the trained quantizer keep the largest
    cluster far below the LSH worst-case hot bucket.

    Output matches :func:`semantic_dedup` with ``cluster_id`` in place
    of ``lsh_bucket``: (vec_id, cluster_id, n_near_dups, kept).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    v = with_norm_sq(vectors, emb_col).withColumn(
        "__fvec", array_to_vector(F.col(emb_col).cast("array<double>"))
    )
    model = KMeans(featuresCol="__fvec", k=n_clusters, seed=seed).fit(v)
    assigned = model.transform(v).select(
        F.col(id_col),
        F.col(emb_col),
        F.col("norm_sq"),
        F.col("prediction").alias("cluster_id"),
    )
    a = assigned.select(
        F.col(id_col).alias("id_a"),
        F.col(emb_col).alias("ea"),
        F.col("norm_sq").alias("na"),
        F.col("cluster_id").alias("cluster_a"),
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"),
        F.col(emb_col).alias("eb"),
        F.col("norm_sq").alias("nb"),
        F.col("cluster_id").alias("cluster_b"),
    )
    dup_counts = (
        a.join(
            b,
            (F.col("cluster_a") == F.col("cluster_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .withColumn("cosine", cosine(dot("ea", "eb"), F.col("na"), F.col("nb")))
        .where(F.col("cosine") >= threshold)
        .groupBy(F.col("id_b").alias("vec_id"))
        .agg(F.count(F.lit(1)).alias("n_near_dups"))
    )
    return (
        assigned.select(
            F.col(id_col).alias("vec_id"),
            F.col("cluster_id").cast("bigint").alias("cluster_id"),
        )
        .join(dup_counts, "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            F.coalesce(F.col("n_near_dups"), F.lit(0)).cast("long").alias("n_near_dups"),
            (F.coalesce(F.col("n_near_dups"), F.lit(0)) == 0).alias("kept"),
        )
    )


def semantic_dedup_frozen(
    vectors: DataFrame,
    threshold: float = 0.8,
    n_lists: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """SemDeDup over the FROZEN-codebook quantizer — the hash-oracle
    sibling of :func:`semantic_dedup_kmeans`, completing the pattern
    :func:`ivf_fixed_topk` set for ANN: the trained tier keeps its
    recall contract, the frozen tier (first ``n_lists`` corpus vectors
    as shipped centroids) makes cluster assignment a pure expression,
    so the *dedup policy* — drop every vector with a lower-id
    same-cluster neighbor at cosine ≥ threshold — gets a hard driver
    hash check end-to-end.

    Assignment is nearest-center by squared-L2 with ties to the
    smallest list id (``min(struct(d, list_id))`` — the identical
    engine-portable tie-break the IVF tier uses); the in-cluster pair
    join then mirrors the other two variants, so all three SemDeDup
    tiers share pair semantics and differ only in the quantizer.

    Scale: centroids broadcast (n_lists rows); assignment is one
    map-side crossJoin + partial-aggregated min — the corpus never
    shuffles for it. The pair join costs Σ cluster²; in production the
    codebook is sized by the √N rule (re-train offline, re-ship), so
    cluster populations stay ~√N and the join stays sub-quadratic —
    here n_lists is frozen small so the oracle can replay it.

    Output matches the other tiers: (vec_id, cluster_id, n_near_dups,
    kept).
    """
    seeds = vectors.where(F.col(id_col) < n_lists).select(
        F.col(id_col).cast("long").alias("list_id"),
        F.col(emb_col).alias("center"),
    )
    # the frozen contract is "ids 0..n_lists-1 are the codebook"; a
    # corpus with sparse/offset ids would silently shrink the codebook
    # (worst case: empty output) — fail loudly instead (ADVICE r11)
    n_seeds = seeds.count()
    if n_seeds < n_lists:
        raise ValueError(
            f"frozen codebook needs ids 0..{n_lists - 1} present; "
            f"only {n_seeds} seed vectors have {id_col} < {n_lists}"
        )
    # Persisted shared sliver (the semantic_dedup contract): assigned
    # feeds both pair-join arms AND the final keep/drop left-join —
    # unpersisted, each consumer would re-run the n_lists-way
    # assignment crossJoin per row. Persist-no-unpersist is the
    # documented operator contract (harnesses clearCache per entry).
    assigned = (
        vectors.select(F.col(id_col), F.col(emb_col))
        .crossJoin(F.broadcast(seeds))
        .select(
            id_col,
            emb_col,
            "list_id",
            l2_sq(emb_col, "center").alias("d"),
        )
        .groupBy(id_col)
        .agg(
            F.min(F.struct("d", "list_id")).getField("list_id").alias("cluster_id"),
            # value-constant per key: embedding rides the groupBy so the
            # pair join needs no second corpus join/shuffle
            F.first(emb_col).alias(emb_col),
        )
        .withColumn("norm_sq", norm_sq(emb_col))
        .persist()
    )
    a = assigned.select(
        F.col(id_col).alias("id_a"),
        F.col(emb_col).alias("ea"),
        F.col("norm_sq").alias("na"),
        F.col("cluster_id").alias("cluster_a"),
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"),
        F.col(emb_col).alias("eb"),
        F.col("norm_sq").alias("nb"),
        F.col("cluster_id").alias("cluster_b"),
    )
    dup_counts = (
        a.join(
            b,
            (F.col("cluster_a") == F.col("cluster_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .withColumn("cosine", cosine(dot("ea", "eb"), F.col("na"), F.col("nb")))
        .where(F.col("cosine") >= threshold)
        .groupBy(F.col("id_b").alias("vec_id"))
        .agg(F.count(F.lit(1)).alias("n_near_dups"))
    )
    return (
        assigned.select(
            F.col(id_col).alias("vec_id"),
            F.col("cluster_id").cast("bigint").alias("cluster_id"),
        )
        .join(dup_counts, "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            F.coalesce(F.col("n_near_dups"), F.lit(0)).cast("long").alias("n_near_dups"),
            (F.coalesce(F.col("n_near_dups"), F.lit(0)) == 0).alias("kept"),
        )
    )


POWER_ITERS = 8
POWER_SCALE = 10**6


def power_iteration_int8(
    vectors: DataFrame,
    n_iter: int = POWER_ITERS,
    scale: int = POWER_SCALE,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Dominant principal direction of the int8-quantized corpus by
    EXACT-INTEGER power iteration — the spectral member of the
    fixed-point family (pagerank/HITS/perceptron): PCA's first
    component drives embedding whitening/centering decisions in a
    training-data pipeline, and quantizing first (the floor-exact
    int8 scheme of :func:`quantize_embeddings_int8`) makes the whole
    Gram + iteration chain integer, hence bit-replayable cross-engine.

    Plan: the d×d Gram matrix reduces distributedly — the (vec, i, j)
    explode is d² rows per vector but partial aggregation collapses
    every partition to ≤ d² rows before the exchange, so the shuffle
    carries (partitions × d²) longs regardless of corpus size. The
    iteration then runs on the driver over the collected Gram —
    bounded by the SCHEMA constant d² (64² = 4096 entries), the same
    constant-bounded-collect contract as the Markov channel gate.
    Per round: w = G·v (exact), then L∞ fixed-point renormalization
    v' = trunc_div(w, max(max|w| // scale, 1)) — truncation spelled
    sign-explicitly so Spark-side Python and the oracle's floor
    division agree on negatives.

    Overflow bound (shared with the DuckDB BIGINT twin): |w_i| ≤
    d · N · 127² · scale must stay below 2⁶³ → safe for N up to
    ~8.9e9 vectors at d=64, scale=1e6.

    Output: (dim, v_fp) — the fixed-point eigenvector after
    ``n_iter`` rounds.
    """
    q = quantize_embeddings_int8(vectors, id_col, emb_col)
    cells = q.select(id_col, F.posexplode("q8").alias("dim", "qv"))
    a = cells.select(
        F.col(id_col), F.col("dim").alias("i"), F.col("qv").alias("qi")
    )
    b = cells.select(
        F.col(id_col), F.col("dim").alias("j"), F.col("qv").alias("qj")
    )
    gram_rows = (
        a.join(b, id_col)
        .groupBy("i", "j")
        .agg(F.sum(F.col("qi").cast("long") * F.col("qj")).alias("g"))
        .collect()  # ≤ d² rows — schema-constant bound, never data-sized
    )
    spark = vectors.sparkSession
    if not gram_rows:  # empty corpus: zero rows, matching the oracle
        return spark.createDataFrame([], "dim BIGINT, v_fp BIGINT")
    # d from the data's own embedding length, not max(i): a corpus
    # whose trailing dimensions are all-zero still iterates full-width
    d_row = vectors.select(F.size(emb_col).alias("d")).first()
    d = int(d_row["d"]) if d_row is not None else 1 + max(r.i for r in gram_rows)
    gram: dict[tuple[int, int], int] = {(r.i, r.j): r.g for r in gram_rows}
    v = [scale] * d
    for _ in range(n_iter):
        w = [
            sum(gram.get((i, j), 0) * v[j] for j in range(d)) for i in range(d)
        ]
        m = max(abs(x) for x in w) if w else 0
        dvr = max(m // scale, 1)
        v = [x // dvr if x >= 0 else -((-x) // dvr) for x in w]
    return spark.createDataFrame(
        [(i, v[i]) for i in range(d)], "dim BIGINT, v_fp BIGINT"
    )


KCENTER_K = 8


def kcenter_coreset(
    vectors: DataFrame,
    k: int = KCENTER_K,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center coreset selection (farthest-point traversal —
    Gonzalez 1985; the coreset-for-active-learning selection of Sener
    & Savarese 2018): start from the smallest-id vector, then k−1
    times pick the point farthest (squared-L2) from the selected set,
    ties to the smallest id. The classic 2-approximation to the
    k-center cover, used as a diversity-maximizing data-selection pass
    (pick the k most mutually spread examples).

    Fully deterministic — seed is min(id), distances are the exact
    left-associative IEEE chains, the argmax tie-break is
    ``max(struct(dmin, −id))`` — so the whole greedy trajectory is
    hash-oracle-able (a recursive CTE re-emits each point's
    min-distance per round, the HITS state-re-emission shape).

    Scale: per round ONE argmax aggregation over the corpus (partial
    map-side, a 2-value scalar row to the driver) + ONE narrow map
    updating dmin against the single new center (1-row broadcast).
    Driver state is k (id, dist) pairs; the corpus never shuffles.
    State checkpoints per round (the HITS quadratic-replay lesson).

    Output: one row per selected center — (sel_round, vec_id,
    sel_dist) where sel_dist is the covering radius of the set BEFORE
    this pick (monotone non-increasing; NULL for the seed).
    """
    spark = vectors.sparkSession
    v = vectors.select(F.col(id_col), F.col(emb_col))
    seed_id = v.agg(F.min(id_col)).first()[0]
    if seed_id is None:  # empty input: no seed, empty trajectory
        return spark.createDataFrame(
            [], "sel_round BIGINT, vec_id BIGINT, sel_dist DOUBLE"
        )
    seed = v.where(F.col(id_col) == seed_id).select(
        F.col(emb_col).alias("__center")
    )
    state = (
        v.crossJoin(F.broadcast(seed))
        .select(
            id_col,
            emb_col,
            l2_sq(emb_col, "__center").alias("dmin"),
        )
        .localCheckpoint(eager=True)
    )
    selected: list[tuple] = [(0, seed_id, None)]
    chosen_ids = [seed_id]
    for r in range(1, k):
        top = (
            state.where(~F.col(id_col).isin(chosen_ids))
            .agg(
                F.max(
                    F.struct(
                        F.col("dmin"), (-F.col(id_col)).alias("neg_id")
                    )
                ).alias("t")
            )
            .first()["t"]
        )
        if top is None or top["neg_id"] is None:
            break  # fewer than k vectors: return the partial trajectory
        new_id, sel_dist = -top["neg_id"], top["dmin"]
        center = state.where(F.col(id_col) == new_id).select(
            F.col(emb_col).alias("__center")
        )
        state = (
            state.crossJoin(F.broadcast(center))
            .select(
                id_col,
                emb_col,
                F.least(
                    F.col("dmin"), l2_sq(emb_col, "__center")
                ).alias("dmin"),
            )
            .localCheckpoint(eager=True)
        )
        selected.append((r, new_id, float(sel_dist)))
        chosen_ids.append(new_id)
    return spark.createDataFrame(
        selected, "sel_round BIGINT, vec_id BIGINT, sel_dist DOUBLE"
    )


def random_projection(
    df: DataFrame,
    out_dims: int = 16,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction by deterministic
    ±1 random projection: out_k = emb · plane_k for ``out_dims``
    md5-derived hyperplanes (the same family the LSH bucketing uses —
    sign-free here, so distances are approximately preserved, not just
    signs). The standard prep that cuts ANN candidate-stage cost 4-8×
    before exact re-ranking in the full space.

    Map-side only: every output dim is one constant-folded zip_with
    fold; output is posexploded to (vec_id, dim, value) rows so the
    result stays free of array columns (driver-comparator contract).
    """
    projections = []
    for k in range(out_dims):
        plane = _hyperplane(k, dim)
        arr = f"array({', '.join(f'CAST({v} AS DOUBLE)' for v in plane)})"
        projections.append(
            F.expr(
                f"aggregate(zip_with({emb_col}, {arr}, (x, y) -> CAST(x AS DOUBLE) * y),"
                " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
            )
        )
    return df.select(
        F.col(id_col), F.posexplode(F.array(*projections)).alias("dim", "value")
    )


def hybrid_topk(
    docs: DataFrame,
    emb: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    max_df: int = 10,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Hybrid retrieval: rare-PHRASE lexical candidate generation +
    exact dense-cosine re-rank — the classic sparse→dense two-stage
    search (BM25-recall / embedding-precision), with the lexical stage
    expressed as a bucketed inverted-index join on word 3-grams.

    Stage 1 (lexical recall): a candidate is any corpus doc sharing at
    least one rare shingle (document frequency ≤ ``max_df``) with the
    query doc. Shingles, not unigrams: phrase overlap is the stronger
    relevance signal AND the shingle space is sparse where a unigram
    vocabulary may not be (this corpus has 31 distinct words, every
    one common — rare unigrams simply don't exist; rare phrases do).
    The df cap is the hot-key valve — posting lists stay ≤ ``max_df``
    long, so join cost is Σ df² over rare shingles only, independent
    of |corpus|².

    Stage 2 (semantic precision): candidates re-rank by exact cosine
    between the paired embeddings (inner join on id — docs without
    vectors drop out on both engines identically). The two stages
    compose shuffles on different keys (shingle, then id); no
    broadcast hints — every side scales with the corpus.

    Output: (query_id, neighbor_id, n_shared_rare_terms, cosine,
    rank ≤ k), ranked per query by cosine with a deterministic
    tie-break.
    """
    from .dedup import distinct_hashed_shingles

    # Persisted shared slivers (r6 verdict item #2): the distinct
    # shingle frame feeds THREE consumers (the df count + both join
    # arms) and the normed vector frame TWO (query + candidate side);
    # unpersisted, each consumer re-tokenized/re-read the corpus —
    # 4 documents scans + 2 embeddings scans cold. Persist-no-unpersist
    # is the documented operator contract (the returned lazy plan
    # references the cache; harnesses clearCache per entry). The
    # persisted frame carries 60-bit shingle HASHES, not strings
    # (~10× smaller cache; df counting and posting-list joins need
    # only equality — collision bound in distinct_hashed_shingles;
    # the oracle hashes identically).
    tok = distinct_hashed_shingles(docs, n=3, id_col=id_col).withColumnRenamed(
        "h", "term"
    )
    dfc = tok.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    rare = dfc.where(F.col("df") <= max_df).select("term")
    rtok = tok.join(rare, "term")
    qtok = rtok.where(F.col("doc_id") < n_queries).select(
        F.col("doc_id").alias("query_id"), "term"
    )
    ctok = rtok.select(F.col("doc_id").alias("neighbor_id"), "term")
    cand = (
        qtok.join(ctok, "term")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.count(F.lit(1)).alias("n_shared_rare_terms"))
    )

    v = with_norm_sq(emb, emb_col).persist()
    qv = v.select(
        F.col(vec_id_col).alias("query_id"),
        F.col(emb_col).alias("q_emb"),
        F.col("norm_sq").alias("q_norm"),
    )
    cv = v.select(
        F.col(vec_id_col).alias("neighbor_id"),
        F.col(emb_col).alias("c_emb"),
        F.col("norm_sq").alias("c_norm"),
    )
    scored = (
        cand.join(qv, "query_id")
        .join(cv, "neighbor_id")
        .withColumn(
            "cosine", cosine(dot("q_emb", "c_emb"), F.col("q_norm"), F.col("c_norm"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("n_shared_rare_terms").cast("bigint").alias("n_shared_rare_terms"),
            "cosine",
            "rank",
        )
    )


def mmr_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_candidates: int = 20,
    lam: float = 0.7,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998):
    diversified top-k — greedily pick the candidate maximizing
    λ·sim(query, d) − (1−λ)·max_{s∈selected} sim(d, s), so near-
    duplicate hits don't crowd the result list (the re-rank stage of
    a RAG retrieval stack).

    Scale shape: the DATA-scaled stage is candidate generation
    (brute_force_topk here — swap in the LSH/IVF tiers at scale);
    the greedy selection then runs k rounds over the bounded
    (|queries| × n_candidates) candidate frame ENTIRELY as DataFrame
    ops (per-round argmax window + anti-join; eager localCheckpoint
    materializes each round distributed — nothing is ever fetched to
    the driver). Iterative → rows-only;
    tests/test_similarity.py pins parity with a pure-Python MMR
    reference and the diversity property it exists for."""
    cands = brute_force_topk(
        queries, corpus, k=n_candidates, id_col=id_col, emb_col=emb_col
    ).select("query_id", "neighbor_id", "cosine")
    # pairwise candidate-candidate similarity (bounded: ≤ n_candidates²
    # per query), computed once up front
    emb = with_norm_sq(corpus, emb_col).select(
        F.col(id_col).alias("cid"),
        F.col(emb_col).alias("emb"),
        F.col("norm_sq").alias("nsq"),
    )
    a = cands.join(emb, cands.neighbor_id == emb.cid).select(
        "query_id", F.col("neighbor_id").alias("da"), F.col("cosine").alias("rel_a"),
        F.col("emb").alias("ea"), F.col("nsq").alias("na"),
    )
    b = cands.join(emb, cands.neighbor_id == emb.cid).select(
        F.col("query_id").alias("qb"), F.col("neighbor_id").alias("db"),
        F.col("emb").alias("eb"), F.col("nsq").alias("nb"),
    )
    pair_sim = (
        a.join(b, (a.query_id == b.qb) & (a.da != b.db))
        .select(
            "query_id", "da", "db",
            cosine(dot("ea", "eb"), F.col("na"), F.col("nb")).alias("sim"),
        )
        .localCheckpoint(eager=True)
    )
    rel = a.select("query_id", "da", "rel_a").distinct().localCheckpoint(eager=True)

    spark = queries.sparkSession
    sel_schema = "query_id BIGINT, sel BIGINT, mmr_score DOUBLE, pick_rank BIGINT"
    selected = spark.createDataFrame([], sel_schema)
    remaining = rel
    for rank in range(k):
        # max similarity to anything already selected (empty in round
        # one → the left join below coalesces the penalty to 0)
        penalty = (
            pair_sim.join(
                selected.select(F.col("query_id").alias("qs"), "sel"),
                (pair_sim.query_id == F.col("qs")) & (pair_sim.db == F.col("sel")),
            )
            .groupBy(F.col("query_id").alias("qq"), "da")
            .agg(F.max("sim").alias("max_sel_sim"))
        )
        scored = remaining.join(
            penalty,
            (remaining.query_id == penalty.qq) & (remaining.da == penalty.da),
            "left",
        ).select(
            remaining.query_id,
            remaining.da,
            (
                F.lit(lam) * F.col("rel_a")
                - F.lit(1.0 - lam) * F.coalesce("max_sel_sim", F.lit(0.0))
            ).alias("mmr"),
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("mmr"), F.asc("da"))
        picks = (
            scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(
                "query_id",
                F.col("da").alias("sel"),
                F.col("mmr").alias("mmr_score"),
                F.lit(rank + 1).cast("bigint").alias("pick_rank"),
            )
        )
        # lazy (r15, verdict item 7): bounded k picks over a
        # deterministic subtree — the plans still truncate to
        # LogicalRDDs per pick, but materialization rides the next
        # pick's jobs (or the final collect) instead of TWO dedicated
        # eager checkpoint jobs per pick
        selected = selected.unionByName(picks).localCheckpoint(eager=False)
        remaining = remaining.join(
            selected.select(F.col("query_id").alias("qs"), "sel"),
            (remaining.query_id == F.col("qs")) & (remaining.da == F.col("sel")),
            "left_anti",
        ).localCheckpoint(eager=False)

    return selected.select(
        "query_id", F.col("sel").alias("neighbor_id"), "mmr_score", "pick_rank"
    )


def rrf_fusion(
    docs: DataFrame,
    emb: DataFrame,
    query_terms: list[str],
    query_vec_id: int = 0,
    k_each: int = 20,
    k: int = 10,
    rrf_k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of a lexical and a dense retrieval list
    (Cormack et al. 2009 — the standard hybrid-search combiner, used
    verbatim by Elasticsearch/Vespa/Weaviate): fuse the BM25 top-k
    and the cosine top-k by score Σ 1/(rrf_k + rank), which rewards
    agreement between retrievers without comparing incommensurable
    raw scores.

    Plan: both inputs are top-``k_each`` lists — constant-bounded
    frames — so the rank windows and the final sort run over ≤ 2k
    rows regardless of corpus size (the corpus-sized work lives
    inside bm25_topk / brute_force_topk, which never shuffle the
    corpus). The fused score is a fixed two-term IEEE chain
    (lex term + dense term, integer-derived divisions) — bit-exact
    across engines with no decimal rounding needed."""
    from .text import bm25_topk

    lex = bm25_topk(docs, query_terms, k=k_each)
    w_lex = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    lex_ranked = lex.select(
        "doc_id", F.row_number().over(w_lex).cast("long").alias("lex_rank")
    )
    dense_ranked = brute_force_topk(
        emb.where(F.col("vec_id") == query_vec_id), emb, k=k_each
    ).select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").cast("long").alias("dense_rank"),
    )
    fused = lex_ranked.join(dense_ranked, "doc_id", "full_outer")
    contrib = lambda c: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(rrf_k) + F.col(c)).cast("double"), F.lit(0.0)
    )
    return (
        fused.select(
            "doc_id",
            "lex_rank",
            "dense_rank",
            (contrib("lex_rank") + contrib("dense_rank")).alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(k)
    )


def with_sign_signature(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Binary (sign-bit) quantization: dimension p contributes bit p of
    a packed signature when x_p > 0 — 64 floats become 2×32-bit words
    (32 bits per BIGINT half, deliberately avoiding bit 63: a 1<<63
    differs across engines' overflow behavior, 1<<31 in a BIGINT does
    not). Hamming distance between signatures approximates angular
    distance (Charikar's SimHash bound applied to the identity
    "hyperplanes" = coordinate axes); the modern binary-quantization
    ANN tier (e.g. RaBitQ-style pipelines) shortlists by Hamming and
    re-ranks exact. Map-side expression, no shuffle, 32× smaller than
    the float vectors in the shortlist exchange."""
    half = dim // 2

    def _pack(lo: int) -> str:
        return (
            "aggregate(transform(sequence(0, {n}), p -> IF("
            "element_at({e}, p + {base}) > 0, shiftleft(CAST(1 AS BIGINT), p),"
            " CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (a, v) -> a + v)"
        ).format(n=half - 1, e=emb_col, base=lo)

    # keep the caller's columns (norm_sq etc.) — signatures append
    return df.select(
        "*",
        F.expr(_pack(1)).alias("sig_lo"),
        F.expr(_pack(half + 1)).alias("sig_hi"),
    )


def binary_quantized_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Sign-bit ANN: Hamming shortlist over packed signatures, exact
    cosine re-rank on the survivors (house tie-breaks: hamming ASC /
    neighbor_id ASC for the shortlist, cosine DESC / neighbor_id ASC
    for the final rank — fully deterministic, hash-oracle-able).

    Scale shape: signatures are 16 bytes/vector — the Hamming stage
    broadcasts the QUERY signatures and scans the corpus map-side
    (bit_count(xor) is codegen'd); only ``shortlist`` candidates per
    query carry their float vectors into the re-rank."""
    q = with_sign_signature(
        with_norm_sq(queries, emb_col), id_col, emb_col, dim
    ).select(
        F.col(id_col).alias("query_id"),
        F.col(emb_col).alias("q_emb"),
        F.expr("norm_sq").alias("q_norm"),
        F.col("sig_lo").alias("q_lo"),
        F.col("sig_hi").alias("q_hi"),
    )
    c = with_sign_signature(
        with_norm_sq(corpus, emb_col), id_col, emb_col, dim
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(emb_col).alias("c_emb"),
        F.expr("norm_sq").alias("c_norm"),
        "sig_lo",
        "sig_hi",
    )
    pairs = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
    hammed = pairs.withColumn(
        "hamming",
        (
            F.bit_count(F.expr("sig_lo ^ q_lo"))
            + F.bit_count(F.expr("sig_hi ^ q_hi"))
        ).cast("long"),
    )
    w_short = Window.partitionBy("query_id").orderBy(
        F.asc("hamming"), F.asc("neighbor_id")
    )
    short = hammed.withColumn("h_rank", F.row_number().over(w_short)).where(
        F.col("h_rank") <= shortlist
    )
    scored = short.withColumn(
        "cosine", cosine(dot("q_emb", "c_emb"), F.col("q_norm"), F.col("c_norm"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "hamming", "cosine", "rank")
    )


def matryoshka_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    prefix_dim: int = 8,
    shortlist: int = 50,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Matryoshka-style two-stage ANN (Kusupati et al. 2022, MRL):
    coarse-score with the FIRST ``prefix_dim`` dimensions only (MRL
    embeddings are trained so prefixes are usable sub-embeddings),
    shortlist per query, exact full-dimension re-rank. Deterministic
    tie-breaks throughout (prefix cosine DESC / neighbor_id ASC, then
    full cosine DESC / neighbor_id ASC) — hash-oracle-able.

    Scale shape: the coarse stage moves prefix_dim/dim of the bytes
    (8/64 here); the full vectors surface only for shortlist rows."""
    pre = f"slice({emb_col}, 1, {prefix_dim})"
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(emb_col).alias("q_emb"),
        norm_sq(emb_col).alias("q_norm"),
        F.expr(pre).alias("q_pre"),
        norm_sq(pre).alias("q_pre_norm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(emb_col).alias("c_emb"),
        norm_sq(emb_col).alias("c_norm"),
        F.expr(pre).alias("c_pre"),
        norm_sq(pre).alias("c_pre_norm"),
    )
    pairs = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
    coarse = pairs.withColumn(
        "pre_cosine",
        cosine(dot("q_pre", "c_pre"), F.col("q_pre_norm"), F.col("c_pre_norm")),
    )
    w_short = Window.partitionBy("query_id").orderBy(
        F.desc("pre_cosine"), F.asc("neighbor_id")
    )
    short = coarse.withColumn("p_rank", F.row_number().over(w_short)).where(
        F.col("p_rank") <= shortlist
    )
    scored = short.withColumn(
        "cosine", cosine(dot("q_emb", "c_emb"), F.col("q_norm"), F.col("c_norm"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "pre_cosine", "cosine", "rank")
    )


KMEANS_Q8_K = 8
KMEANS_Q8_ROUNDS = 6
KMEANS_Q8_SCALE = 10**6


def kmeans_q8(
    vectors: DataFrame,
    k: int = KMEANS_Q8_K,
    n_rounds: int = KMEANS_Q8_ROUNDS,
    scale: int = KMEANS_Q8_SCALE,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means in EXACT fixed-point integer arithmetic — the
    hash-oracle member of the clustering tier beside the float
    Spark-ML `semantic_dedup_kmeans` (the pagerank/perceptron/logreg
    pattern applied to clustering): vectors int8-quantized
    (:func:`quantize_embeddings_int8`, floor-exact), centroids BIGINT
    at ``scale`` units per q8 unit, seeded from vectors 0..k−1 (the
    frozen-init contract); per round every vector joins the
    broadcast centroid table, distance Σ(q·S − c)² is exact BIGINT
    (≤ d·(127·S)² < 2⁶³ for d=64, S=1e6), argmin ties to the
    smallest cluster id, and the new centroid is truncdiv(Σ q·S, n)
    per dimension — empty clusters carry their previous centroid.
    Every round replays bit-for-bit in the DuckDB unrolled-CTE twin.

    Scale: the centroid table is k·d BIGINTs (schema-constant —
    collected to the driver each round under the bounded-collect
    contract, shipped back in a Spark broadcast); each round is ONE
    fused Arrow ``mapInPandas`` pass (the r13 unigram-Viterbi
    precedent, applied here in r14 — the r12-era plan spent two
    data-sized shuffles per round: the N·k crossJoin → groupBy(vec)
    argmin, then an N·d posexplode → (cid, dim) rollup; the fused
    kernel does the argmin AND the per-task (cid, dim) partial sums
    in vectorized exact int64, so the only shuffle per round is
    k·d·n_tasks partial rows). No data-sized driver state, no
    data-sized window. Returns the final assignment
    (vec_id, cluster_id, d2).

    int64 exactness bounds: |q·S| ≤ 127·1e6, diff ≤ 2·1.27e8, diff²
    ≤ 6.5e16, Σ over d=64 ≤ 4.2e18 < 2⁶³; member sums Σ q·S ≤
    N·1.27e8 — exact far past 10⁹ vectors. numpy int64 arithmetic is
    exact integer arithmetic (no float path), so every round matches
    the DuckDB unrolled-CTE twin bit-for-bit, pinned by the pure-
    Python Lloyd parity pytest."""
    spark = vectors.sparkSession
    # r14 measured dead end (kept single-split on purpose): the
    # fixture corpus arrives as ONE parquet split, so each round's
    # kernel runs as one ~0.26 s task — fanning it out with
    # io.parallelize() to defaultParallelism made rounds ~2× SLOWER
    # (0.26 → 0.5-0.7 s: 32 × per-task Python/Arrow fixed cost
    # dwarfs the ~3 MB of vectorized work; per-job capture in
    # OPTIMIZATION_r14.md, job counts and job-seconds per entry in the
    # bench sidecar BENCH_DETAIL.json). At cluster scale the source
    # has many splits and per-task overhead amortizes naturally.
    q = quantize_embeddings_int8(vectors, id_col, emb_col).select(
        id_col, F.expr("transform(q8, x -> CAST(x AS BIGINT))").alias("q8")
    ).persist()
    seeds = (
        q.where(F.col(id_col) < k)
        .select(
            F.col(id_col).cast("long").alias("cid"),
            F.expr(f"transform(q8, x -> x * CAST({scale} AS BIGINT))").alias(
                "cent"
            ),
        )
        .collect()  # k rows — schema-constant bound, never data-sized
    )
    if len(seeds) < k:
        raise ValueError(
            f"kmeans_q8 frozen init needs ids 0..{k - 1} present; got {len(seeds)}"
        )
    cent = {r["cid"]: list(r["cent"]) for r in seeds}

    def _round_pass(cent_map: dict[int, list[int]], final: bool) -> DataFrame:
        """One kernel pass under the given centroids: ``final=False``
        emits per-task (cid, pos, s, n) partial sums (the M-step
        input), ``final=True`` emits the per-vector assignment. The
        centroid broadcast is k·d BIGINTs (schema-constant). M-step
        broadcasts are destroyed right after their collect (nothing
        lazy references them); the final round's broadcast is owned by
        the returned frame and reclaimed by ContextCleaner when the
        caller drops it (the unigram-Viterbi contract)."""
        cents = [cent_map[c] for c in sorted(cent_map)]
        b = spark.sparkContext.broadcast(cents)

        def run_partials(batches):
            import numpy as np
            import pandas as pd

            C = np.asarray(b.value, dtype=np.int64)  # (k, d)
            kk, d = C.shape
            acc_s = np.zeros((kk, d), dtype=np.int64)
            acc_n = np.zeros(kk, dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                S = np.stack(pdf["q8"].to_numpy()).astype(np.int64) * scale
                dist = np.stack(
                    [((S - C[c]) ** 2).sum(axis=1) for c in range(kk)]
                )
                a = dist.argmin(axis=0)  # first min = smallest cid
                for c in range(kk):
                    m = a == c
                    if m.any():
                        acc_s[c] += S[m].sum(axis=0)
                        acc_n[c] += int(m.sum())
            rows = [
                (c, p, int(acc_s[c, p]), int(acc_n[c]))
                for c in range(kk)
                if acc_n[c]
                for p in range(d)
            ]
            yield pd.DataFrame(
                rows, columns=["cid", "pos", "s", "n"]
            ).astype({"cid": "int64", "pos": "int64", "s": "int64", "n": "int64"})

        def run_assign(batches):
            import numpy as np
            import pandas as pd

            C = np.asarray(b.value, dtype=np.int64)
            kk = C.shape[0]
            for pdf in batches:
                if not len(pdf):
                    continue
                S = np.stack(pdf["q8"].to_numpy()).astype(np.int64) * scale
                dist = np.stack(
                    [((S - C[c]) ** 2).sum(axis=1) for c in range(kk)]
                )
                a = dist.argmin(axis=0)
                yield pd.DataFrame(
                    {
                        "vec_id": pdf[id_col].astype("int64"),
                        "cluster_id": pd.Series(a, dtype="int64"),
                        "d2": pd.Series(
                            dist[a, np.arange(len(a))], dtype="int64"
                        ),
                    }
                )

        if final:
            out_df = q.mapInPandas(
                run_assign,
                schema=f"{id_col} BIGINT, cluster_id BIGINT, d2 BIGINT",
            )
        else:
            out_df = q.mapInPandas(
                run_partials, schema="cid BIGINT, pos BIGINT, s BIGINT, n BIGINT"
            )
        return out_df, b

    for r in range(n_rounds):
        if r == n_rounds - 1:
            out, _b_final = _round_pass(cent, final=True)
            break
        # NOTE: the "obvious" de-explode (d array-indexed SUM
        # aggregates, no N·d rows) measured 2× SLOWER at sf0.1 (10-12s
        # vs 5s end-to-end, r13 A/B); the r14 fused kernel beats both
        # by removing the data-sized shuffles entirely.
        partials, b = _round_pass(cent, final=False)
        sums = (
            partials.groupBy("cid", "pos")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()  # ≤ k·d rows — schema-constant bound
        )
        b.destroy()  # M-step broadcast: no lazy plan references it
        new_cent = {cid: list(v) for cid, v in cent.items()}  # carry-forward
        for row in sums:
            s, n = int(row["s"]), int(row["n"])
            new_cent[int(row["cid"])][int(row["pos"])] = (
                s // n if s >= 0 else -((-s) // n)
            )
        cent = new_cent
    q.unpersist()
    return out
