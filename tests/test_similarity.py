"""ANN recall contract vs brute force (the correctness check for the
non-SQL-expressible LSH tier)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigquery_postgres_events_etl_spark.io import load_table
from bigquery_postgres_events_etl_spark.operators.similarity import (
    ann_lsh_topk,
    brute_force_topk,
    with_lsh_bucket,
)


def test_ann_lsh_recall(spark, sf_dir):
    """With few planes (big buckets) the bucketed search must recover
    most of the true top-5; this pins the contract that ANN is a
    recall/cost dial, not a different answer."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(queries, emb, k=5).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in ann_lsh_topk(queries, emb, k=5, num_planes=2).collect()
    }
    recall = len(truth & got) / len(truth)
    assert recall >= 0.25, f"ANN recall {recall} too low even for 2 planes"


def test_lsh_buckets_partition_corpus(spark, sf_dir):
    """Bucketing is total and deterministic: every vector gets exactly
    one bucket id in [0, 2^planes), stable across invocations."""
    emb = load_table(spark, sf_dir, "embeddings")
    b1 = with_lsh_bucket(emb, num_planes=4).select("vec_id", "lsh_bucket")
    assert b1.where((F.col("lsh_bucket") < 0) | (F.col("lsh_bucket") >= 16)).count() == 0
    b2 = with_lsh_bucket(emb, num_planes=4).select("vec_id", "lsh_bucket")
    assert b1.exceptAll(b2).count() == 0


def test_brute_force_topk_is_k_per_query(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    out = brute_force_topk(queries, emb, k=3)
    per_q = out.groupBy("query_id").count().collect()
    assert len(per_q) == 5 and all(r["count"] == 3 for r in per_q)


def test_ivf_recall(spark, sf_dir):
    """IVF with 8 lists / 2 probes must recover a solid share of the
    true top-5 (probing 1/4 of the corpus)."""
    from bigquery_postgres_events_etl_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(queries, emb, k=5).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(queries, emb, k=5, n_lists=8, n_probe=2).collect()
    }
    recall = len(truth & got) / len(truth)
    assert recall >= 0.3, f"IVF recall {recall}"


def test_multiprobe_beats_single_probe(spark, sf_dir):
    """Multi-probe recall must dominate single-probe at the same
    plane count (its candidate set is a strict superset)."""
    from bigquery_postgres_events_etl_spark.operators.similarity import (
        ann_lsh_topk_multiprobe,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(queries, emb, k=5).collect()
    }
    # 4 planes -> 16 buckets on the 500-vector smoke corpus; probing
    # 5/16 buckets should lift recall well above the single probe
    single = {
        (r.query_id, r.neighbor_id)
        for r in ann_lsh_topk(queries, emb, k=5, num_planes=4).collect()
    }
    multi = {
        (r.query_id, r.neighbor_id)
        for r in ann_lsh_topk_multiprobe(queries, emb, k=5, num_planes=4).collect()
    }
    r_single = len(truth & single) / len(truth)
    r_multi = len(truth & multi) / len(truth)
    assert r_multi >= r_single
    assert r_multi >= 0.4, f"multi-probe recall {r_multi}"


def test_quantize_int8_zero_vector_guard(spark):
    """All-zero vectors must quantize to all-zero int8 with NULL scale
    — not Inf·0 = NaN → null elements (the silent-corruption path)."""
    from bigquery_postgres_events_etl_spark.operators.similarity import (
        quantize_embeddings_int8,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [0.5, -1.0, 0.25])],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    rows = {r["vec_id"]: r for r in quantize_embeddings_int8(df).collect()}
    assert rows[1]["scale"] is None
    assert rows[1]["q8"] == [0, 0, 0]
    assert rows[2]["scale"] == 127.0
    assert rows[2]["q8"] == [63, -127, 31]


def test_mmr_matches_reference_and_diversifies(spark, sf_dir):
    """Per-pick parity with a pure-Python MMR over the same
    candidates, plus the property MMR exists for: the diversified
    list's average pairwise similarity is <= the plain top-k's."""
    import math

    from bigquery_postgres_events_etl_spark.operators.similarity import (
        brute_force_topk,
    )
    from bigquery_postgres_events_etl_spark.registry import all_queries

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / math.sqrt(sum(x * x for x in a) * sum(y * y for y in b))

    lam, k = 0.7, 5
    cands = brute_force_topk(
        emb.where(F.col("vec_id") < 4), emb, k=20
    ).collect()
    by_q: dict[int, dict[int, float]] = {}
    for r in cands:
        by_q.setdefault(r.query_id, {})[r.neighbor_id] = r.cosine

    want = {}
    for q, rel in by_q.items():
        sel: list[int] = []
        remaining = dict(rel)
        for rank in range(k):
            best, best_score = None, None
            for d, rv in sorted(remaining.items()):
                pen = max((cos(vecs[d], vecs[s]) for s in sel), default=0.0)
                score = lam * rv - (1 - lam) * pen
                if best_score is None or score > best_score:
                    best, best_score = d, score
            sel.append(best)
            want[(q, best)] = (rank + 1, best_score)
            del remaining[best]

    got = {
        (r.query_id, r.neighbor_id): (r.pick_rank, r.mmr_score)
        for r in all_queries()["similarity_mmr_topk"](spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for key in want:
        assert got[key][0] == want[key][0], key
        assert abs(got[key][1] - want[key][1]) <= 1e-9, key

    # diversity: MMR's selected set is no more self-similar than the
    # plain top-k head of the same candidate list
    for q, rel in by_q.items():
        plain = sorted(rel, key=lambda d: (-rel[d], d))[:k]
        mmr_sel = [d for (qq, d), (rk, _) in sorted(got.items(), key=lambda kv: kv[1][0]) if qq == q]
        def avg_pair(sel):
            ps = [cos(vecs[a], vecs[b]) for i, a in enumerate(sel) for b in sel[i + 1:]]
            return sum(ps) / len(ps)
        assert avg_pair(mmr_sel) <= avg_pair(plain) + 1e-12


def test_pq_adc_matches_python_reference(spark, sf_dir):
    """PQ codes AND ADC scores reproduced by a pure-Python fold over
    the same md5 codebook (third independent engine next to the
    DuckDB oracle), plus the retrieval sanity contract: ADC top-5
    overlaps the exact top-5 better than chance."""
    from bigquery_postgres_events_etl_spark.operators.similarity import (
        PQ_DSUB,
        PQ_K,
        PQ_M,
        _pq_centroid,
        brute_force_topk,
        pq_adc_topk,
        pq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in emb.collect()}

    def dists(v, m):
        out = []
        for c in range(PQ_K):
            cb = _pq_centroid(m, c)
            acc = 0.0
            for j in range(PQ_DSUB):
                x = v[m * PQ_DSUB + j] - cb[j]
                acc = acc + x * x
            out.append(acc)
        return out

    def codes(v):
        return [dists(v, m).index(min(dists(v, m))) for m in range(PQ_M)]

    got_codes = {
        r.vec_id: [r[f"code_{m}"] for m in range(PQ_M)]
        for r in pq_encode(emb).collect()
    }
    assert got_codes == {vid: codes(v) for vid, v in vecs.items()}

    queries = emb.where(F.col("vec_id") < 10)
    rows = pq_adc_topk(queries, emb, k=5).collect()
    assert len(rows) == 50
    for r in rows:
        qv = vecs[r.query_id]
        want = 0.0
        nc = codes(vecs[r.neighbor_id])
        for m in range(PQ_M):
            want = want + dists(qv, m)[nc[m]]
        assert r.adc == want, (r.query_id, r.neighbor_id)

    # retrieval sanity: PQ@5 recalls some exact neighbors overall
    # (random 5-of-499 would average 5/499 ≈ 0.01 per query)
    exact = brute_force_topk(queries, emb, k=5)
    pq_set = {(r.query_id, r.neighbor_id) for r in rows}
    ex_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    assert len(pq_set & ex_set) >= 5  # ≥10% recall overall vs ~1% chance


def test_ivf_fixed_codebook_recall_and_list_partition(spark, sf_dir):
    """The frozen-codebook IVF tier (r10, the hash-oracle sibling of
    the trained tier): every returned neighbor must carry the list it
    was assigned to, assignment must be total (every corpus vector in
    exactly one list), and recall vs brute force must clear the same
    bar as the trained tier at the same lists/probes."""
    from bigquery_postgres_events_etl_spark.operators.similarity import (
        ivf_fixed_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    out = ivf_fixed_topk(queries, emb, k=5, n_lists=8, n_probe=2).collect()
    assert all(0 <= r.list_id < 8 for r in out)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(queries, emb, k=5).collect()
    }
    got = {(r.query_id, r.neighbor_id) for r in out}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.3, f"fixed-codebook IVF recall {recall}"


def test_binary_quantized_recall_and_shortlist_contract(spark, sf_dir):
    """Sign-bit Hamming shortlist (50 of ~2000) must recover a solid
    share of the true cosine top-5, and every returned neighbor must
    genuinely be in the query's Hamming-top-50 (the shortlist is a
    hard gate, not a hint)."""
    from bigquery_postgres_events_etl_spark.operators.similarity import (
        binary_quantized_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(queries, emb, k=5).collect()
    }
    out = binary_quantized_topk(queries, emb, k=5, shortlist=50).collect()
    got = {(r.query_id, r.neighbor_id) for r in out}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.3, f"binary-quant recall {recall}"
    assert all(0 <= r.hamming <= 64 for r in out)
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r)
    assert all(len(v) == 5 for v in per_q.values())


def test_matryoshka_prefix_stage_recall(spark, sf_dir):
    """8-of-64-dim coarse stage + 50-candidate shortlist must recover
    a solid share of the exact top-5, and widening the shortlist can
    only help (superset property of the re-rank candidate set)."""
    from bigquery_postgres_events_etl_spark.operators.similarity import (
        matryoshka_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(queries, emb, k=5).collect()
    }
    narrow = {
        (r.query_id, r.neighbor_id)
        for r in matryoshka_topk(queries, emb, k=5, shortlist=50).collect()
    }
    wide = {
        (r.query_id, r.neighbor_id)
        for r in matryoshka_topk(queries, emb, k=5, shortlist=200).collect()
    }
    r_narrow = len(truth & narrow) / len(truth)
    r_wide = len(truth & wide) / len(truth)
    assert r_narrow >= 0.3, f"matryoshka recall {r_narrow}"
    assert r_wide >= r_narrow  # more candidates, never worse


def test_kcenter_radius_monotone_and_covers_clusters(spark):
    """Greedy farthest-point: (a) the selection-radius sequence is
    monotone non-increasing (each pick can only shrink the farthest
    gap); (b) on three well-separated planted clusters the first
    three picks land in three DIFFERENT clusters — the diversity
    property that random sampling lacks."""
    from bigquery_postgres_events_etl_spark.operators.similarity import (
        kcenter_coreset,
    )

    def vec(base, jitter):
        v = [0.0] * 64
        v[base] = 100.0
        v[base + 1] = jitter
        return v

    # clusters at axes 0 / 20 / 40, four points each (ids encode cluster)
    rows = [
        (cid * 10 + j, vec(cid * 20, float(j)))
        for cid in range(3)
        for j in range(4)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kcenter_coreset(emb, k=6).orderBy("sel_round").collect()
    assert [r.sel_round for r in out] == list(range(6))
    assert out[0].vec_id == 0 and out[0].sel_dist is None
    radii = [r.sel_dist for r in out[1:]]
    assert all(a >= b for a, b in zip(radii, radii[1:]))
    first_three_clusters = {r.vec_id // 10 for r in out[:3]}
    assert first_three_clusters == {0, 1, 2}


def test_power_iteration_finds_planted_direction(spark):
    """On a corpus whose variance is overwhelmingly along one axis,
    the fixed-point power iteration's dominant component is that axis
    and every component obeys the L-inf normalization bound."""
    from bigquery_postgres_events_etl_spark.operators.similarity import (
        POWER_SCALE,
        power_iteration_int8,
    )

    rows = []
    for k in range(20):
        v = [0.01 * ((k * 7 + i) % 5 - 2) for i in range(16)]
        v[5] = 10.0 if k % 2 == 0 else -10.0  # dominant +/- axis-5 mass
        rows.append((k, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.dim: r.v_fp for r in power_iteration_int8(emb).collect()}
    assert len(out) == 16
    top = max(out, key=lambda d: abs(out[d]))
    assert top == 5
    assert all(abs(x) <= POWER_SCALE for x in out.values())
    # the dominant component saturates the fixed-point scale
    assert abs(out[5]) == POWER_SCALE


def test_cluster_purity_planted_labels(spark):
    """Purity of planted clusters: when labels align with the frozen
    clusters purity is 1.0; a deliberately mixed cluster reports
    max-count/size with the smallest majority label on ties."""
    import tempfile

    from bigquery_postgres_events_etl_spark.registry import all_queries

    def vec(axis):
        v = [0.0] * 64
        v[axis] = 50.0
        return v

    # seeds: vec_id 0..7 (only 0 and 1 matter — two far-apart axes)
    rows = []
    for vid in range(8):
        rows.append((vid, vec(0 if vid == 0 else 30), 0 if vid == 0 else 9))
    # cluster of seed 0: three label-5 members + planted tie pair
    rows += [(10, vec(0), 5), (11, vec(0), 5), (12, vec(0), 6), (13, vec(0), 6)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    with tempfile.TemporaryDirectory() as tmp:
        emb.write.parquet(tmp + "/embeddings.parquet")
        out = {
            r.cluster_id: r
            for r in all_queries()["ml_eval_cluster_purity"](spark, tmp).collect()
        }
    c0 = out[0]
    # cluster 0: seed (label 0) + 2x label 5 + 2x label 6 -> counts
    # {0:1, 5:2, 6:2}; max 2, tie between 5 and 6 -> majority 5
    assert c0.cluster_size == 5 and c0.majority_count == 2
    assert c0.majority_label == 5
    assert c0.purity == 2 / 5
    # every remaining vector sits with its own seed cluster at purity 1
    pure = [r for cid, r in out.items() if cid != 0]
    assert pure and all(r.purity == 1.0 for r in pure)


def test_kcenter_handles_empty_and_fewer_than_k(spark):
    """Degenerate inputs (ADVICE r11): an empty corpus returns an
    empty trajectory instead of TypeError-ing on a None seed; a corpus
    with fewer than k vectors returns the full partial trajectory
    (every vector selected once) instead of crashing on the exhausted
    argmax."""
    from bigquery_postgres_events_etl_spark.operators.similarity import (
        kcenter_coreset,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert kcenter_coreset(empty, k=4).count() == 0

    rows = [(i, [float(i), 0.0]) for i in range(3)]
    small = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kcenter_coreset(small, k=8).orderBy("sel_round").collect()
    assert [r.vec_id for r in out] == [0, 2, 1]  # seed, farthest, rest
    assert [r.sel_round for r in out] == [0, 1, 2]


def test_power_iteration_empty_corpus_yields_zero_rows(spark):
    """Spark/oracle parity in the degenerate case (ADVICE r11): an
    empty corpus produces ZERO rows (the SQL oracle's behavior), not a
    fabricated (dim=0, v=scale) row."""
    from bigquery_postgres_events_etl_spark.operators.similarity import (
        power_iteration_int8,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert power_iteration_int8(empty).count() == 0


def test_frozen_codebook_short_seed_frame_raises(spark):
    """The frozen-codebook contract is ids 0..n_lists-1 present; a
    sparse/offset id space must fail LOUDLY (ADVICE r11) rather than
    silently shrinking the codebook on both engines."""
    import pytest

    from bigquery_postgres_events_etl_spark.operators.similarity import (
        semantic_dedup_frozen,
    )

    rows = [(100 + i, [float(i), 1.0]) for i in range(6)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="frozen codebook"):
        semantic_dedup_frozen(emb, n_lists=4)


def test_kmeans_q8_planted_clusters_and_python_parity(spark):
    """Fixed-point Lloyd's (the r12 hash tier): (a) EXACT parity with
    a pure-Python integer twin on a planted corpus — every
    assignment and distance after 6 rounds; (b) three well-separated
    planted clusters are recovered perfectly even though the frozen
    first-k seeds start skewed."""
    import math

    from bigquery_postgres_events_etl_spark.operators.similarity import (
        KMEANS_Q8_ROUNDS,
        KMEANS_Q8_SCALE,
        kmeans_q8,
    )

    def vec(axis, jit):
        v = [0.1 * math.sin(0.3 * (axis + j + jit)) for j in range(16)]
        v[axis] = 40.0 + jit
        return v

    # 3 planted clusters at axes 2/7/12, 8 members each; ids 0..23
    rows = [
        (cid * 8 + j, vec(2 + cid * 5, 0.25 * j))
        for cid in range(3)
        for j in range(8)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = sorted(
        (r.vec_id, r.cluster_id, r.d2)
        for r in kmeans_q8(emb, k=4, n_rounds=KMEANS_Q8_ROUNDS).collect()
    )

    # pure-Python integer twin
    CS = KMEANS_Q8_SCALE
    K = 4

    def q8(v):
        m = max(abs(x) for x in v)
        sc = 127.0 / m
        # float32 storage first — Spark reads array<float>
        import struct

        v32 = [struct.unpack("f", struct.pack("f", x))[0] for x in v]
        m32 = max(abs(x) for x in v32)
        sc32 = 127.0 / m32
        return [math.floor(x * sc32) for x in v32]

    cells = {vid: q8(v) for vid, v in rows}
    d = 16

    def tdiv(a, b):
        return a // b if a >= 0 else -((-a) // b)

    cent = {cid: [cells[cid][j] * CS for j in range(d)] for cid in range(K)}
    for r in range(KMEANS_Q8_ROUNDS):
        asg = {}
        for vid, qv in cells.items():
            best = None
            for cid in range(K):
                d2 = sum((qv[j] * CS - cent[cid][j]) ** 2 for j in range(d))
                if best is None or (d2, cid) < best:
                    best = (d2, cid)
            asg[vid] = (best[1], best[0])
        if r < KMEANS_Q8_ROUNDS - 1:
            newc = {}
            for cid in range(K):
                mem = [v for v, (c, _) in asg.items() if c == cid]
                if not mem:
                    newc[cid] = cent[cid]
                else:
                    newc[cid] = [
                        tdiv(sum(cells[v][j] * CS for v in mem), len(mem))
                        for j in range(d)
                    ]
            cent = newc
    want = sorted((vid, c, d2) for vid, (c, d2) in asg.items())
    assert got == want
    # planted separation: no label ever mixes two true clusters
    # (Lloyd may SPLIT a cluster when k > true k — that is correct
    # behavior — but never merges across the planted gaps)
    labels = {}
    for vid, cid, _ in got:
        labels.setdefault(vid // 8, set()).add(cid)
    for a in range(3):
        for b in range(a + 1, 3):
            assert not (labels[a] & labels[b]), (a, b, labels)


def test_semantic_fixed_size_codebook_scales_with_corpus(spark):
    """The production-regime sizing rule: k = ceil(N/64), so the
    cluster-id space grows with the corpus (N=64 → 1 list, N=130 →
    3 lists) and every emitted cluster_id is < k."""
    import math as _m

    from bigquery_postgres_events_etl_spark.operators.similarity import (
        semantic_dedup_frozen,
    )

    for n in (64, 130):
        k = (n + 63) // 64
        rows = [
            (i, [_m.sin(0.1 * i + 0.01 * j) for j in range(8)])
            for i in range(n)
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = semantic_dedup_frozen(emb, threshold=0.99, n_lists=k).collect()
        assert len(out) == n
        assert {r.cluster_id for r in out} <= set(range(k))
