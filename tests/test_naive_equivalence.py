"""Pruned vs naive equivalence — the reference's RealTimeNaive (RTN) paths
exist exactly to validate the grid-pruned paths (QueryType.java:3-8,
PointPointJoinQuery.java:186-243 naive single-key join). Here: the pruned
operator output must equal a brute-force computation with no grid at all."""

from __future__ import annotations

from pyspark.sql import functions as F

from spatialflink_spark import gate
from spatialflink_spark.config import DEFAULT_CONFIG as C, DEFAULT_QUERY_POINTS
from tests.conftest import SF_SMALL


def _pdf(df, keys):
    return df.toPandas().sort_values(keys).reset_index(drop=True)


def test_range_pruned_equals_naive(spark):
    pruned = gate.q_range_rows(spark, SF_SMALL).select(
        "ws", "q_id", "doc_id", "seq_no", "dist"
    )
    seq = gate._seq_t(spark, SF_SMALL)
    qp = spark.createDataFrame(
        [(q.q_id, q.q_n_tok, q.radius) for q in DEFAULT_QUERY_POINTS],
        "q_id string, q_n_tok int, radius int",
    )
    naive = (
        seq.crossJoin(qp)
        .where(F.expr("abs(n_tok - q_n_tok) <= radius"))
        .select("ws", "q_id", "doc_id", "seq_no", F.expr("abs(n_tok - q_n_tok)").alias("dist"))
    )
    keys = ["ws", "q_id", "doc_id", "seq_no"]
    a, b = _pdf(pruned, keys), _pdf(naive, keys)
    assert a.equals(b[a.columns])


def test_join_pruned_equals_naive(spark):
    seq = gate._seq_t(spark, SF_SMALL)
    pruned = gate.q_join_self_tumbling(spark, SF_SMALL)
    l = seq.select(F.col("ws").alias("l_ws"), F.col("doc_id").alias("left_doc"),
                   F.col("seq_no").alias("left_seq"), F.col("n_tok").alias("l_nt"),
                   F.col("ts_s").alias("l_ts"))
    r = seq.select(F.col("ws").alias("r_ws"), F.col("doc_id").alias("right_doc"),
                   F.col("seq_no").alias("right_seq"), F.col("n_tok").alias("r_nt"),
                   F.col("ts_s").alias("r_ts"))
    naive_pairs = l.join(
        r,
        (F.col("l_ws") == F.col("r_ws"))
        & (F.abs(F.col("l_nt") - F.col("r_nt")) <= C.join_radius)
        & (F.col("left_doc") != F.col("right_doc")),
    ).select(
        F.col("l_ws").alias("ws"), "left_doc", "right_doc",
        "left_seq", "right_seq",
        F.abs(F.col("l_nt") - F.col("r_nt")).alias("dist"),
        F.greatest("l_ts", "r_ts").alias("pair_ts"),
    )
    naive = naive_pairs.groupBy("ws", "left_doc", "right_doc").agg(
        F.max(F.struct("pair_ts", "left_seq", "right_seq", "dist")).alias("_m")
    ).select(
        "ws", "left_doc", "right_doc",
        F.col("_m.left_seq").alias("left_seq"),
        F.col("_m.right_seq").alias("right_seq"),
        F.col("_m.dist").alias("dist"),
        F.col("_m.pair_ts").alias("pair_ts"),
    )
    keys = ["ws", "left_doc", "right_doc"]
    a, b = _pdf(pruned, keys), _pdf(naive, keys)
    assert a.equals(b[a.columns])


def test_knn_pruned_equals_naive(spark):
    pruned = gate.q_knn_sliding(spark, SF_SMALL)
    seq = gate._seq_s(spark, SF_SMALL)
    qp = spark.createDataFrame(
        [(q.q_id, q.q_n_tok, q.radius, q.k) for q in DEFAULT_QUERY_POINTS],
        "q_id string, q_n_tok int, radius int, k int",
    )
    cand = seq.crossJoin(qp).where(F.expr("abs(n_tok - q_n_tok) <= radius"))
    per_doc = cand.withColumn("dist", F.expr("abs(n_tok - q_n_tok)")).groupBy(
        "ws", "q_id", "k", "doc_id"
    ).agg(F.min(F.struct("dist", "seq_no")).alias("_m"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("ws", "q_id").orderBy(F.col("_m.dist"), F.col("doc_id"))
    naive = (
        per_doc.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= F.col("k"))
        .select("ws", "q_id", "rank", "doc_id",
                F.col("_m.seq_no").alias("seq_no"), F.col("_m.dist").alias("dist"))
    )
    keys = ["ws", "q_id", "rank"]
    a, b = _pdf(pruned, keys), _pdf(naive, keys)
    assert a.equals(b[a.columns])


def test_two_stage_topk_matches_brute_force(spark):
    """The shared kNN kernel (knn.two_stage_topk, then knn.knn_merge)
    against a pure-Python brute force: dedup each object to its min
    (dist, seq), rank globally by (dist, id), cut to k. 240 seeded random
    small cases, each its own window `ws` so the whole check is one
    collect. Adversarial ties on purpose: cases whose dists all tie, one
    object spread over several cells with different (dist, seq), repeated
    rows of an object within one cell, k = 1 and k above the number of
    surviving objects."""
    import random

    from spatialflink_spark.operators.knn import knn_merge, two_stage_topk
    from spatialflink_spark.session import local_table

    rng = random.Random(6101)
    rows, want = [], []
    for case in range(240):
        for q_id in ("a", "b")[: rng.randint(1, 2)]:
            n_obj, n_cells = rng.randint(1, 6), rng.randint(1, 4)
            dmax = 0 if case % 6 == 0 else rng.choice((1, 2, 5))
            k = (1, n_obj + rng.randint(1, 3), rng.randint(1, n_obj))[case % 3]
            objs = rng.sample(range(30), n_obj)
            best = {}
            for i, obj in enumerate(objs):
                # object 0 of every 5th case sits in every cell
                spread_all = case % 5 == 0 and i == 0
                cells = range(n_cells) if spread_all else [None] * rng.randint(1, 4)
                for cell in cells:
                    cell = rng.randrange(n_cells) if cell is None else cell
                    dist, seq = rng.randint(0, dmax), rng.randint(0, 3)
                    rows.append((case, q_id, k, cell, obj, seq, dist))
                    best[obj] = min(best.get(obj, (dist, seq)), (dist, seq))
            ranked = sorted(best.items(), key=lambda o: (o[1][0], o[0]))[:k]
            want += [
                (case, q_id, rank, obj, seq, dist)
                for rank, (obj, (dist, seq)) in enumerate(ranked, 1)
            ]
    cand = local_table(
        spark, rows,
        "ws bigint, q_id string, k int, cell int, obj bigint, oseq int, dist int",
    )
    got = knn_merge(two_stage_topk(cand, "obj", "oseq")).collect()
    assert sorted(tuple(r) for r in got) == sorted(want)


def test_blocked_dup_pairs_contained_in_all_pairs(spark):
    """embedding_dup_pairs_blocked ⊆ embedding_dup_pairs with identical
    cos_sim per found pair, and recall >= 0.9 on the fixture's weak
    (cos ~0.4-0.5) pairs at (bits=4, hamming=2)."""
    from spatialflink_spark.operators.similarity import (
        embedding_dup_pairs,
        embedding_dup_pairs_blocked,
    )

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    allp = embedding_dup_pairs(emb).toPandas()
    akeys = {(r.left_vec, r.right_vec): r.cos_sim for r in allp.itertuples()}
    # default config (production regime): strict containment
    blk_default = embedding_dup_pairs_blocked(emb).toPandas()
    # recall-tuned config for the fixture's weak cos ~0.4 pairs
    blk_wide = embedding_dup_pairs_blocked(emb, bits=4, hamming=2).toPandas()
    for blk in (blk_default, blk_wide):
        for r in blk.itertuples():
            assert (r.left_vec, r.right_vec) in akeys, "blocked emitted a non-pair"
            assert r.cos_sim == akeys[(r.left_vec, r.right_vec)], "cos_sim differs"
    recall = len(blk_wide) / len(allp)
    assert recall >= 0.9, f"recall {recall:.3f} below 0.9 ({len(blk_wide)}/{len(allp)})"


def test_blocked_dup_pairs_full_recall_on_true_near_dups(spark):
    """For TRUE near-duplicates (cos >= 0.99 — the production dedup regime)
    sign buckets agree on ~every bit: hamming=1 probing finds every pair."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 16)).astype("float32")
    rows = []
    for i, v in enumerate(base):
        rows.append((i * 2, (v / np.linalg.norm(v)).tolist()))
        dup = v + rng.normal(scale=1e-3, size=16).astype("float32")  # near-dup twin
        rows.append((i * 2 + 1, (dup / np.linalg.norm(dup)).tolist()))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")

    from spatialflink_spark.operators.similarity import embedding_dup_pairs_blocked

    found = embedding_dup_pairs_blocked(
        emb, threshold=0.99, bits=8, hamming=1
    ).toPandas()
    expected = {(i * 2, i * 2 + 1) for i in range(40)}
    got = {(r.left_vec, r.right_vec) for r in found.itertuples()}
    assert expected <= got, f"missed {sorted(expected - got)[:5]}"


def test_knn_unbounded_pruned_expansion_path(spark):
    """Force the verify+expand round: one hot doc contributes >= k ROWS at
    distance 0 (so the probe's row-count radius is 0), while the other k-1
    distinct docs sit far away — the pruned form must detect docs < k and
    expand its radius until the answer equals the no-prune baseline."""
    from spatialflink_spark.config import QueryPoint
    from spatialflink_spark.operators.knn import knn_unbounded, knn_unbounded_pruned

    rows = [(1, s, 48, 0) for s in range(12)]  # hot doc: 12 rows at q exactly
    rows += [(100 + d, 0, 120, 0) for d in range(9)]  # far docs, one row each
    seq = spark.createDataFrame(
        rows, "doc_id bigint, seq_no int, n_tok int, ws bigint"
    )
    qs = [QueryPoint("q_exp", 48, 0, 5)]
    keys = ["ws", "q_id", "rank"]
    got = knn_unbounded_pruned(seq, C.grid, qs).toPandas().sort_values(keys)
    exp = knn_unbounded(seq, C.grid, qs).toPandas().sort_values(keys)
    assert len(got) == len(exp) == 5
    for c in ["ws", "q_id", "rank", "doc_id", "seq_no", "dist"]:
        assert (got[c].values == exp[c].values).all(), c


def test_knn_unbounded_pruned_query_above_grid_top(spark):
    """A query point past the grid's domain top (rows clamped into the top
    cell) must still match the no-prune oracle — the cut's LOWER cell bound
    clamps to num_cells-1 like cell_of does, else the (ws, q_id) group
    silently vanishes (review-caught bug)."""
    from spatialflink_spark.config import GridConfig, QueryPoint
    from spatialflink_spark.operators.knn import knn_unbounded, knn_unbounded_pruned

    grid = GridConfig(cell_len=8, num_cells=16)  # domain top 128
    rows = [(i, 0, 190 + i, "s", 100 + i, 0) for i in range(21)]
    df = spark.createDataFrame(
        rows, "doc_id bigint, seq_no int, n_tok int, source string, ts_s bigint, ws bigint"
    )
    qs = [QueryPoint(q_id="q_top", q_n_tok=200, radius=0, k=3)]
    a = sorted(map(tuple, knn_unbounded(df, grid, qs).collect()))
    b = sorted(map(tuple, knn_unbounded_pruned(df, grid, qs).collect()))
    assert a == b and len(a) == 3


def test_batch_ann_full_probe_equals_exact(spark):
    """With 1 sign bit and Hamming radius 1 every bucket is probed, so the
    ANN batch op must equal the exact batch op EXACTLY (ranks included) —
    proves the probe/join/cut machinery itself loses nothing."""
    from spatialflink_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    exact = {
        (r.q_id, r.rank, r.vec_id) for r in sim.cosine_topk_batch(emb).collect()
    }
    full = {
        (r.q_id, r.rank, r.vec_id)
        for r in sim.cosine_topk_batch_ann(emb, bits=1, hamming=1).collect()
    }
    assert exact == full
    assert len(exact) > 0


def test_batch_ann_recall_on_fixture(spark):
    """Default probe config (4 bits, Hamming 1 -> 5/16 of buckets) on the
    RANDOM fixture, where sign bits carry little signal — the adversarial
    floor for sign-LSH (real near-neighbor sets agree on almost all sign
    bits). Measured ~0.57 here; assert a margin below so noise can't flake."""
    from spatialflink_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    exact = {(r.q_id, r.vec_id) for r in sim.cosine_topk_batch(emb).collect()}
    ann = {(r.q_id, r.vec_id) for r in sim.cosine_topk_batch_ann(emb).collect()}
    assert len(exact & ann) / len(exact) >= 0.45


def test_kmeans_ivf_full_probe_equals_exact(spark):
    """Probing every k-means cluster must reproduce the exact brute-force
    top-k EXACTLY (ranks included) — the clustering partition is a
    partition, so a full probe loses nothing."""
    from spatialflink_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    exact = {(r.rank, r.vec_id) for r in sim.cosine_topk(emb).collect()}
    full = {
        (r.rank, r.vec_id)
        for r in sim.cosine_topk_ivf_kmeans(
            emb, n_probe=sim.KM_CENTROIDS
        ).collect()
    }
    assert exact == full and len(exact) > 0


def test_kmeans_ivf_recall_beats_probe_fraction(spark):
    """Learned centroids are data-adaptive: probing 2/8 clusters must
    recover far more than 2/8 of the exact top-k (measured 0.9 on the
    fixture; asserted with margin). This is the property that makes k-means
    IVF the production path over axis-aligned sign buckets."""
    from spatialflink_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    exact = {r.vec_id for r in sim.cosine_topk(emb).collect()}
    km = {r.vec_id for r in sim.cosine_topk_ivf_kmeans(emb).collect()}
    assert len(exact & km) / len(exact) >= 0.6


def test_kmeans_batch_full_probe_equals_exact_batch(spark):
    """Full-probe batch k-means retrieval must equal the exact batch op for
    every query (ranks included)."""
    from spatialflink_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    exact = {
        (r.q_id, r.rank, r.vec_id) for r in sim.cosine_topk_batch(emb).collect()
    }
    full = {
        (r.q_id, r.rank, r.vec_id)
        for r in sim.cosine_topk_batch_kmeans(
            emb, n_probe=sim.KM_CENTROIDS
        ).collect()
    }
    assert exact == full and len(exact) > 0


def test_kmeans_batch_default_probe_recall(spark):
    """Batch k-means retrieval at the default 2/8-cluster probe must
    recover well over the probe FRACTION (0.25) of each query's exact
    top-k. On the RANDOM-vector fixture clusters are weakly separable —
    mean per-query recall measured 0.58 (single queries range 0.2-0.9);
    still >2x the probe fraction, asserted with margin. Real embedding
    manifolds cluster far better — this is the adversarial floor."""
    from collections import defaultdict

    from spatialflink_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    exact = defaultdict(set)
    for r in sim.cosine_topk_batch(emb).collect():
        exact[r.q_id].add(r.vec_id)
    got = defaultdict(set)
    for r in sim.cosine_topk_batch_kmeans(emb).collect():
        got[r.q_id].add(r.vec_id)
    recalls = [len(exact[q] & got[q]) / len(exact[q]) for q in exact]
    assert sum(recalls) / len(recalls) >= 0.5


def test_ivf_index_search_equals_inline(spark, tmp_path):
    """Build-once/search-many: searching the PERSISTED inverted file
    (build_ivf_index -> search_ivf_index) must reproduce the inline
    cosine_topk_ivf_kmeans exactly (ranks included) at the same
    (n_centroids, iters, n_probe) — the index layout changes I/O, never
    the answer."""
    from spatialflink_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(emb, path)
    got = {
        (r.rank, r.vec_id, r.cos_sim)
        for r in sim.search_ivf_index(spark, path).collect()
    }
    inline = {
        (r.rank, r.vec_id, r.cos_sim)
        for r in sim.cosine_topk_ivf_kmeans(emb).collect()
    }
    assert got == inline and len(got) > 0


def test_kmeans_batch_high_recall_on_clustered_fixture(spark):
    """The regime learned IVF exists for: a corpus with real cluster
    structure. Plant 8 well-separated clusters (disjoint 8-dim support per
    cluster + deterministic seeded jitter); a query's exact top-k then lives
    almost entirely inside its own cluster, the deterministic Lloyd init
    (vec_ids 0-7 = one vector per planted cluster) converges onto the
    planted centers, and the default 2/8-cluster probe must recover >= 0.9
    mean recall — the COVERAGE.md claim, complementing the random-fixture
    adversarial floor asserted above."""
    from collections import defaultdict

    import numpy as np

    from spatialflink_spark.operators import similarity as sim

    rng = np.random.default_rng(7)
    n, dim, k_clusters = 800, 64, 8
    rows = []
    for vid in range(n):
        c = vid % k_clusters
        v = np.zeros(dim, dtype=np.float64)
        # disjoint support: cluster c owns dims 8c..8c+7
        v[8 * c : 8 * c + 8] = 1.0 + 0.15 * rng.standard_normal(8)
        v += 0.05 * rng.standard_normal(dim)  # small full-dim jitter
        rows.append((vid, [float(x) for x in v], c))
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    exact = defaultdict(set)
    for r in sim.cosine_topk_batch(emb).collect():
        exact[r.q_id].add(r.vec_id)
    got = defaultdict(set)
    for r in sim.cosine_topk_batch_kmeans(emb).collect():
        got[r.q_id].add(r.vec_id)
    recalls = [len(exact[q] & got[q]) / len(exact[q]) for q in exact]
    assert sum(recalls) / len(recalls) >= 0.9


def test_kmeans_purity_partitions_corpus(spark):
    """The purity table partitions the corpus: cluster sizes sum to the
    corpus size, every majority count is consistent (purity = n_top/n_vecs,
    n_top <= n_vecs, and a cluster's majority count can't exceed the global
    count of that label), and the profile matches a brute-force pandas
    recomputation of the same deterministic assignment."""
    from spatialflink_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    prof = {r.cid: r for r in sim.kmeans_label_purity(emb).collect()}
    n = emb.count()
    assert sum(r.n_vecs for r in prof.values()) == n
    label_tot = dict(
        emb.groupBy("label").count().rdd.map(lambda r: (r[0], r[1])).collect()
    )
    for r in prof.values():
        assert 0 < r.n_top <= r.n_vecs
        assert abs(r.purity - r.n_top / r.n_vecs) < 5e-7  # purity is round(,6)
        assert r.n_top <= label_tot[r.top_label]

    # brute-force recomputation from the packed assignment relation
    from pyspark.sql import functions as F
    from collections import Counter

    packed = sim._packed_centroids(sim.kmeans_centroids(emb))
    assigned = (
        emb.select("vec_id", "label", F.expr(sim._km_quant("embedding")).alias("qv"))
        .crossJoin(F.broadcast(packed))
        .select("label", F.expr(sim._KM_ASSIGN).alias("cid"))
        .collect()
    )
    by_cid: dict[int, Counter] = {}
    for row in assigned:
        by_cid.setdefault(row.cid, Counter())[row.label] += 1
    assert set(by_cid) == set(prof)
    for cid, c in by_cid.items():
        top_label = min(c, key=lambda l: (-c[l], l))
        assert prof[cid].n_vecs == sum(c.values())
        assert prof[cid].top_label == top_label
        assert prof[cid].n_top == c[top_label]


def test_pq_adc_matches_python_mirror_and_floor(spark):
    """PQ ADC is exact integer math end-to-end: a numpy mirror of the full
    chain (shared quantization, per-subspace Lloyd from the same init,
    codes, table, sums) must reproduce every (rank, vec_id, adc) row —
    plus the random-fixture adversarial recall floor vs exact quantized
    L2 (random vectors are PQ's worst case: 12-bit codes, no cluster
    structure; clustered regime asserted below)."""
    import numpy as np

    from spatialflink_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    rows = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    q = {v: np.round(e * sim.KM_QSCALE).astype(np.int64) for v, e in rows.items()}
    m, kc, iters, sub = sim.PQ_M, sim.PQ_K, sim.PQ_ITERS, 64 // sim.PQ_M

    def lloyd(slc):
        cent = {c: slc[c].copy() for c in range(kc)}
        for _ in range(iters):
            assign = {}
            for v, x in slc.items():
                d = sorted(
                    (int(((x - cq) ** 2).sum()), c) for c, cq in cent.items()
                )
                assign[v] = d[0][1]
            for c in range(kc):
                mem = [slc[v] for v, a in assign.items() if a == c]
                if mem:
                    cent[c] = np.floor(
                        np.sum(mem, axis=0).astype(np.float64) / len(mem)
                    ).astype(np.int64)
        return cent

    cents = []
    for j in range(m):
        cents.append(lloyd({v: x[j * sub : (j + 1) * sub] for v, x in q.items()}))
    qvec = q[sim.QUERY_VEC_ID]
    dtab = {
        (j, c): int(((qvec[j * sub : (j + 1) * sub] - cq) ** 2).sum())
        for j in range(m)
        for c, cq in cents[j].items()
    }
    adc = {}
    for v, x in q.items():
        if v == sim.QUERY_VEC_ID:
            continue
        s = 0
        for j in range(m):
            d = sorted(
                (int(((x[j * sub : (j + 1) * sub] - cq) ** 2).sum()), c)
                for c, cq in cents[j].items()
            )
            s += dtab[(j, d[0][1])]
        adc[v] = s
    exp = sorted(adc.items(), key=lambda kv: (kv[1], kv[0]))[: sim.DEFAULT_K]

    got = sim.pq_topk_adc(emb).collect()
    assert [(r.vec_id, r.adc) for r in sorted(got, key=lambda r: r.rank)] == exp

    # adversarial floor: recall vs exact quantized-L2 top-k on random data
    ex = {
        v
        for v, _ in sorted(
            ((v, int(((x - qvec) ** 2).sum())) for v, x in q.items() if v != 0),
            key=lambda kv: (kv[1], kv[0]),
        )[: sim.DEFAULT_K]
    }
    recall = len(ex & {r.vec_id for r in got}) / len(ex)
    assert recall >= 0.1, recall


def test_pq_adc_cluster_precision_on_clustered_fixture(spark):
    """The regime PQ exists for: real cluster structure. On the planted
    fixture every member of the query's cluster collapses to (nearly) the
    same code tuple, so PQ identifies the CLUSTER exactly but cannot rank
    within it (ties break by vec_id — that is the documented granularity
    of 12-bit codes, the compression trade). The meaningful assertion is
    cluster-membership PRECISION of the ADC top-k, not element recall:
    every returned candidate must come from the query's own cluster."""
    import numpy as np

    from spatialflink_spark.operators import similarity as sim

    rng = np.random.default_rng(7)
    n, dim, k_clusters = 800, 64, 8
    rows = []
    for vid in range(n):
        c = vid % k_clusters
        v = np.zeros(dim, dtype=np.float64)
        v[8 * c : 8 * c + 8] = 1.0 + 0.15 * rng.standard_normal(8)
        v += 0.05 * rng.standard_normal(dim)
        rows.append((vid, [float(x) for x in v], c))
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    got = [r.vec_id for r in sim.pq_topk_adc(emb).collect()]
    assert len(got) == sim.DEFAULT_K
    # query is vec_id 0 -> cluster 0 (vid % 8 == 0)
    precision = sum(1 for v in got if v % k_clusters == 0) / len(got)
    assert precision == 1.0, (precision, got)
    # the batch face inherits the property for EVERY query: each query's
    # ADC top-k comes from the query's own planted cluster
    from collections import defaultdict

    per_q = defaultdict(list)
    for r in sim.pq_topk_batch(emb).collect():
        per_q[r.q_id].append(r.vec_id)
    assert per_q
    for q_id, vids in per_q.items():
        assert len(vids) == sim.DEFAULT_K
        assert all(v % k_clusters == q_id % k_clusters for v in vids), q_id
