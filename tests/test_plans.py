"""Physical-plan property tests — the plan we'd want at 100 TB, asserted.

These catch silent regressions correctness tests can't: a lost filter
pushdown, a broadcast that became a shuffle, a final agg without its partial.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from spatialflink_spark import gate, plans
from spatialflink_spark.sources.sequences import load_documents, sequences
from tests.conftest import SF_SMALL


def test_range_query_broadcasts_query_cells(spark):
    df = gate.q_range_tumbling_count(spark, SF_SMALL)
    assert plans.has_broadcast_join(df), plans.simple_plan(df)
    # counting agg must have a map-side partial before the exchange
    assert plans.has_partial_aggregate(df)


def test_documents_scan_prunes_columns(spark):
    """The sequences derivation reads only (doc_id, text, source) — column
    pruning must reach the parquet scan (ReadSchema)."""
    from spatialflink_spark.sources.sequences import sequences

    df = sequences(spark, SF_SMALL)
    schemas = plans.read_schemas(df)
    assert schemas, plans.formatted_plan(df)[:500]
    assert all("lang" not in s and "n_chars" not in s for s in schemas), schemas


def test_filter_pushdown_reaches_scan(spark):
    """A predicate on a raw scan column compiles to PushedFilters."""
    df = load_documents(spark, SF_SMALL).where(F.col("doc_id") > 100).select("doc_id")
    pf = plans.pushed_filters(df)
    assert any("doc_id" in f for f in pf), plans.formatted_plan(df)[:800]


def test_trajectory_restricted_pushes_box_filter(spark):
    """Q4 analog: the n_tok box filter can't reach the scan (n_tok is
    derived), but the plan must not shuffle AFTER filtering except for the
    groupBy — allowed exchanges: the deliberate small-scan spread()
    repartition (before any compute), the groupBy, and AQE reads."""
    df = gate.q_trajectory_restricted(spark, SF_SMALL)
    assert plans.exchange_count(df) <= 3, plans.simple_plan(df)


def test_exclude_cells_is_broadcast_anti_join(spark):
    df = gate.q_exclude_cells(spark, SF_SMALL)
    s = plans.simple_plan(df)
    assert "Broadcast" in s, s


def test_join_replication_stays_equi_join(spark):
    """The windowed join must plan as a hash/sort-merge EQUI join on
    (cell, ws) — never a cartesian/nested-loop product."""
    df = gate.q_join_self_tumbling(spark, SF_SMALL)
    s = plans.simple_plan(df)
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s


def test_simhash_dup_pairs_is_bucketed(spark):
    """The banded SimHash join must be a (band_id, band_key) equi-join —
    candidate generation never leaves its buckets."""
    df = gate.q_simhash_dup_pairs(spark, SF_SMALL)
    s = plans.simple_plan(df)
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s


def test_simhash_wide_pairs_bucketed_over_joined_input(spark):
    """The curation pipeline mines wide near-dup pairs over the
    post-exact-dedup SURVIVOR relation (itself a join output); the banded
    candidate join must stay a band-key equi-join there too — a composed
    input must not degrade it to a cartesian/nested-loop."""
    from spatialflink_spark.operators import dedup as D

    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    canon = D.exact_dedup(d).where("dup_rank = 1").select("doc_id")
    surv = d.join(canon, "doc_id")
    s = plans.simple_plan(D.simhash_wide_dup_pairs(surv))
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s


def test_staytime_normalized_single_shuffle_key(spark):
    """Join of two agg streams on (cell, ws): both sides aggregate on the
    join key, so the join adds no cartesian and stays hash/SMJ."""
    df = gate.q_staytime_normalized(spark, SF_SMALL)
    s = plans.simple_plan(df)
    assert "CartesianProduct" not in s


def test_spread_parallelizes_single_partition_scan(spark):
    """spread() must lift a 1-partition scan to session parallelism and be a
    no-op when the input already has enough partitions."""
    from spatialflink_spark.session import spread

    docs = load_documents(spark, SF_SMALL)
    assert docs.rdd.getNumPartitions() == 1
    s = spread(docs)
    assert s.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    again = spread(s)
    assert again is s  # no extra shuffle when already spread


def test_knn_unbounded_pruned_no_cartesian(spark):
    """The pruned unbounded kNN's final merge (over the checkpointed
    radius-bounded cuts) must stay free of cartesian/nested-loop joins; the
    cut pass itself broadcasts the O(windows x queries) radii table (hinted
    in knn.knn_unbounded_pruned)."""
    df = gate.q_knn_unbounded_pruned(spark, SF_SMALL)
    s = plans.simple_plan(df)
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s


def test_pack_sequences_codegen_only(spark):
    """Sequence packing must stay entirely JVM-side: no Python evals in the
    plan, bounded shuffles (window partition + final agg on the same
    `source` key — AQE may reuse the exchange), column pruning keeping the
    token arrays out of the cumsum (only n_tok + keys flow)."""
    df = gate.q_pack_sequences(spark, SF_SMALL)
    s = plans.simple_plan(df)
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s
    assert "mapInPandas" not in s.lower()
    assert plans.exchange_count(df) <= 3, s  # derive spread + window + agg


def test_decontaminate_broadcasts_probe(spark):
    """Decontamination must broadcast the benchmark shingle set (eval
    benchmarks are small by definition); the exploded training side never
    shuffles for the join — only the per-doc overlap count does."""
    df = gate.q_decontaminate(spark, SF_SMALL)
    assert plans.has_broadcast_join(df), plans.simple_plan(df)


def test_source_mix_broadcasts_rates_no_collect(spark):
    """The quota-rate table must flow back onto the document stream as an
    in-plan BROADCAST (no driver collect round trip), and the sampling
    filter stays in codegen (no Python evals)."""
    df = gate.q_source_mix(spark, SF_SMALL)
    s = plans.simple_plan(df)
    assert plans.has_broadcast_join(df), s
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s


def test_pack_bins_bucket_shard_equivalence(spark):
    """pack_bins(bucket_s=...) — the 10^12-row shard knob — must (a) equal
    the global packing when all rows fall in one time bucket, and (b) reset
    bin numbering per bucket when they don't (bins are per-shard)."""
    from spatialflink_spark.operators.packing import pack_bins

    rows = [(i, 0, 100, "s", 10 + i) for i in range(8)]  # all within 60s
    df = spark.createDataFrame(
        rows, "doc_id bigint, seq_no int, n_tok int, source string, ts_s bigint"
    )
    glob = {(r.doc_id, r.bin_id, r.bin_offset)
            for r in pack_bins(df, capacity=250).collect()}
    one_bucket = {(r.doc_id, r.bin_id, r.bin_offset)
                  for r in pack_bins(df, capacity=250, bucket_s=3600).collect()}
    assert glob == one_bucket
    # two buckets: each restarts at bin 0 offset 0
    sharded = pack_bins(df, capacity=250, bucket_s=14).collect()
    by_bucket = {}
    for r in sharded:
        by_bucket.setdefault(r.bucket, []).append(r)
    assert len(by_bucket) == 2
    for rs in by_bucket.values():
        first = min(rs, key=lambda r: r.doc_id)
        assert (first.bin_id, first.bin_offset) == (0, 0)


def test_pack_emit_straddle_hand_computed(spark):
    """pack_emit against a hand-computed straddling case: capacity 10,
    one source, sequences of 4, 9, and 3 tokens -> seq1 straddles the
    bin-0/bin-1 edge (6 tokens at positions 4..9 of bin 0, 3 tokens at
    positions 0..2 of bin 1); seq2 lands at offset 3 of bin 1."""
    from spatialflink_spark.operators.packing import pack_emit

    rows = [
        ("a", 1, 0, list(range(10, 14)), 4, 100),
        ("a", 2, 0, list(range(20, 29)), 9, 200),
        ("a", 3, 0, list(range(30, 33)), 3, 300),
    ]
    seq = spark.createDataFrame(
        rows, "source string, doc_id bigint, seq_no int, tokens array<int>, n_tok int, ts_s bigint"
    )
    got = {
        (r.source, r.bin_id): (r.n_parts, r.n_tok_bin, r.tok_checksum)
        for r in pack_emit(seq, capacity=10).collect()
    }

    def chk(parts):
        # parts: list of (pos0, tokens)
        return sum(
            (p0 + i + 1) * (t + 1) for p0, toks in parts for i, t in enumerate(toks)
        )

    # bin 0: seq1 fully (pos 0..3), seq2's first 6 tokens (pos 4..9)
    assert got[("a", 0)] == (2, 10, chk([(0, list(range(10, 14))), (4, list(range(20, 26)))]))
    # bin 1: seq2's last 3 tokens (pos 0..2), seq3 fully (pos 3..5)
    assert got[("a", 1)] == (2, 6, chk([(0, list(range(26, 29))), (3, list(range(30, 33)))]))
    assert set(got) == {("a", 0), ("a", 1)}


def test_pack_emit_randomized_vs_python_reference(spark):
    """pack_emit against an independent pure-Python packer on seeded random
    data chosen to stress the edges: tiny capacities (many straddles),
    sequences several times the capacity (3+ bin spans), zero-length
    sequences (no payload, no cum contribution), duplicate timestamps
    (tie-break by doc_id, seq_no)."""
    import random

    from spatialflink_spark.operators.packing import pack_emit

    rng = random.Random(20260817)
    rows = []
    for s in range(6):
        src = f"s{s}"
        for i in range(40):
            n = rng.choice([0, 1, 2, 3, 5, 8, 13, 21, 25])
            # (ts_s, doc_id, seq_no) must be a UNIQUE ordering key per
            # source (the packing-order contract; the real sequences table
            # guarantees it) — duplicate ts_s stress the tie-break, doc_id
            # stays unique per source
            rows.append(
                (
                    src,
                    i,                           # doc_id, unique per source
                    i % 3,                       # seq_no
                    [rng.randrange(1000) for _ in range(n)],
                    n,
                    rng.randrange(50),           # ts_s, heavy duplication
                )
            )

    def reference(capacity):
        out = {}
        by_src = {}
        for src, d, q, toks, n, ts in rows:
            by_src.setdefault(src, []).append((ts, d, q, toks, n))
        for src, seqs in by_src.items():
            seqs.sort(key=lambda t: (t[0], t[1], t[2]))
            cum = 0
            for ts, d, q, toks, n in seqs:
                for i, t in enumerate(toks):
                    pos = cum + i
                    b = pos // capacity
                    key = (src, b)
                    parts, ntb, chk, last_seq = out.get(key, (0, 0, 0, None))
                    if last_seq != (d, q, ts):
                        parts += 1
                    out[key] = (
                        parts,
                        ntb + 1,
                        chk + (pos % capacity + 1) * (t + 1),
                        (d, q, ts),
                    )
                cum += n
        return {k: v[:3] for k, v in out.items()}

    seq = spark.createDataFrame(
        rows,
        "source string, doc_id bigint, seq_no int, tokens array<int>, n_tok int, ts_s bigint",
    )
    for cap in (7, 16):
        got = {
            (r.source, r.bin_id): (r.n_parts, r.n_tok_bin, r.tok_checksum)
            for r in pack_emit(seq, capacity=cap).collect()
        }
        assert got == reference(cap), f"capacity {cap}"


def test_pack_emit_bucket_shard_equivalence(spark):
    """pack_emit(bucket_s=...) must equal the global emission when all rows
    fall in one time bucket (same guarantee pack_bins' knob is tested for),
    and shard independently when they don't."""
    from spatialflink_spark.operators.packing import pack_emit

    rows = [(f"s{i % 2}", i, 0, list(range(i, i + 5)), 5, 100 + i) for i in range(12)]
    seq = spark.createDataFrame(
        rows,
        "source string, doc_id bigint, seq_no int, tokens array<int>, n_tok int, ts_s bigint",
    )
    glob = {
        (r.source, r.bin_id): (r.n_parts, r.n_tok_bin, r.tok_checksum)
        for r in pack_emit(seq, capacity=8).collect()
    }
    one_bucket = {
        (r.source, r.bin_id): (r.n_parts, r.n_tok_bin, r.tok_checksum)
        for r in pack_emit(seq, capacity=8, bucket_s=10_000).collect()
    }
    assert glob == one_bucket
    sharded = pack_emit(seq, capacity=8, bucket_s=4).collect()
    assert {r.bucket for r in sharded} == {25, 26, 27}  # 100..111 / 4
    # sharded bins renumber per bucket: every bucket starts at bin 0
    assert all(
        any(r.bin_id == 0 and r.bucket == b for r in sharded)
        for b in {25, 26, 27}
    )


def test_bucketed_sequences_join_skips_shuffle(spark, tmp_path):
    """A doc_id self-join over the bucketed sequence table must plan with
    ZERO shuffle Exchanges — both sides read co-located buckets (the
    write-time shuffle replaces every query-time one). Broadcast is
    disabled for the assertion so the join can't sidestep the question."""
    from spatialflink_spark.sources.sequences import write_bucketed_sequences

    tbl = "seq_bucketed_plan_test"
    write_bucketed_sequences(
        spark, SF_SMALL, tbl, str(tmp_path / "seqb"), buckets=8
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        t = spark.table(tbl)
        l = t.select("doc_id", F.col("seq_no").alias("l_seq"), "n_tok")
        r = t.select("doc_id", F.col("seq_no").alias("r_seq"))
        j = l.join(r, "doc_id")
        s = plans.simple_plan(j)
        assert "Exchange hashpartitioning" not in s, s
        # and the layout changes I/O, never the answer
        n_bucketed = j.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    seq = sequences(spark, SF_SMALL)
    n_plain = (
        seq.select("doc_id", F.col("seq_no").alias("l_seq"))
        .join(seq.select("doc_id", F.col("seq_no").alias("r_seq")), "doc_id")
        .count()
    )
    assert n_bucketed == n_plain > 0


def test_ivf_index_search_prunes_partitions(spark, tmp_path):
    """The persisted-IVF search must reach the corpus scan as a PARTITION
    filter on cid (Hive-style pruning over the partitionBy('cid') layout) —
    the probe reads only the probed clusters' files, the 100 TB point of
    the index. A cid filter that degraded to a post-scan predicate would
    still be correct but would read every cluster."""
    from spatialflink_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(emb, path)
    p = plans.formatted_plan(sim.search_ivf_index(spark, path))
    import re

    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", p)
    assert any("cid" in f and "IN" in f for f in pf), p


def test_unigram_rarity_count_join_is_broadcast(spark):
    """The vocab-bounded count relation must join back as a broadcast —
    a shuffle join here would shuffle the full exploded token stream."""
    from spatialflink_spark.operators.corpus import unigram_rarity

    df = unigram_rarity(load_documents(spark, SF_SMALL))
    assert plans.has_broadcast_join(df), plans.simple_plan(df)
    assert plans.has_partial_aggregate(df)
    assert "CartesianProduct" not in plans.simple_plan(df)


def test_bigram_lift_joins_broadcast_no_cartesian(spark):
    """Support-pruned bigram relation joins the two unigram count tables
    and the one-row total as broadcasts; the final cut must be a bounded
    TakeOrderedAndProject, never a global sort."""
    from spatialflink_spark.operators.corpus import bigram_lift_topk

    df = bigram_lift_topk(load_documents(spark, SF_SMALL))
    p = plans.simple_plan(df)
    assert plans.has_broadcast_join(df), p
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p, p


def test_dsir_count_joins_broadcast(spark):
    """Both bucket-bounded count relations and the totals row must
    broadcast — the exploded feature stream never shuffles for the join."""
    from spatialflink_spark.operators.corpus import dsir_importance

    df = dsir_importance(load_documents(spark, SF_SMALL))
    p = plans.simple_plan(df)
    assert plans.has_broadcast_join(df), p
    assert "CartesianProduct" not in p
    # per-doc sum keeps its map-side partial
    assert plans.has_partial_aggregate(df)


def test_ivfpq_index_full_probe_equals_pq_and_prunes(spark, tmp_path):
    """The persisted IVF+PQ index: (a) FULL-probe search must equal
    pq_topk_adc bit-for-bit (raw-vector codes, same codebooks, same
    exact-integer ADC); (b) a partial probe must reach the corpus scan as
    a cid PARTITION filter (only probed clusters' files are read); (c)
    the stored row carries codes, never the embedding."""
    import re

    from spatialflink_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    path = str(tmp_path / "ivfpq")
    sim.build_ivfpq_index(emb, path)

    full = [
        (r.rank, r.vec_id, r.adc)
        for r in sim.search_ivfpq_index(
            spark, path, n_probe=sim.KM_CENTROIDS
        ).collect()
    ]
    plain = [
        (r.rank, r.vec_id, r.adc) for r in sim.pq_topk_adc(emb).collect()
    ]
    assert full == plain and len(full) == sim.DEFAULT_K

    p = plans.formatted_plan(sim.search_ivfpq_index(spark, path))
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", p)
    assert any("cid" in f and "IN" in f for f in pf), p

    corpus_cols = spark.read.parquet(f"{path}/corpus").columns
    assert "codes" in corpus_cols
    # compression is the point: neither the floats nor the quantized
    # vectors ride in the scanned corpus — codes only
    assert "embedding" not in corpus_cols and "qv" not in corpus_cols


def test_bigram_fluency_prefix_join_is_broadcast(spark):
    """The vocab-bounded prefix-count relation must join back as a
    broadcast; the c_ab join rides the encoded bigram equi-key (never a
    cartesian); the per-doc sum keeps its map-side partial."""
    from spatialflink_spark.operators.corpus import bigram_fluency

    df = bigram_fluency(load_documents(spark, SF_SMALL))
    assert plans.has_broadcast_join(df), plans.simple_plan(df)
    assert plans.has_partial_aggregate(df)
    assert "CartesianProduct" not in plans.simple_plan(df)


def test_decontaminate_bloom_verify_join_on_candidates_only(spark):
    """The Bloom gate's exact verify stage must join the CANDIDATE side
    (post-bloom filter), and the probe set must ride a broadcast — a
    SortMergeJoin anywhere here means the bitset prefilter fell out of
    the plan."""
    df = gate.q_decontaminate_bloom(spark, SF_SMALL)
    p = plans.simple_plan(df)
    assert plans.has_broadcast_join(df), p
    assert "SortMergeJoin" not in p, p
    assert "CartesianProduct" not in p, p


def test_static_query_tables_plan_as_local_scans(spark, tmp_path):
    """The tiny driver-side side tables (query cells, probe spans, cell
    sets) are JVM-local relations: a LocalTableScan under the broadcast,
    never a parallelized Python RDD (`Scan ExistingRDD`), whose Python
    worker tasks would cost more than the pruning they feed."""
    from spatialflink_spark.config import DEFAULT_QUERY_POINTS
    from spatialflink_spark.gate import C
    from spatialflink_spark.sources.streams import (
        read_sequences_stream,
        stage_replay_files,
    )
    from spatialflink_spark.streaming.pipeline import stream_knn_topk

    stage_replay_files(spark, SF_SMALL, str(tmp_path), n_batches=2)
    stream = read_sequences_stream(spark, str(tmp_path), C.allowed_lateness_s)
    frames = {
        name: getattr(gate, name)(spark, SF_SMALL)
        for name in (
            "q_range_tumbling_count",
            "q_knn_sliding",
            "q_range_prefix_counts",
            "q_exclude_cells",
            "q_include_cells",
        )
    }
    frames["stream_knn_topk"] = stream_knn_topk(stream, C, DEFAULT_QUERY_POINTS)
    for name, df in frames.items():
        s = plans.simple_plan(df)
        assert "LocalTableScan" in s, (name, s)
        assert "ExistingRDD" not in s, (name, s)


def test_stream_knn_plans_as_jvm_hash_aggregate(spark, tmp_path):
    """The stream kNN's per-doc min is one built-in streaming aggregation:
    no Python state operator, one state store, and the packed bigint key
    keeps every aggregate a HashAggregate (a min over a struct would plan
    SortAggregates); the query cells stay a LocalTableScan."""
    from spatialflink_spark.config import DEFAULT_QUERY_POINTS
    from spatialflink_spark.gate import C
    from spatialflink_spark.sources.streams import (
        read_sequences_stream,
        stage_replay_files,
    )
    from spatialflink_spark.streaming.pipeline import stream_knn_topk

    stage_replay_files(spark, SF_SMALL, str(tmp_path), n_batches=2)
    stream = read_sequences_stream(spark, str(tmp_path), C.allowed_lateness_s)
    s = plans.simple_plan(stream_knn_topk(stream, C, DEFAULT_QUERY_POINTS))
    assert "FlatMapGroupsInPandasWithState" not in s, s
    assert s.count("StateStoreSave") == 1, s
    assert "HashAggregate" in s and "SortAggregate" not in s, s
    assert "LocalTableScan" in s, s


def test_local_table_matches_create_dataframe(spark):
    """session.local_table keeps the DDL schema (names, types, nullability)
    and the rows that spark.createDataFrame(<list>, ddl) gives — checked on
    the query-cell table of the default queries plus a radius-0 query,
    for which every cell is a candidate (UniformGrid.java:264-266)."""
    from spatialflink_spark.config import DEFAULT_QUERY_POINTS, QueryPoint
    from spatialflink_spark.gate import C
    from spatialflink_spark.operators.range_query import query_cells_df
    from spatialflink_spark.session import local_table

    qs = DEFAULT_QUERY_POINTS + (QueryPoint("q_r0", 30, 0, 3),)
    got = query_cells_df(spark, C.grid, qs)
    ddl = "q_id string, q_n_tok int, radius int, k int, cell int, guaranteed boolean"
    rows = [
        (q.q_id, q.q_n_tok, q.radius, q.k, cell, guaranteed)
        for q in qs
        for guaranteed, cells in (
            (True, C.grid.guaranteed_cells(q.q_n_tok, q.radius)),
            (False, C.grid.candidate_cells(q.q_n_tok, q.radius)),
        )
        for cell in sorted(cells)
    ]
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert all(f.nullable for f in got.schema.fields)
    assert got.collect() == want.collect()
    r0 = [r for r in got.collect() if r.q_id == "q_r0"]
    assert sorted(r.cell for r in r0) == list(range(C.grid.num_cells))
    # nulls, nested types and the empty table keep the DDL schema too
    ddl2 = "a bigint, b array<float>, c string"
    rows = [(1, [0.5, 1.25], None), (None, None, "x")]
    t = local_table(spark, rows, ddl2)
    assert t.schema == spark.createDataFrame(rows, ddl2).schema
    assert [tuple(r) for r in t.collect()] == rows
    assert local_table(spark, [], ddl2).schema == t.schema


def test_knn_merge_single_exchange(spark):
    """Stage 2 of the two-stage kNN (knn_windowed and every geometry kNN
    end in it) partitions once on (ws, q_id): the per-doc groupBy and the
    rank window both reuse that exchange."""
    from spatialflink_spark.operators.knn import knn_merge
    from spatialflink_spark.session import local_table

    cut = local_table(
        spark,
        [
            (0, "q", 2, 7, 3, 0),
            (0, "q", 2, 7, 1, 1),
            (0, "q", 2, 8, 2, 0),
            (0, "q", 2, 9, 1, 0),
        ],
        "ws bigint, q_id string, k int, doc_id bigint, dist int, seq_no int",
    )
    df = knn_merge(cut)
    assert plans.exchange_count(df) == 1, plans.simple_plan(df)
    # doc 7 keeps its min (dist, seq_no); ties break on doc_id
    assert [tuple(r) for r in df.orderBy("rank").collect()] == [
        (0, "q", 1, 7, 1, 1),
        (0, "q", 2, 9, 0, 1),
    ]


def test_finalize_knn_ranks_without_dedup(spark):
    """The streaming kNN's per-micro-batch merge gets one row per (ws,
    q_id, doc_id) from the stream aggregation, so it is the rank and cut
    alone (knn.knn_rank_cut): no per-doc SortAggregate, one exchange."""
    from spatialflink_spark.session import local_table
    from spatialflink_spark.streaming.pipeline import finalize_knn

    batch = local_table(
        spark,
        [
            (0, "q", 2, 7, 1, 1),
            (0, "q", 2, 8, 2, 0),
            (0, "q", 2, 9, 1, 0),
            (60, "q", 2, 7, 5, 3),
        ],
        "ws bigint, q_id string, k int, doc_id bigint, dist int, seq_no int",
    )
    df = finalize_knn(batch)
    plan = plans.simple_plan(df)
    assert "SortAggregate" not in plan and "HashAggregate" not in plan, plan
    assert plans.exchange_count(df) == 1, plan
    assert [tuple(r) for r in df.orderBy("ws", "rank").collect()] == [
        (0, "q", 1, 7, 1, 1),
        (0, "q", 2, 9, 0, 1),
        (60, "q", 1, 7, 3, 5),
    ]


# every geometry operator gate.py calls, by plan family; each family shares
# one plan skeleton with its reference operator (the first of its tuple)
GEOMETRY_FAMILIES = {
    "range": (
        "linestring_range", "multiinterval_range", "geomcollection_range",
    ),
    "knn": (
        "knn_sliding", "interval_knn", "linestring_knn", "multiinterval_knn",
        "geomcollection_knn",
    ),
    "join": (
        "join_self_tumbling", "interval_containment_join",
        "interval_interval_join", "point_linestring_join",
        "interval_linestring_join", "multiinterval_join", "geomcollection_join",
    ),
    "count": ("interval_range_count",),
}
GEOMETRY_OPS = [
    (family, name)
    for family, names in GEOMETRY_FAMILIES.items()
    for name in names
    if name not in ("knn_sliding", "join_self_tumbling")
]


def _above_join(skeleton: str) -> list[str]:
    """Skeleton lines from the root down to (not including) the first join."""
    lines = skeleton.splitlines()
    return lines[: next(i for i, line in enumerate(lines) if "Join" in line)]


@pytest.mark.parametrize(
    "family,name", GEOMETRY_OPS, ids=[name for _, name in GEOMETRY_OPS]
)
def test_geometry_operator_plan(spark, family, name):
    """Every geometry operator comes from one of three builders
    (operators/geometry.py), so each family plans one shape:

    - no operator falls back to a cartesian or nested-loop join; the
      replicated sides always meet in a (ws, cell) equi-join
    - ranges and kNNs join the tiny (query, cell) table by BROADCAST, so the
      data stream never shuffles for the filter stage
    - the ranges share one skeleton
    - every kNN, knn_sliding included, shares one skeleton above its
      candidate join (two_stage_topk + knn_merge), with exactly the two
      hash exchanges of the two stages
    - every latest-per-pair join shares join_self_tumbling's skeleton above
      the join
    """
    df = getattr(gate, f"q_{name}")(spark, SF_SMALL)
    s = plans.simple_plan(df)
    assert "CartesianProduct" not in s, s
    assert "BroadcastNestedLoopJoin" not in s, s
    if family == "count":
        return
    if family in ("range", "knn"):
        assert plans.has_broadcast_join(df), s
    ref = GEOMETRY_FAMILIES[family][0]
    skel = plans.plan_skeleton(df)
    ref_skel = plans.plan_skeleton(getattr(gate, f"q_{ref}")(spark, SF_SMALL))
    if family == "range":
        assert skel == ref_skel, (skel, ref_skel)
        return
    above = _above_join(skel)
    assert above == _above_join(ref_skel), (skel, ref_skel)
    if family == "knn":
        assert [line.strip() for line in above].count("+- Exchange") == 2, skel
        assert s.count("Exchange hashpartitioning") >= 2, s


# every graded similarity operator (gate.q_<name>) plus the two index
# builders, with the plan properties each must keep:
# - topk:   single-query cut via TakeOrderedAndProject
# - batch:  per-query two-stage cut, every window partitioned by q_id
# - assign: inverted-file assignment through similarity._km_assign
# - probe:  single-query candidate probe, corpus norm only above the join
# - spread: the single-file corpus scan is spread over the cores
#           (RoundRobinPartitioning) before the candidate work
SIMILARITY_OPS = {
    "cosine_topk": ("topk",),
    "cosine_topk_ivf": ("topk", "probe", "spread"),
    "cosine_topk_ivf_multiprobe": ("topk", "probe", "spread"),
    "cosine_topk_ivf_kmeans": ("topk", "probe", "assign"),
    "pq_topk_adc": ("topk",),
    "cosine_topk_batch": ("batch",),
    "cosine_topk_batch_ann": ("batch",),
    "cosine_topk_batch_kmeans": ("batch", "assign"),
    "pq_topk_batch": ("batch",),
    "l2_topk_batch": ("batch",),
    "ann_recall": ("batch",),
    "pq_batch_recall": ("batch",),
    "kmeans_purity": ("assign",),
    "semantic_dedup": ("assign",),
    "prototypicality": ("assign",),
    "cluster_quality_profile": ("assign",),
    "build_ivf_index": ("assign",),
    "build_ivfpq_index": ("assign",),
    "embedding_dup_pairs": (),
    "embedding_dup_pairs_blocked": (),
}


def _probe_join_sides(plan: str) -> tuple[list[str], list[str]]:
    """Node details of a formatted plan split at its topmost join: (the
    nodes above the join, the nodes of its streamed (left) side)."""
    tree, details = plan.split("\n\n", 1)
    nodes = dict(re.findall(r"^\((\d+)\) (.*?)(?=^\(\d+\) |\Z)", details, re.M | re.S))
    lines = tree.splitlines()
    j = next(i for i, line in enumerate(lines) if "Join" in line)
    col = lines[j].index("+- ") + 3

    def node(line: str) -> str:
        return nodes[re.search(r"\((\d+)\)$", line).group(1)]

    above = [node(line) for line in lines[1:j]]
    left = [node(line) for line in lines[j + 1 :] if line[col : col + 1] == ":"]
    return above, left


@pytest.mark.parametrize("name", list(SIMILARITY_OPS))
def test_similarity_operator_plan(spark, monkeypatch, name):
    """Every similarity operator is a candidate step plus an exact
    verify-and-cut from the shared builders in operators/similarity.py:

    - no operator except the all-pairs baseline falls back to a cartesian
      product; none plans a sort-merge join
    - single-query rankers cut via TakeOrderedAndProject — round 3 ranked
      with an un-partitioned row_number() window, a single-task sort of
      every scored row at scale; the only allowed single-partition stage
      is the residual rank window over the k-row result
    - both stages of the batch top-k partition their windows (by (q_id,
      bucket) then q_id) — no window may run global
    - every k-means assignment is the shuffle-free broadcast argmin of
      _km_assign: the packed centroid row is broadcast, never a cartesian
      product or a sort-merge join
    - the single-query probes compute the corpus norm only for probed
      candidates: no sqrt(aggregate(...)) on the streamed side of the
      probe join, and the cosine above it
    - the sign-bucket probes spread the corpus scan (session.spread), so a
      single-file embeddings table does not bucket and score in one task
    """
    from pyspark.sql.readwriter import DataFrameWriter

    from spatialflink_spark.operators import similarity as sim

    props = SIMILARITY_OPS[name]
    # fit the gate's session-cached centroids first, so that only the
    # operator's own assignments are recorded below
    gate._km_centroids_cached(spark, SF_SMALL)
    assigned = []
    km_assign = sim._km_assign

    def recording_km_assign(*args, **kwargs):
        assigned.append(km_assign(*args, **kwargs))
        return assigned[-1]

    monkeypatch.setattr(sim, "_km_assign", recording_km_assign)
    if name.startswith("build_"):
        monkeypatch.setattr(DataFrameWriter, "parquet", lambda self, *a, **kw: None)
        emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        getattr(sim, name)(emb, "unused")
    else:
        df = getattr(gate, f"q_{name}")(spark, SF_SMALL)
        s = plans.simple_plan(df)
        if name != "embedding_dup_pairs":
            assert "CartesianProduct" not in s, s
        assert "SortMergeJoin" not in s, s
    if "topk" in props:
        assert plans.has_bounded_topk(df), s
        assert s.count("Exchange SinglePartition") <= 1, s
    if "batch" in props:
        specs = plans.window_specs(df)
        assert specs, "expected Window nodes in the batch top-k plan"
        assert all("q_id" in spec for spec in specs), specs
    if "assign" in props:
        assert assigned, f"{name} does not assign through _km_assign"
        for a in assigned:
            p = plans.simple_plan(a)
            assert "BroadcastNestedLoopJoin" in p and "BroadcastExchange" in p, p
            assert "CartesianProduct" not in p, p
            assert "SortMergeJoin" not in p, p
    if "spread" in props:
        assert "RoundRobinPartitioning" in s, s
    if "probe" in props:
        above, left = _probe_join_sides(plans.formatted_plan(df))
        assert not any("SQRT(aggregate(" in n for n in left), left
        assert any("SQRT(aggregate(" in n for n in above), above


STREAM_GATES = [
    "stream_range_e2e",
    "stream_decon_e2e",
    "stream_mix_e2e",
    "stream_knn_e2e",
    "stream_neardup_e2e",
    "stream_chunk_e2e",
    "stream_vocab_e2e",
    "stream_tmix_e2e",
]
SPREAD_GATES = {"stream_decon_e2e", "stream_neardup_e2e", "stream_vocab_e2e"}


@pytest.mark.parametrize("name", STREAM_GATES)
def test_stream_gate_spreads_per_row_work(spark, monkeypatch, name):
    """A replay slice is one file, so a micro-batch is one task unless the
    gate round-robins it (pipeline.spread_stream). The three gates with
    compute-heavy per-row work (the decon probe intersect, the wide
    SimHash, the token explode) must; the others must not pay the extra
    exchange. Dropping the spread changes no answer, so parity cannot see
    it: the plan of the frame handed to run_available_now is checked."""
    from spatialflink_spark.streaming import pipeline

    frames = []
    real = pipeline.run_available_now

    def capture(result, *args, **kwargs):
        frames.append(result)
        return real(result, *args, **kwargs)

    monkeypatch.setattr(pipeline, "run_available_now", capture)
    getattr(gate, f"q_{name}")(spark, SF_SMALL)
    assert len(frames) == 1
    s = plans.simple_plan(frames[0])
    assert ("RoundRobinPartitioning" in s) == (name in SPREAD_GATES), s
