"""Gate queries — the Spark side of every (queries, oracle_sql) pair.

Each builder takes (spark, sf_dir) and returns a DataFrame whose column
names, types and values match the DuckDB oracle in oracle/sql.py exactly
(the driver compares row-count + schema + order-insensitive value hash with
columns sorted by name).

These are also the engine's headline queries for bench.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spatialflink_spark.config import (
    DEFAULT_CONFIG as C,
    DEFAULT_QUERY_POINTS,
)
from spatialflink_spark.functions import tokens as T
from spatialflink_spark.functions.windows import (
    tumbling_start,
    with_session_windows,
    with_sliding_windows,
)
from spatialflink_spark.operators import aggregate as agg_ops
from spatialflink_spark.operators.cells import with_cell
from spatialflink_spark.operators.join import windowed_join
from spatialflink_spark.operators.knn import knn_windowed
from spatialflink_spark.operators.range_query import range_query
from spatialflink_spark.operators.stats import running_stats
from spatialflink_spark.sources.sequences import sequences_cached


def _seq_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sequences_cached(spark, sf_dir).withColumn(
        "ws", tumbling_start("ts_s", C.tumbling_s)
    )


def _seq_s(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_sliding_windows(
        sequences_cached(spark, sf_dir), "ts_s", C.sliding_size_s, C.sliding_slide_s
    )


def q_range_tumbling_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship — MN_Q1 analog (sncb/mobility/MN_Q1.java:36-84): windowed
    range query -> tumbling per-(window, query) count."""
    matched = range_query(_seq_t(spark, sf_dir), C.grid, DEFAULT_QUERY_POINTS)
    return (
        matched.groupBy("ws", "q_id")
        .agg(F.count(F.lit(1)).alias("n_matches"))
        .orderBy("ws", "q_id")
    )


def q_range_prefix_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same answer as range_tumbling_count via the per-window prefix-sum
    candidate structure (north-star strategy; probe cost independent of row
    count)."""
    from spatialflink_spark.operators.range_query import range_count_prefix

    return range_count_prefix(_seq_t(spark, sf_dir), C.grid, DEFAULT_QUERY_POINTS)


def q_range_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    matched = range_query(_seq_t(spark, sf_dir), C.grid, DEFAULT_QUERY_POINTS)
    return matched.select(
        "ws",
        "q_id",
        "doc_id",
        "seq_no",
        "n_tok",
        "source",
        "dist",
        F.expr(T.spark_tok_checksum("tokens")).alias("tok_checksum"),
    )


def q_knn_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knn_windowed(_seq_s(spark, sf_dir), C.grid, DEFAULT_QUERY_POINTS)


def q_join_self_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    seq = _seq_t(spark, sf_dir)
    return windowed_join(seq, seq, C.grid, C.join_radius, self_join=True)


def q_variation_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg_ops.variation(_seq_s(spark, sf_dir))


def q_variance_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg_ops.variance_clamped(_seq_s(spark, sf_dir))


def q_trajectory_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg_ops.trajectory(_seq_t(spark, sf_dir))


def q_heatmap_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg_ops.heatmap(with_cell(_seq_s(spark, sf_dir), C.grid))


def q_tstats_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    return running_stats(sequences_cached(spark, sf_dir))


def q_tstats_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TStats WB (window-based): per-(doc, tumbling window) hop stats with
    the in-window OOO guard (tStats/TStatsQuery.java:148-189)."""
    from spatialflink_spark.operators.stats import windowed_stats

    return windowed_stats(_seq_t(spark, sf_dir))


def q_events_sessionize(spark: SparkSession, sf_dir: str, gap_s: int = 1800) -> DataFrame:
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        F.expr("cast(datediff(cast(ts as date), date'1970-01-01') as bigint)*86400 + hour(ts)*3600 + minute(ts)*60 + second(ts)").alias("ts_s"),
        "value",
        "event_id",
    )
    s = with_session_windows(e, ["user_id"], "ts_s", ["ts_s", "event_id"], gap_s)
    return s.groupBy("user_id", F.col("sess_id").cast("bigint").alias("sess_id")).agg(
        F.min("ts_s").alias("sess_start"),
        F.max("ts_s").alias("sess_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.expr("round(sum(value), 6)").alias("sum_value"),
    )


def q_events_sliding_stats(
    spark: SparkSession, sf_dir: str, size_s: int = 3600, slide_s: int = 900
) -> DataFrame:
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        F.expr("cast(datediff(cast(ts as date), date'1970-01-01') as bigint)*86400 + hour(ts)*3600 + minute(ts)*60 + second(ts)").alias("ts_s"),
        "value",
    )
    ew = with_sliding_windows(e, "ts_s", size_s, slide_s)
    return ew.groupBy("event_type", "ws").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr("round(avg(value), 6)").alias("avg_value"),
        F.expr("round(sum(value), 6)").alias("sum_value"),
    )


# ---- training-data pipeline ops (documents / embeddings) -------------------

from spatialflink_spark.operators import dedup as dedup_ops  # noqa: E402
from spatialflink_spark.operators import multimodal as mm_ops  # noqa: E402
from spatialflink_spark.operators import similarity as sim_ops  # noqa: E402
from spatialflink_spark.operators import text as text_ops  # noqa: E402


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (dedup.decontaminate): training docs
    sharing >= 3 distinct 3-gram shingles with the deterministic probe
    slice (doc_id % 13 = 0 standing in for an eval set). Broadcast probe
    shingle set, one count shuffle. Output: doc_id, n_shared_shingles."""
    return dedup_ops.decontaminate(_docs(spark, sf_dir))


BLOOM_GATE_OVERLAP = 10  # sparse at the graded scale (12/461 sf0.01 docs)


def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination (dedup.decontaminate_bloom):
    broadcast Bloom bitset scores every doc in pure per-row codegen (no
    false negatives), only bloom-candidates pay the exact explode + probe
    join — answer-identical to exact decontamination at the same threshold
    and graded against the SAME golden (decontaminate(min_overlap=10)).
    Gated ABOVE the production threshold (3) because the synthetic
    corpus's shared word vocabulary makes >= 3-shingle overlap
    near-universal (an artifact of the fixture, not of real benchmark
    contamination, which is rare) — a prefilter only has work to do where
    candidates are sparse (~2.6% of sf0.01 docs at 10), which is the
    regime the production op runs in. Overlap density grows with probe
    size on this fixture, so BENCH.md calibrates the spot-check threshold
    per scale.
    Output: doc_id, n_shared_shingles."""
    return dedup_ops.decontaminate_bloom(
        _docs(spark, sf_dir), min_overlap=BLOOM_GATE_OVERLAP
    )


def q_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source mixing (operators/mixing.py): integer basis-point quota rates
    from target weights + observed token mass, deterministic LCG-hash doc
    sampling, all in-plan (rate table broadcast, no driver collect).
    Output: source, rate_bp, n_kept, tok_kept."""
    from spatialflink_spark.operators.mixing import source_mix_sample

    return source_mix_sample(_docs(spark, sf_dir))


PIPE_DECON_OVERLAP = 10  # the decontaminate_bloom sparse regime


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline — the PRODUCTION composition the
    individual gates grade in isolation: per-row QUALITY FILTER (the
    composed C4/Gopher verdict — drop before paying any shuffle on junk)
    -> exact dedup (keep canonical) -> wide-fingerprint NEAR-dup dedup
    (60-bit SimHash banded pairs -> connected components -> keep the
    component representative — exactly the dedup_components_wide chain)
    -> benchmark decontamination (drop eval docs and >= 3-shingle
    overlaps) -> source mixing (quota-sample the survivors). Grades that
    stage OUTPUTS feed stage INPUTS correctly (dedup hashes only
    quality-surviving docs, near-dup pairs are mined over the
    post-exact-dedup corpus, rates over the post-filter corpus — not the
    raw table). Reference analog: chained query stages,
    MobilityRunner.java:36-67.
    Output: source, rate_bp, n_kept, tok_kept."""
    from spatialflink_spark.operators.mixing import source_mix_sample
    from spatialflink_spark.session import spread

    # quality stage via with_quality_filter on ONE spread scan, with a
    # materialization BARRIER before the keep-filter: .where() on a
    # derived column pushes the predicate below the staged selects and
    # re-inlines the whole composed quality expression into the filter
    # (measured 29s vs 2.2s at sf0.1 — the lambda-CSE trap wearing a
    # filter-pushdown hat)
    d = (
        text_ops.with_quality_filter(
            spread(_docs(spark, sf_dir)).select("doc_id", "text", "source")
        )
        .localCheckpoint(eager=False)
        .where("keep = 1")
        .select("doc_id", "text", "source")
    )
    canon = (
        dedup_ops.exact_dedup(d).where("dup_rank = 1").select("doc_id")
    )
    # surv / surv2 / train each feed multiple downstream stages; without a
    # materialization point every consumer re-tokenizes the corpus (the
    # unshared plan re-derived documents ~6x, 15s -> ~5s at sf0.1). A real
    # pipeline materializes each stage's survivors to a table; the lazy
    # localCheckpoint is the in-session equivalent (computed once at first
    # use, then read back by the other branches).
    surv = d.join(canon, "doc_id").localCheckpoint(eager=False)
    # star rounds, NOT plain propagation: the sf1 probe measured a
    # diameter-32 near-dup chain at 50k docs, which overruns any fixed
    # propagation round cap — chain length grows with the corpus, so the
    # production composition uses the O(log^2 n)-round star form
    # (answer-identical; BENCH.md round-5 scale-defect section)
    near_drop = (
        dedup_ops.dedup_components_star(dedup_ops.simhash_wide_dup_pairs(surv))
        .where("doc_id <> component")
        .select("doc_id")
    )
    surv2 = surv.join(near_drop, "doc_id", "left_anti").localCheckpoint(
        eager=False
    )
    # decon at the SPARSE-candidate threshold: the fixture's 1/13 probe
    # slice makes >= 3-shingle overlap near-universal (88% of sf0.1 docs
    # — see decontaminate_bloom), which would empty the composed corpus;
    # 10 is the regime real benchmark decon operates in here
    contaminated = dedup_ops.decontaminate(
        surv2, min_overlap=PIPE_DECON_OVERLAP
    ).select("doc_id")
    train = (
        surv2.where(~F.expr("doc_id % 13 = 0"))
        .join(contaminated, "doc_id", "left_anti")
        .localCheckpoint(eager=False)
    )
    return source_mix_sample(train)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_ops.exact_dedup(_docs(spark, sf_dir))


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_ops.minhash_lsh_pairs(_docs(spark, sf_dir))


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over MinHash near-dup pairs (iterative min-label
    propagation; the keep/drop decision step)."""
    return dedup_ops.dedup_components(
        dedup_ops.minhash_lsh_pairs(_docs(spark, sf_dir))
    )


def q_dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-bounded components: alternating large-star/small-star rounds
    (answer-identical to dedup_components — same golden)."""
    return dedup_ops.dedup_components_star(
        dedup_ops.minhash_lsh_pairs(_docs(spark, sf_dir))
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_ops.simhash(_docs(spark, sf_dir))


def q_simhash_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked SimHash near-dup pairs (banded equi-join + exact Hamming)."""
    return dedup_ops.simhash_dup_pairs(_docs(spark, sf_dir))


def q_simhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit production-width SimHash (dedup.simhash_wide): seeded
    xorshift-multiply bit features (dedup.wide_hash_chain — NOT a plain
    LCG, whose low bits are affine); the fingerprint width at which
    random-pair collision density stays negligible at corpus scale (the
    16-bit form saturates — BENCH.md sf1 row)."""
    return dedup_ops.simhash_wide(_docs(spark, sf_dir))


def q_simhash_wide_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked near-dup pairs over the wide fingerprint (4 bands x 15 bits,
    Hamming <= 3 pigeonhole-exact)."""
    return dedup_ops.simhash_wide_dup_pairs(_docs(spark, sf_dir))


def q_dedup_components_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION over the wide fingerprint: wide SimHash pairs ->
    connected components -> (doc_id, component) keep/drop labels — the
    production near-dup pipeline end to end (candidate generation at a
    collision-safe width feeding the STAR component kernel: the sf1 probe
    found a diameter-32 chain at 50k docs that overruns plain propagation's
    round cap — chain diameter grows with the corpus, so the production
    form is the O(log^2 n)-round star variant; answer-identical). Oracle =
    recursive-CTE transitive closure over the same pairs."""
    pairs = dedup_ops.simhash_wide_dup_pairs(_docs(spark, sf_dir))
    return dedup_ops.dedup_components_star(pairs)


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_ops.ngram_jaccard_pairs(_docs(spark, sf_dir))


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim_ops.cosine_topk(_emb(spark, sf_dir))


def q_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim_ops.cosine_topk_ivf(_emb(spark, sf_dir))


def _km_centroids_cached(spark: SparkSession, sf_dir: str):
    """Session-cached learned k-means centroids at the gate's default
    (n_centroids, iters) — the _stream_static posture: a production
    retrieval/curation job loads STORED centroids (build_ivf_index writes
    exactly this table), it does not refit per query. Deterministic, so
    caching cannot change any answer."""
    return _stream_static(
        spark,
        sf_dir,
        "km_centroids",
        lambda: sim_ops.kmeans_centroids(_emb(spark, sf_dir)).localCheckpoint(),
    )


def _pq_codebooks_cached(spark: SparkSession, sf_dir: str):
    """Session-cached PQ codebooks at the gate's default (m, n_cent,
    iters) — same posture (build_ivfpq_index persists this exact table)."""
    return _stream_static(
        spark,
        sf_dir,
        "pq_codebooks",
        lambda: sim_ops.pq_codebooks(_emb(spark, sf_dir)).localCheckpoint(),
    )


def q_cosine_topk_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned-centroid IVF ANN (similarity.cosine_topk_ivf_kmeans):
    deterministic quantized-integer Lloyd iterations build the inverted
    file; the query probes its n_probe nearest centroids; exact cosine
    re-rank within probed clusters. Oracle unrolls the same iterations."""
    return sim_ops.cosine_topk_ivf_kmeans(
        _emb(spark, sf_dir), centroids=_km_centroids_cached(spark, sf_dir)
    )


def q_cosine_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-TABLE exact batch top-k (similarity.cosine_topk_batch): top-k
    per query over a query set — the reference's multi-query kNN semantics
    (KNNQuery.java:49 takes a query set) on embeddings. Two-stage per-(query,
    sign-bucket) cut, graded against a DIRECT per-query rank oracle.
    Output: q_id, rank, vec_id, label, cos_sim."""
    return sim_ops.cosine_topk_batch(_emb(spark, sf_dir))


def q_cosine_topk_batch_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH batch ANN (similarity.cosine_topk_batch_ann):
    bucket equi-join of query table x corpus, same two-stage cut; recall
    measured vs the exact batch op in tests."""
    return sim_ops.cosine_topk_batch_ann(_emb(spark, sf_dir))


def q_cosine_topk_batch_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch retrieval over the learned k-means IVF
    (similarity.cosine_topk_batch_kmeans): per-query nearest-centroid
    probing + centroid equi-join + two-stage per-query cut."""
    return sim_ops.cosine_topk_batch_kmeans(
        _emb(spark, sf_dir), centroids=_km_centroids_cached(spark, sf_dir)
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.lang_id(_docs(spark, sf_dir))


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.quality_score(_docs(spark, sf_dir))


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.token_counts(_docs(spark, sf_dir))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.fingerprint(_docs(spark, sf_dir))


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mm_ops.media_features(_docs(spark, sf_dir))


# ---- SNCB-analog app queries (operators/apps.py) ---------------------------

from spatialflink_spark.operators import apps as app_ops  # noqa: E402


def q_range_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    return app_ops.range_approximate(
        _seq_t(spark, sf_dir), C.grid, DEFAULT_QUERY_POINTS
    )


def q_trajectory_restricted(spark: SparkSession, sf_dir: str) -> DataFrame:
    return app_ops.trajectory_restricted(_seq_t(spark, sf_dir))


def q_fence_speed_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    return app_ops.fence_speed_alert(_seq_s(spark, sf_dir), C.grid)


def q_exclude_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    return app_ops.exclude_cells(sequences_cached(spark, sf_dir), C.grid)


def q_include_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    return app_ops.include_cells(sequences_cached(spark, sf_dir), C.grid)


def q_checkin_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CheckIn missing-value insertion (apps/CheckIn.java:251-318)."""
    return app_ops.checkin_fill(sequences_cached(spark, sf_dir))


def q_checkin_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CheckIn occupancy over the gap-filled stream (CheckIn.java:320-345)."""
    return app_ops.checkin_occupancy(sequences_cached(spark, sf_dir))


def q_staytime_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    return app_ops.staytime_cells(_seq_t(spark, sf_dir), C.grid)


def q_staytime_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """normalizedCellStayTime — join of two per-(cell, window) agg streams
    (StayTime.java:113-202)."""
    return app_ops.staytime_normalized(_seq_t(spark, sf_dir), C.grid)


def q_tknn_trajectories(spark: SparkSession, sf_dir: str) -> DataFrame:
    return app_ops.tknn_trajectories(
        _seq_s(spark, sf_dir), C.grid, DEFAULT_QUERY_POINTS
    )


def q_trange_trajectories(spark: SparkSession, sf_dir: str) -> DataFrame:
    return app_ops.trange_trajectories(_seq_t(spark, sf_dir), C.grid)


def q_join_two_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    left = _seq_t(spark, sf_dir)
    right = left.where(F.expr("doc_id % 10 = 0"))
    return windowed_join(left, right, C.grid, radius=3, self_join=False)


# ---- format deserialization + salted skew path ------------------------------

from spatialflink_spark.sources.formats import json_field  # noqa: E402


def q_variation_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same output as variation_sliding, computed through the explicit
    salted two-phase path (skew-bounded)."""
    return agg_ops.variation_salted(_seq_s(spark, sf_dir), C.salt_buckets)


def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON column parse (Deserialization.java analog):
    extract props.k, aggregate per event_type."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    # try_cast: props is untrusted input — plain .cast throws under ANSI mode
    # on any non-numeric props.k (repo invariant; oracle mirrors TRY_CAST)
    return e.select(
        "event_type", json_field("props", "k").try_cast("bigint").alias("k")
    ).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").alias("sum_k"),
        F.max("k").alias("max_k"),
    )


from spatialflink_spark.streaming import pipeline as stream_ops  # noqa: E402

_REPLAY_SLICES = 2

_STREAM_STATIC_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _stream_static(spark: SparkSession, sf_dir: str, key: str, build):
    """Session-cached static side inputs for the streaming gates (decon
    probe set, mix rate table): deterministic artifacts of the input table,
    staged once per (session, sf_dir) exactly like the replay files — a
    production streaming job loads these from a precomputed table, it does
    not re-derive them per run. The streaming run itself is never cached
    (fresh checkpoint + sink every call)."""
    app_id = spark.sparkContext.applicationId
    k = (app_id, sf_dir, key)
    df = _STREAM_STATIC_CACHE.get(k)
    if df is None:
        # evict entries of other (stopped) sessions before inserting —
        # sessions here are one-at-a-time, and a dead session's entries
        # would otherwise pin its checkpointed blocks/plans forever
        for stale in [kk for kk in _STREAM_STATIC_CACHE if kk[0] != app_id]:
            del _STREAM_STATIC_CACHE[stale]
        df = build()
        _STREAM_STATIC_CACHE[k] = df
    return df


def _stream_gate(
    spark: SparkSession,
    sf_dir: str,
    key_cols: tuple[str, ...],
    build,
    *,
    pre_watermark_filter: str | None = None,
    finalize=None,
    output_mode: str = "append",
) -> ExactlyOnceSink:
    """The REAL Structured Streaming path inside the correctness gate, shared
    by every stream_*_e2e query: stage the sequence table as an event-time-
    sliced replay, read it watermarked, drain `build(stream)` through
    availableNow into a fresh exactly-once sink keyed on `key_cols`, and
    return the sink for the gate to read (read_committed, or read_merged
    for a keyed changelog). `pre_watermark_filter` is applied structurally
    below the watermark (read_sequences_stream); `finalize`, when given,
    maps each micro-batch before the sink writes it.

    The replay is staged once per (session, sf_dir) as _REPLAY_SLICES
    slices, and one availableNow trigger drains them all — the file
    source's own availableNow behavior when maxFilesPerTrigger doesn't cap
    it — which cannot change output: slices are event-time-ordered
    (stage_replay_files cuts at ts quantiles), so no row is ever late
    relative to an earlier slice's watermark, and the final watermark —
    hence the set of closed windows — is identical (verified: byte-identical
    committed output at mft 1 vs 2; ~2x wall saving per gate run).
    Multi-batch watermark advancement and kill/resume stay covered by
    tests/test_streaming.py, which replays with maxFilesPerTrigger=1.

    The state-store partition count is fixed at the first checkpoint
    write; 4 is plenty for the gates' key spaces and cuts per-batch fixed
    cost (a deployment-size knob, not an engine property — a real cluster
    job sizes it to executors*cores). The session's previous value is
    restored on the way out, error or not."""
    import tempfile

    from spatialflink_spark.sources.streams import (
        read_sequences_stream,
        stage_replay_files_cached,
    )
    from spatialflink_spark.streaming.sink import ExactlyOnceSink

    root = tempfile.mkdtemp(prefix="sfs_gate_stream_")
    replay = stage_replay_files_cached(spark, sf_dir, n_batches=_REPLAY_SLICES)
    sink = ExactlyOnceSink(f"{root}/out", key_cols=key_cols)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        stream = read_sequences_stream(
            spark,
            replay,
            C.allowed_lateness_s,
            max_files_per_trigger=_REPLAY_SLICES,
            pre_watermark_filter=pre_watermark_filter,
        )
        stream_ops.run_available_now(
            build(stream),
            lambda df, bid: sink.write_batch(
                df if finalize is None else finalize(df), bid
            ),
            f"{root}/ckpt",
            output_mode=output_mode,
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return sink


def q_stream_range_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermarked tumbling range-count (pipeline.stream_range_count)
    through the stream gate harness, returning the committed output.
    Oracle = batch counts over windows the final watermark closed
    (ws + tumbling <= max_ts - lateness)."""
    return _stream_gate(
        spark,
        sf_dir,
        ("ws", "q_id"),
        lambda s: stream_ops.stream_range_count(s, C, DEFAULT_QUERY_POINTS),
    ).read_committed(spark)


def q_stream_decon_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CURATION ingest as a stream: staged replay -> watermark ->
    streaming decontamination (static broadcast probe, stateless per-row
    filter) -> tumbling per-source survivor counts -> exactly-once sink.
    Oracle = the same filter + counts in batch over watermark-closed
    windows. Output: ws, source, n_kept, tok_kept."""
    # materialize the shingle arrays before the explode (the CLAUDE.md
    # explode-amplification trap), and EAGERLY materialize the tiny distinct
    # probe: a lazy static side of a stream-static join is re-derived every
    # micro-batch, re-paying the whole derivation (measured 21s -> ~4s at
    # sf0.1 for this gate query). Session-cached: the probe is a static
    # artifact of the input table (see _stream_static).
    probe = _stream_static(
        spark,
        sf_dir,
        "decon_probe",
        lambda: (
            sequences_cached(spark, sf_dir)
            .where("doc_id % 13 = 0")
            .select(F.expr(stream_ops.token_shingle_expr()).alias("_sh"))
            .localCheckpoint(eager=False)
            .select(F.explode("_sh").alias("h"))
            .distinct()
            .localCheckpoint()
        ),
    )

    def build(stream):
        spread = stream_ops.spread_stream(stream)
        surv = stream_ops.stream_decontaminate(spread, probe)
        return stream_ops.tumbling_agg(
            surv,
            C,
            ("source",),
            F.count(F.lit(1)).alias("n_kept"),
            F.sum(F.col("n_tok").cast("bigint")).alias("tok_kept"),
        )

    # the probe filter goes BELOW the watermark structurally (not via
    # pushdown) — the oracle's watermark basis is max ts over non-probe
    # rows only, so this must hold by plan construction
    return _stream_gate(
        spark, sf_dir, ("ws", "source"), build, pre_watermark_filter="doc_id % 13 <> 0"
    ).read_committed(spark)


def _stream_mix_gate(spark: SparkSession, sf_dir: str, cache_key: str, snapshot):
    """Streaming source mixing under the rate kernel `snapshot` (a
    mixing.*_rates_snapshot over the static table): staged replay ->
    watermark -> rate broadcast + LCG keep-filter (stateless,
    pipeline.stream_source_mix, which is rate-table-agnostic) -> tumbling
    per-(source, rate) survivor counts -> exactly-once sink.
    Output: ws, source, rate_bp, n_kept, tok_kept."""
    # eager checkpoint: a lazy static side of a stream-static join re-derives
    # the whole snapshot aggregation every micro-batch (same trap as the
    # decon probe); the rate table is one row per source. Session-cached
    # static artifact (see _stream_static).
    rates = _stream_static(
        spark,
        sf_dir,
        cache_key,
        lambda: snapshot(sequences_cached(spark, sf_dir)).localCheckpoint(),
    )
    return _stream_gate(
        spark,
        sf_dir,
        ("ws", "source"),
        lambda s: stream_ops.tumbling_agg(
            stream_ops.stream_source_mix(s, rates),
            C,
            ("source", "rate_bp"),
            F.count(F.lit(1)).alias("n_kept"),
            F.sum(F.col("n_tok").cast("bigint")).alias("tok_kept"),
        ),
    ).read_committed(spark)


def q_stream_mix_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SOURCE MIXING, completing the streaming curation family
    (dedup, decon, mix): quota rates from a static snapshot of the same
    table (mixing.mix_rates_snapshot) through _stream_mix_gate. Oracle =
    identical integer arithmetic in batch over watermark-closed windows.
    Output: ws, source, rate_bp, n_kept, tok_kept."""
    from spatialflink_spark.operators.mixing import mix_rates_snapshot

    return _stream_mix_gate(spark, sf_dir, "mix_rates", mix_rates_snapshot)


def q_count_windows_tumbling(spark: SparkSession, sf_dir: str, size: int = 4) -> DataFrame:
    """TAggregate WB COUNT semantics, batch-graded (countWindow(size),
    TAggregateQuery.java:381-494 / PointTAggregateQuery.java:83-89): per-key
    tumbling COUNT windows — window id = floor(arrival_rank / size) with the
    deterministic (ts_s, seq_no) arrival order. The streaming stateful form
    (stateful.count_windows) is equality-tested against this same math; this
    gate query grades the window-id/aggregate semantics against DuckDB.
    Output: doc_id, win_id, n_rows, sum_n_tok, min_n_tok, max_n_tok."""
    seq = sequences_cached(spark, sf_dir)
    ranked = seq.select(
        "doc_id",
        "n_tok",
        F.expr(
            "cast(floor((row_number() OVER (PARTITION BY doc_id ORDER BY ts_s, seq_no) - 1) "
            f"/ {size}) as int)"
        ).alias("win_id"),
    )
    return ranked.groupBy("doc_id", "win_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("n_tok").cast("bigint")).alias("sum_n_tok"),
        F.min("n_tok").alias("min_n_tok"),
        F.max("n_tok").alias("max_n_tok"),
    )


def q_serde_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grades the output-serialization surface (Serialization.*OutputSchema
    x12 -> sources/formats.serialize_json/parse_typed_json_lines): every
    sequence row is serialized to a JSON line and parsed back; the oracle
    computes the same checksums directly, so any lossy field (arrays
    included) hash-mismatches."""
    from spatialflink_spark.sources.formats import (
        parse_typed_json_lines,
        serialize_json,
    )

    seq = sequences_cached(spark, sf_dir)
    schema = (
        "doc_id bigint, seq_no int, tokens array<int>, n_tok int, "
        "source string, ts_s bigint"
    )
    back = parse_typed_json_lines(serialize_json(seq), schema)
    return back.select(
        "doc_id",
        "seq_no",
        "n_tok",
        "source",
        "ts_s",
        F.expr(T.spark_tok_checksum("tokens")).alias("tok_checksum"),
    )


def q_csv_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grades the CSV deserialization surface (Deserialization.java:118-325 /
    CSVToGpsEventMapFunction analog): documents serialized to positional CSV
    lines (text LAST so embedded commas survive the limit-4 split), two
    malformed lines injected, parsed back with parse_csv_lines. The oracle
    reads the table directly — if the parser leaked a malformed row or
    mangled a field, counts/values mismatch."""
    from spatialflink_spark.session import local_table
    from spatialflink_spark.sources.formats import parse_csv_lines

    docs = _docs(spark, sf_dir)
    # the positional limit-4 split is only safe while `source` contains no
    # commas and `text` is non-null (concat_ws silently drops a null text,
    # shifting nothing but producing a 3-field line) — fail LOUDLY if a
    # future fixture violates the format contract instead of silently
    # hash-mismatching the oracle
    guarded_source = (
        "CASE WHEN source LIKE '%,%' OR text IS NULL THEN "
        "raise_error('csv_ingest: source must be comma-free and text non-null "
        "for the positional CSV layout (SEQ_CSV_COLUMNS)') ELSE source END"
    )
    lines = docs.select(
        F.expr(
            "concat_ws(',', cast(1700000000 + doc_id % 1000 as string), "
            f"cast(doc_id as string), {guarded_source}, text)"
        ).alias("value")
    )
    bad = local_table(
        spark, [("garbage",), ("not_a_ts,not_an_id,src,text",)], "value string"
    )
    parsed = parse_csv_lines(lines.unionByName(bad))
    return parsed.select(
        "doc_id",
        "ts_s",
        "source",
        F.length("text").alias("n_chars"),
    )


def q_binfmt_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grades the binary record input format (ShapeFileInputFormat.java:20-100
    analog — sources/binfmt.py .tsf shards): the sequence relation serialized
    to binary shards executor-side, two corrupt files injected (bad magic;
    structurally valid header truncated inside record 1), parsed back with
    one task per shard. Oracle computes the same checksums directly from the
    sequence derivation — a lost/dropped/retyped field, a leaked corrupt
    record, or a swallowed valid shard all hash-mismatch."""
    import tempfile

    from spatialflink_spark.sources.binfmt import (
        FILE_HEADER,
        MAGIC,
        VERSION,
        read_token_shards,
        write_token_shards,
    )

    seq = sequences_cached(spark, sf_dir)
    out_dir = tempfile.mkdtemp(prefix="sfs_binfmt_")
    write_token_shards(seq, out_dir).collect()  # the manifest action writes
    with open(f"{out_dir}/part-badmagic.tsf", "wb") as f:
        f.write(b"JUNK" + bytes(range(64)))
    with open(f"{out_dir}/part-truncated.tsf", "wb") as f:
        f.write(FILE_HEADER.pack(MAGIC, VERSION, 3) + b"\x01\x02")
    back = read_token_shards(spark, out_dir)
    return back.select(
        "doc_id",
        "seq_no",
        "n_tok",
        "source",
        "ts_s",
        F.expr(T.spark_tok_checksum("tokens")).alias("tok_checksum"),
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/packing.py): concat-and-cut context-window
    assignment over the curated sequence stream — the standard post-curation
    pretraining op (no reference analog; part of the training-data operator
    family). Graded on per-bin stats: window cumsum + groupBy, all codegen.
    Output: source, bin_id, n_seqs, tok_sum."""
    from spatialflink_spark.operators.packing import pack_stats

    return pack_stats(sequences_cached(spark, sf_dir))


def q_token_freq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token heavy hitters (operators/corpus.token_freq_topk):
    explode -> vocab-bounded groupBy -> TakeOrderedAndProject cut.
    Output: rank, token, n_occurrences, n_docs."""
    from spatialflink_spark.operators.corpus import token_freq_topk

    return token_freq_topk(sequences_cached(spark, sf_dir))


def q_source_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source length quantiles (operators/corpus
    .source_length_quantiles) over the count distribution — no per-row
    sort. Output: source, n_rows, p50, p90, p99."""
    from spatialflink_spark.operators.corpus import source_length_quantiles

    return source_length_quantiles(sequences_cached(spark, sf_dir))


def q_pack_bins_emit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed-bin EMISSION (operators/packing.pack_emit): the packed corpus
    itself, not stats about the assignment — per-bin token payloads graded
    via position-weighted checksums, boundary-straddling splits included.
    Output: source, bin_id, n_parts, n_tok_bin, tok_checksum."""
    from spatialflink_spark.operators.packing import pack_emit

    return pack_emit(sequences_cached(spark, sf_dir))


def q_stream_knn_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling kNN as a stream: a built-in append-mode
    aggregation keeps each candidate doc's min (dist, seq_no) per (window,
    query) in the state store (pipeline.stream_knn_topk, no Python worker),
    batch-side final rank and cut at k per emitted micro-batch
    (pipeline.finalize_knn), through the exactly-once sink. Oracle = batch
    kNN over windows the final watermark closed."""
    return _stream_gate(
        spark,
        sf_dir,
        ("ws", "q_id", "rank"),
        lambda s: stream_ops.stream_knn_topk(s, C, DEFAULT_QUERY_POINTS),
        finalize=stream_ops.finalize_knn,
    ).read_committed(spark)


# ---- interval (polygon-analog) type combos ----------------------------------

from spatialflink_spark.operators import intervals as iv_ops  # noqa: E402


def q_interval_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return iv_ops.interval_containment_join(_seq_t(spark, sf_dir), C.grid)


def q_interval_range_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return iv_ops.interval_range_count(_seq_t(spark, sf_dir), q_n_tok=48)


def q_interval_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon-Polygon windowed join type combo over the interval stream."""
    return iv_ops.interval_interval_join(_seq_t(spark, sf_dir), C.grid, C.join_radius)


def q_interval_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-Polygon kNN type combo over the interval stream."""
    return iv_ops.interval_knn(_seq_t(spark, sf_dir), C.grid, DEFAULT_QUERY_POINTS)


# ---- multi-interval (multi-geometry) type combos -----------------------------

from spatialflink_spark.operators import multiintervals as mi_ops  # noqa: E402


def q_multiinterval_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-query range over the multi-interval (multi-geometry) stream."""
    return mi_ops.multiinterval_range(
        _seq_t(spark, sf_dir), C.grid, DEFAULT_QUERY_POINTS
    )


def q_multiinterval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed point-multiinterval join (Point-MultiPolygon combo)."""
    return mi_ops.multiinterval_join(_seq_t(spark, sf_dir), C.grid, C.join_radius)


# ---- geometry collection (heterogeneous mixed-type parts) --------------------

from spatialflink_spark.operators import geomcollection as gc_ops  # noqa: E402


def q_geomcollection_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-query range over the mixed-part collection stream
    (GeometryCollection analog, Deserialization.java:1208-1241): distance =
    min over point/interval/linestring part distances."""
    return gc_ops.geomcollection_range(
        _seq_t(spark, sf_dir), C.grid, DEFAULT_QUERY_POINTS
    )


def q_geomcollection_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed point-collection join over mixed-type parts."""
    return gc_ops.geomcollection_join(_seq_t(spark, sf_dir), C.grid, C.join_radius)


def q_geomcollection_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-collection kNN over mixed-type parts (two-stage top-k)."""
    return gc_ops.geomcollection_knn(
        _seq_t(spark, sf_dir), C.grid, DEFAULT_QUERY_POINTS
    )


def q_multiinterval_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-MultiPolygon kNN combo over the multi-interval stream."""
    return mi_ops.multiinterval_knn(_seq_t(spark, sf_dir), C.grid, DEFAULT_QUERY_POINTS)


# ---- linestring (vertex-set polyline) type combos ---------------------------

from spatialflink_spark.operators import linestrings as ls_ops  # noqa: E402


def q_linestring_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-query range over the LineString (vertex-set) stream."""
    return ls_ops.linestring_range(_seq_t(spark, sf_dir), C.grid, DEFAULT_QUERY_POINTS)


def q_linestring_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-LineString kNN type combo."""
    return ls_ops.linestring_knn(_seq_t(spark, sf_dir), C.grid, DEFAULT_QUERY_POINTS)


def q_point_linestring_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed point-linestring join type combo."""
    return ls_ops.point_linestring_join(_seq_t(spark, sf_dir), C.grid, C.join_radius)


def q_interval_linestring_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon-LineString join type combo (completes the 3x3 matrix)."""
    return ls_ops.interval_linestring_join(_seq_t(spark, sf_dir), C.grid, C.join_radius)


def q_knn_unbounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded kNN, no-prune baseline (bench-excluded by design)."""
    from spatialflink_spark.operators.knn import knn_unbounded

    return knn_unbounded(_seq_t(spark, sf_dir), C.grid, DEFAULT_QUERY_POINTS)


def q_knn_unbounded_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded kNN, production form: prefix-count layer probe picks the
    radius, verified distinct-doc expansion, radius-bounded cut — same
    oracle as knn_unbounded (answer-identical by construction)."""
    from spatialflink_spark.operators.knn import knn_unbounded_pruned

    return knn_unbounded_pruned(_seq_t(spark, sf_dir), C.grid, DEFAULT_QUERY_POINTS)


def q_embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim_ops.embedding_dup_pairs(_emb(spark, sf_dir))


def q_cosine_topk_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim_ops.cosine_topk_ivf_multiprobe(_emb(spark, sf_dir))


def q_embedding_dup_pairs_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-form embedding dedup: sign-bucket blocked candidate
    equi-join + exact cosine within blocks (embedding_dup_pairs is its
    all-pairs recall oracle)."""
    return sim_ops.embedding_dup_pairs_blocked(_emb(spark, sf_dir))


# ---- round-5 additions: repetition / diversity / boilerplate / selection --


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-doc repetition rule (operators/text
    .doc_repetition): duplicate-bigram fraction + top-bigram share per doc.
    Output: doc_id, n_grams, dup_gram_frac, top_gram_frac."""
    return text_ops.doc_repetition(_docs(spark, sf_dir))


def q_token_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per doc (operators/text.token_diversity):
    type-token ratio + Simpson index (IEEE-pinned arithmetic only).
    Output: doc_id, n_tok, n_distinct, ttr, simpson."""
    return text_ops.token_diversity(_docs(spark, sf_dir))


def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate shingles (operators/corpus
    .boilerplate_ngrams): document-frequency heavy hitters over distinct
    per-doc shingle hashes. Output: rank, gram_hash, df, df_frac."""
    from spatialflink_spark.operators.corpus import boilerplate_ngrams

    return boilerplate_ngrams(_docs(spark, sf_dir))


def q_quality_topk_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source best-k selection by quality (operators/selection
    .quality_topk_per_source), two-stage cut so no task sorts a whole
    source. Output: source, rank, doc_id, quality."""
    from spatialflink_spark.operators.selection import quality_topk_per_source

    return quality_topk_per_source(_docs(spark, sf_dir))


def q_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-export shard layout (operators/selection
    .shard_assign): hash-ordered global shuffle, per-shard positions only.
    Output: doc_id, shard, pos."""
    from spatialflink_spark.operators.selection import shard_assign

    return shard_assign(_docs(spark, sf_dir))


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-keep near-dup canonicalization (operators/dedup
    .dedup_keep_best): wide pairs -> star components -> keep the
    highest-quality member per component.
    Output: doc_id, component, quality, keep."""
    return dedup_ops.dedup_keep_best(_docs(spark, sf_dir))


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed C4/Gopher-style document filter (operators/text
    .quality_filter): length + repetition + quality + language rules in ONE
    per-row pass, zero shuffles (repetition via the per-row
    with_repetition kernel). Output: doc_id, n_words, dup_gram_frac,
    quality, pred_lang, pass_len, pass_rep, pass_quality, pass_lang, keep."""
    return text_ops.quality_filter(_docs(spark, sf_dir))


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus duplicate-SPAN removal (operators/dedup.span_dedup): every
    occurrence of a duplicated n-token span except the globally-first one
    is removed; per doc the surviving-token checksum grades the exact
    reconstruction. Output: doc_id, n_tok, n_dup_occ, n_removed,
    keep_frac, kept_checksum."""
    return dedup_ops.span_dedup(_docs(spark, sf_dir))


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-k distinguishing terms by log-free TF-IDF
    (operators/corpus.tfidf_topk_terms): vocab-bounded broadcast df join,
    per-doc bounded rank window. Output: doc_id, rank, tok, tf, df,
    score."""
    from spatialflink_spark.operators.corpus import tfidf_topk_terms

    return tfidf_topk_terms(_docs(spark, sf_dir))


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level near-dup contamination matrix
    (operators/corpus.source_overlap_matrix): wide-fingerprint pair kernel
    -> per-unordered-source-pair counts. Output: source_a, source_b,
    n_pairs, n_docs."""
    from spatialflink_spark.operators.corpus import source_overlap_matrix

    return source_overlap_matrix(_docs(spark, sf_dir))


def q_source_vocab_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source vocabulary divergence
    (operators/corpus.source_vocab_divergence): exact-integer unigram TVD
    + vocab Jaccard over the vocab-bounded unigram relation. Output:
    source_a, source_b, n_shared, vocab_jaccard, tvd."""
    from spatialflink_spark.operators.corpus import source_vocab_divergence

    return source_vocab_divergence(_docs(spark, sf_dir))


def q_kmeans_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster label profile of the learned k-means partition
    (operators/similarity.kmeans_label_purity): broadcast-argmin
    assignment, (cid, label)-bounded aggregation. Output: cid, n_vecs,
    top_label, n_top, purity."""
    from spatialflink_spark.operators.similarity import kmeans_label_purity

    return kmeans_label_purity(
        _emb(spark, sf_dir), centroids=_km_centroids_cached(spark, sf_dir)
    )


def q_dedup_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup component-size audit (operators/dedup.dedup_size_histogram):
    wide pairs -> star components -> size histogram + singleton row.
    Output: size, n_components, n_docs."""
    from spatialflink_spark.operators.dedup import dedup_size_histogram

    return dedup_size_histogram(_docs(spark, sf_dir))


def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (operators/corpus.vocab_growth): per-bucket
    new-token counts, cumulative vocabulary in doc_id order. Output:
    bucket, first_doc, n_docs, n_new_tokens, cum_vocab."""
    from spatialflink_spark.operators.corpus import vocab_growth

    return vocab_growth(_docs(spark, sf_dir))


def q_stream_neardup_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-DUP incidence monitoring at ingest: staged replay -> watermark
    -> per-row 60-bit wide SimHash (the shared dedup.with_wide_simhash
    kernel, stateless codegen) -> tumbling per-(window, fingerprint) counts
    -> exactly-once sink. The streaming curation family's dedup face as a
    WINDOWED aggregate (stream_neardup_dedup is the global drop-duplicates
    face). Oracle = identical fingerprint + counts in batch over
    watermark-closed windows. Output: ws, simhash, n_rows, tok_rows."""
    return _stream_gate(
        spark,
        sf_dir,
        ("ws", "simhash"),
        lambda s: stream_ops.stream_neardup_window_stats(
            stream_ops.spread_stream(s), C
        ),
    ).read_committed(spark)


def q_stream_chunk_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window CHUNKING at ingest: staged replay -> watermark ->
    per-row overlapping fixed-width chunk slicing (the chunk_documents
    width/stride constants; stateless, no explode — counts and token sums
    fold per row) -> tumbling per-(window, source) chunk volume ->
    exactly-once sink. Oracle = the same slicing arithmetic in batch over
    watermark-closed windows. Output: ws, source, n_chunks, chunk_tok,
    n_rows."""
    return _stream_gate(
        spark,
        sf_dir,
        ("ws", "source"),
        lambda s: stream_ops.stream_chunk_stats(s, C),
    ).read_committed(spark)


def q_stream_vocab_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY NOVELTY at ingest: staged replay -> update-mode
    first-arrival per token (state bounded by |vocab|,
    pipeline.stream_vocab_first) -> keyed changelog sink -> MERGE-on-read
    snapshot (sink.read_merged) -> per-closed-window novelty counts +
    cumulative vocabulary. Oracle = min ts_s per token over the same static
    table, identical closed-window filter. Output: ws, n_new_tokens,
    cum_vocab."""
    from pyspark.sql.window import Window

    snap = _stream_gate(
        spark, sf_dir, ("tok",), stream_ops.stream_vocab_first, output_mode="update"
    ).read_merged(spark)
    # committed-output discipline: only windows the final watermark sealed
    # (the same `ws + tumbling <= max(ts_s) - lateness` rule the append-mode
    # gates get from the engine itself)
    wl = sequences_cached(spark, sf_dir).agg(
        F.expr(f"max(ts_s) - {C.allowed_lateness_s}").alias("wlim")
    )
    counts = (
        snap.select(
            F.expr(
                f"cast(floor(first_ts_s / {C.tumbling_s}) * {C.tumbling_s} as bigint)"
            ).alias("ws")
        )
        .crossJoin(F.broadcast(wl))
        .where(F.expr(f"ws + {C.tumbling_s} <= wlim"))
        .groupBy("ws")
        .agg(F.expr("cast(count(1) as bigint)").alias("n_new_tokens"))
    )
    w = Window.orderBy("ws").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return counts.withColumn(
        "cum_vocab", F.sum("n_new_tokens").over(w).cast("bigint")
    )


def q_length_quality_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length/quality Pearson correlation
    (operators/corpus.length_quality_corr): exact-bigint moment sums, one
    map-side-combined groupBy. Output: source, n_docs, mean_words,
    mean_quality, corr_len_quality."""
    from spatialflink_spark.operators.corpus import length_quality_corr

    return length_quality_corr(_docs(spark, sf_dir))


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass (operators/text.pii_redact): deterministic
    in-plan entity injection (the csv_ingest malformed-line trick), then
    count + redact emails / IPv4s / phones via portable RE2∩Java regexes —
    pure per-row codegen, zero shuffles. Output: doc_id, n_emails, n_ips,
    n_phones, n_pii, red_len, red_hash."""
    return text_ops.pii_redact(_docs(spark, sf_dir))


def q_unigram_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM rarity score (operators/corpus.unigram_rarity): log-free
    CCNet-style unigram filtering signal — exact-integer inverse-frequency
    sums over a vocab-bounded broadcast count join. Output: doc_id, n_tok,
    rarity_sum, rarity_mean, n_hapax."""
    from spatialflink_spark.operators.corpus import unigram_rarity

    return unigram_rarity(_docs(spark, sf_dir))


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic near-dup pruning (operators/similarity
    .semantic_dedup): learned k-means clusters bound the pairwise-cosine
    stage to within-cluster equi-joins; min-id keeper rule. Output:
    vec_id, cid, keep."""
    return sim_ops.semantic_dedup(
        _emb(spark, sf_dir), centroids=_km_centroids_cached(spark, sf_dir)
    )


def q_bigram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining (operators/corpus.bigram_lift_topk): top-k
    adjacent-token bigrams by log-free lift over encoded-bigint bigram
    counts — support-pruned, vocab-broadcast joins, TakeOrderedAndProject
    cut. Output: rank, tok_a, tok_b, c_xy, c_x, c_y, lift."""
    from spatialflink_spark.operators.corpus import bigram_lift_topk

    return bigram_lift_topk(_docs(spark, sf_dir))


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mini-BPE tokenizer training (corpus.bpe_merges): iterative
    most-frequent-pair mining + greedy left-to-right non-overlapping
    merges into minted ids; the merge table + per-round corpus totals
    grade every intermediate merge. Output: rank, tok_a, tok_b, new_id,
    n_pairs, total_tok_after."""
    from spatialflink_spark.operators.corpus import bpe_merges

    return bpe_merges(_docs(spark, sf_dir))


def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style blocklist page filter (text.blocklist_filter): word-
    boundary sentinel counts over deterministically injected terms, zero
    hits = keep — pure per-row codegen. Output: doc_id, n_words,
    n_blocked, keep."""
    return text_ops.blocklist_filter(_docs(spark, sf_dir))


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (text.chunk_documents): overlapping
    fixed-width token slices with provenance and order-sensitive
    checksums — the RAG/pretraining slicing step. Output: doc_id,
    chunk_idx, offset, n_chunk_tok, chunk_hash."""
    return text_ops.chunk_documents(_docs(spark, sf_dir))


def q_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact binary-asset dedup (multimodal.media_dedup): md5 over the raw
    payload BINARY column, hash-keyed ranks — the pre-decode asset dedup
    pass. Output: doc_id, media_type, payload_hash, dup_rank."""
    return mm_ops.media_dedup(_docs(spark, sf_dir))


def q_cluster_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster text-quality profile (similarity.cluster_quality_profile):
    the learned embedding partition joined back to its documents' quality
    verdicts — the cluster-level curation decision table. Output: cid,
    n_docs, n_words, mean_quality, keep_rate."""
    return sim_ops.cluster_quality_profile(
        _emb(spark, sf_dir),
        _docs(spark, sf_dir),
        centroids=_km_centroids_cached(spark, sf_dir),
    )


def q_cardinality_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic cardinality-sketch calibration (corpus
    .cardinality_kmv): 16 seeded hash minima per source (bounded-state
    map-side sketch — duplicate-insensitive, no distinct shuffle) vs the
    exact distinct shingle count. Output: source, n_occurrences,
    exact_distinct, est_distinct, err_bp."""
    from spatialflink_spark.operators.corpus import cardinality_kmv

    return cardinality_kmv(_docs(spark, sf_dir))


def q_pq_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC retrieval over the query table (similarity.pq_topk_batch):
    per-query dense ADC tables on one broadcast row, m-lookup scoring,
    two-stage cut keyed by the subspace-0 code — exact bigints after
    quantization. Output: q_id, rank, vec_id, adc."""
    return sim_ops.pq_topk_batch(
        _emb(spark, sf_dir), codebooks=_pq_codebooks_cached(spark, sf_dir)
    )


def q_l2_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantized-squared-L2 batch ranker (similarity.l2_topk_batch)
    — the PQ recall basis, graded against a direct-window golden.
    Output: q_id, rank, vec_id, d2."""
    return sim_ops.l2_topk_batch(_emb(spark, sf_dir))


def q_pq_batch_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-loss calibration of the PQ batch ranker
    (similarity.pq_batch_recall): per-query recall@k of ADC vs exact
    quantized-L2. Output: q_id, n_exact, n_hit, recall."""
    return sim_ops.pq_batch_recall(
        _emb(spark, sf_dir), codebooks=_pq_codebooks_cached(spark, sf_dir)
    )


def q_prototypicality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSL-prototypes pruning (operators/similarity.prototypicality):
    per-cluster closeness ranks over the shared quantized-integer Lloyd
    kernel, integer basis-point keep cut dropping the most prototypical
    quarter. Output: vec_id, cid, d2, rank_c, keep."""
    return sim_ops.prototypicality(
        _emb(spark, sf_dir), centroids=_km_centroids_cached(spark, sf_dir)
    )


def q_bigram_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency score (operators/corpus.bigram_fluency): log-free
    KenLM-analog per-document mean conditional bigram probability —
    exact-integer floor(c_ab * SCALE / c_a) sums over the encoded-bigint
    bigram key, vocab-broadcast prefix join. Output: doc_id, n_bigrams,
    fluency_sum, fluency_mean."""
    from spatialflink_spark.operators.corpus import bigram_fluency

    return bigram_fluency(_docs(spark, sf_dir))


def q_source_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card (operators/corpus.source_card): quality
    keep rate + wide near-dup contamination + PII incidence composed from
    the engine's own kernels; |sources|-row output, broadcast assembly.
    Output: source, n_docs, n_words, keep_rate, neardup_docs,
    neardup_frac, pii_docs, pii_frac."""
    from spatialflink_spark.operators.corpus import source_card

    return source_card(_docs(spark, sf_dir))


def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting (operators/corpus.dsir_importance):
    hashed-bigram target/raw frequency ratios against the doc_id % 13
    probe slice — bucket-bounded broadcast joins, exact-integer per-doc
    sums. Output: doc_id, is_target, n_feat, imp_sum, imp_mean."""
    from spatialflink_spark.operators.corpus import dsir_importance

    return dsir_importance(_docs(spark, sf_dir))


def q_pq_topk_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (operators/similarity.pq_topk_adc):
    per-subspace quantized-Lloyd codebooks, 3-bit codes, dense broadcast
    distance table, exact-bigint ADC sums. Output: rank, vec_id, adc."""
    return sim_ops.pq_topk_adc(
        _emb(spark, sf_dir), codebooks=_pq_codebooks_cached(spark, sf_dir)
    )


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieval (operators/retrieval.bm25_topk): exact top-k
    log-free all-integer BM25 per query document over an inverted token
    index — vocab-bounded df broadcast, broadcast query-term table, one
    candidate-score shuffle. Output: q_id, rank, doc_id, bm25."""
    from spatialflink_spark.operators.retrieval import bm25_topk

    return bm25_topk(_docs(spark, sf_dir))


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (operators/retrieval.rrf_fusion): exact-integer
    reciprocal-rank fusion of the BM25 list with the exact-cosine batch
    list over the shared query-id space. Output: q_id, rank, doc_id,
    rrf, r_lex, r_sem."""
    from spatialflink_spark.operators.retrieval import rrf_fusion

    return rrf_fusion(_docs(spark, sf_dir), _emb(spark, sf_dir))


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail split (operators/corpus.ccnet_buckets):
    tertile cuts of the unigram-rarity distribution on a bounded integer
    grid, per-(source, bucket) volume + mean rarity. Output: source,
    bucket, n_docs, n_tok_total, rarity_mean."""
    from spatialflink_spark.operators.corpus import ccnet_buckets

    return ccnet_buckets(_docs(spark, sf_dir))


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators/retrieval.hard_negatives): BM25
    candidates anti-joined against the semantic top list per query —
    the DPR/ANCE contrastive-negative recipe over bounded rank lists.
    Output: q_id, rank, doc_id, bm25, r_lex."""
    from spatialflink_spark.operators.retrieval import hard_negatives

    return hard_negatives(_docs(spark, sf_dir), _emb(spark, sf_dir))


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN calibration report (operators/similarity.batch_ann_recall):
    per-query recall@k of the multi-probe batch ANN vs the exact batch
    ranker. Output: q_id, n_exact, n_hit, recall."""
    return sim_ops.batch_ann_recall(_emb(spark, sf_dir))


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature source sampling (operators/mixing.temperature_mix_sample):
    tau=0.5 rebalancing — keep rate ∝ 1/sqrt(source token mass), smallest
    source keeps 100%, deterministic LCG sampling. Output: source,
    rate_bp, n_kept, tok_kept."""
    from spatialflink_spark.operators.mixing import temperature_mix_sample

    return temperature_mix_sample(_docs(spark, sf_dir))


def q_stream_tmix_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming TEMPERATURE mixing: q_stream_mix_e2e with the tau=0.5 rate
    kernel (mixing.temperature_rates_snapshot) plugged into the same
    _stream_mix_gate. Oracle = identical integer-div-before-sqrt arithmetic
    in batch over watermark-closed windows.
    Output: ws, source, rate_bp, n_kept, tok_kept."""
    from spatialflink_spark.operators.mixing import temperature_rates_snapshot

    return _stream_mix_gate(spark, sf_dir, "tmix_rates", temperature_rates_snapshot)


def q_lsh_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH calibration curve (operators/dedup.lsh_calibration): mean exact
    Jaccard per estimated-similarity decile over every banded candidate
    pair — the (hashes, bands, rows) tuning diagnostic. Output: decile,
    n_pairs, mean_est, mean_jaccard."""
    return dedup_ops.lsh_calibration(_docs(spark, sf_dir))
