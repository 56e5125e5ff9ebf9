"""Watermarked Structured Streaming pipelines — the CEP layer.

Streaming versions of the gate operators, over the canonical sequence stream
(sources/streams.read_sequences_stream). Event-time windows + watermarks
reproduce the reference's window-based (WB) query paths; output equality is
defined at window close for the same input + watermark (SURVEY.md §4,
"Physical execution model deltas").

All aggregations here are built-in (partial/final HashAggregate with
incremental state maintenance by the streaming state store) — the incremental
sliding-window evaluation the reference hand-rolls with ListState
(PointPointRangeQuery.java:195-296) is what SS does natively.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spatialflink_spark.config import EngineConfig, QueryPoint
from spatialflink_spark.operators.knn import knn_rank_cut
from spatialflink_spark.operators.range_query import query_cells_df
from spatialflink_spark.operators.cells import cell_expr


def tumbling_agg(
    df: DataFrame, cfg: EngineConfig, keys: Iterable[str], *aggs
) -> DataFrame:
    """groupBy(tumbling event-time window, *keys).agg(*aggs), projected as
    (ws bigint window start, *keys, *aggs): the shape of every append-mode
    tumbling aggregate here, one final row per window the watermark closes."""
    agged = df.groupBy(
        F.window("event_ts", f"{cfg.tumbling_s} seconds").alias("win"), *keys
    ).agg(*aggs)
    return agged.select(
        F.expr("cast(unix_timestamp(win.start) as bigint)").alias("ws"),
        *agged.columns[1:],
    )


def spread_stream(stream: DataFrame) -> DataFrame:
    """Round-robin each micro-batch over the default parallelism before
    compute-heavy per-row work. A replay slice is one file, so without this
    every micro-batch is ONE task and the per-row work runs serially (the
    streaming single-partition trap: the decon gate's probe intersect went
    18 s -> 2.7 s at sf0.1 with it). The count is independent of the
    state-store partition count (spark.sql.shuffle.partitions)."""
    return stream.repartition(stream.sparkSession.sparkContext.defaultParallelism)


def stream_range_count(
    stream: DataFrame, cfg: EngineConfig, qs: Iterable[QueryPoint]
) -> DataFrame:
    """MN_Q1 analog end-to-end (sncb/mobility/MN_Q1.java:36-84): watermark ->
    grid-pruned range query -> tumbling event-time count per (window, q_id).

    Emits (ws bigint, q_id, n_matches) in APPEND mode — one final row per
    closed window, which is what the exactly-once sink keys on."""
    spark = stream.sparkSession
    qcells = query_cells_df(spark, cfg.grid, qs)
    s = stream.withColumn("cell", cell_expr(cfg.grid))
    matched = s.join(F.broadcast(qcells), "cell").where(
        F.col("guaranteed") | (F.expr("abs(n_tok - q_n_tok)") <= F.col("radius"))
    )
    return tumbling_agg(matched, cfg, ("q_id",), F.count(F.lit(1)).alias("n_matches"))


def stream_sliding_variation(stream: DataFrame, cfg: EngineConfig) -> DataFrame:
    """MN_Q2 analog (sliding window incremental aggregate,
    sncb/mobility/MN_Q2.java:85 + VariationAgg): per (source, sliding window)
    max-min of n_tok."""
    agg = stream.groupBy(
        F.window(
            "event_ts", f"{cfg.sliding_size_s} seconds", f"{cfg.sliding_slide_s} seconds"
        ).alias("win"),
        "source",
    ).agg(
        (F.max("n_tok") - F.min("n_tok")).alias("variation"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return agg.select(
        F.expr("cast(unix_timestamp(win.start) as bigint)").alias("ws"),
        "source",
        "variation",
        "n_rows",
    )


def stream_session_stats(stream: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Session windows per doc (north_rule; no reference equivalent —
    SURVEY.md §2.6 notes the reference lacks session windows entirely)."""
    agg = stream.groupBy(
        F.session_window("event_ts", f"{cfg.session_gap_s} seconds").alias("win"),
        "doc_id",
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_tok").cast("bigint").alias("sum_n_tok"),
    )
    return agg.select(
        F.expr("cast(unix_timestamp(win.start) as bigint)").alias("sess_start"),
        F.expr("cast(unix_timestamp(win.end) as bigint)").alias("sess_end"),
        "doc_id",
        "n_rows",
        "sum_n_tok",
    )


def stream_exact_dedup(stream: DataFrame, within_watermark: bool = False) -> DataFrame:
    """Streaming exact dedup — the streaming face of dedup.exact_dedup: emit
    each content hash's FIRST-arriving row, drop later duplicates.

    Two state regimes:
    - within_watermark=False (default): global dedup — one state entry per
      distinct hash EVER seen, exact forever, state grows with distinct
      content (fine when distinct << total, the usual dedup situation).
    - within_watermark=True: `dropDuplicatesWithinWatermark` — state entries
      expire once the watermark passes them, bounding state size for
      unbounded runs; duplicates arriving farther apart than the watermark
      delay are re-emitted. At a 10^12-sequence scale this is the knob that
      keeps the dedup state store finite.

    Output: content_hash, doc_id, seq_no — append-mode rows."""
    hashed = stream.select(
        "event_ts",
        "doc_id",
        "seq_no",
        F.expr("md5(concat_ws(' ', transform(tokens, t -> cast(t as string))))").alias(
            "content_hash"
        ),
    )
    if within_watermark:
        deduped = hashed.dropDuplicatesWithinWatermark(["content_hash"])
    else:
        deduped = hashed.dropDuplicates(["content_hash"])
    return deduped.select("content_hash", "doc_id", "seq_no")


def stream_neardup_dedup(
    stream: DataFrame, within_watermark: bool = False
) -> DataFrame:
    """Streaming NEAR-dup dedup at ingest — the streaming face of the
    60-bit wide SimHash fingerprint (dedup.with_wide_simhash, the same
    kernel the batch ops use): emit each fingerprint's FIRST-arriving row,
    drop later rows that collide. Hamming-0 on the production-width
    fingerprint is the standard ingest-time near-dup filter — near-identical
    token content votes the same bits; the full Hamming<=3 banded form
    (simhash_wide_dup_pairs) needs a cross-row pairwise verify that no
    per-key streaming dedup operator can hold, so it stays the batch stage
    of the curation pipeline and this is its bounded-state ingest
    complement.

    Same two state regimes as stream_exact_dedup: global dropDuplicates
    (one state entry per distinct fingerprint ever seen) or
    dropDuplicatesWithinWatermark (state expires with the watermark — the
    10^12-sequence knob).

    Output: simhash, doc_id, seq_no — append-mode rows."""
    from spatialflink_spark.operators.dedup import with_wide_simhash

    fp = with_wide_simhash(
        stream.select("event_ts", "doc_id", "seq_no", "tokens"), "tokens"
    )
    if within_watermark:
        deduped = fp.dropDuplicatesWithinWatermark(["simhash"])
    else:
        deduped = fp.dropDuplicates(["simhash"])
    return deduped.select("simhash", "doc_id", "seq_no")


def stream_stream_join(
    left: DataFrame, right: DataFrame, cfg: EngineConfig, radius: int
) -> DataFrame:
    """Watermarked stream-stream inner join — the SS-native form of the
    windowed spatial join (join/PointPointJoinQuery.java:124-183): equi-join
    on cell + event-time range bound + exact distance θ-filter. The time
    bound lets the state store evict buffered rows once the watermark passes
    (Flink buffers per window; SS buffers per time-range — same output
    pairs)."""
    g = cfg.grid
    l = left.select(
        F.col("cell").alias("l_cell"),
        F.col("doc_id").alias("left_doc"),
        F.col("seq_no").alias("left_seq"),
        F.col("n_tok").alias("left_n_tok"),
        F.col("event_ts").alias("l_ts"),
    )
    r = right.select(
        F.col("cell").alias("r_cell"),
        F.col("doc_id").alias("right_doc"),
        F.col("seq_no").alias("right_seq"),
        F.col("n_tok").alias("right_n_tok"),
        F.col("event_ts").alias("r_ts"),
    )
    cond = (
        (F.col("l_cell") == F.col("r_cell"))
        & (F.abs(F.col("left_n_tok") - F.col("right_n_tok")) <= radius)
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(f"INTERVAL {cfg.tumbling_s} SECONDS"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {cfg.tumbling_s} SECONDS"))
        & (F.col("left_doc") != F.col("right_doc"))
    )
    return l.join(r, cond).select(
        "left_doc", "right_doc", "left_seq", "right_seq",
        F.abs(F.col("left_n_tok") - F.col("right_n_tok")).alias("dist"),
        F.greatest("l_ts", "r_ts").alias("pair_ts"),
    )


def run_available_now(
    result: DataFrame, sink_fn, checkpoint: str, timeout_s: int = 300,
    output_mode: str = "append",
):
    """Drain everything currently staged through foreachBatch with
    availableNow (bounded, checkpointed) — the test/bench driver for every
    streaming pipeline; resume = call again with the same checkpoint."""
    q = (
        result.writeStream.foreachBatch(sink_fn)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise RuntimeError(
            f"streaming query did not drain within {timeout_s}s "
            f"(checkpoint={checkpoint}) — refusing to read a partial sink"
        )
    return q


# (dist, seq_no) packed into one order-preserving bigint, (dist << 32) +
# (seq_no + 2^31): dist is a non-negative int, and the 2^31 offset maps every
# int seq_no (negative ones included) onto [0, 2^32) in order, so the bigint
# order is exactly the (dist, seq_no) order. KEY_DIST / KEY_SEQ decode `_key`.
DIST_SEQ_KEY = (
    "shiftleft(cast(dist as bigint), 32) + (cast(seq_no as bigint) + 2147483648)"
)
KEY_DIST = "cast(shiftright(_key, 32) as int)"
KEY_SEQ = "cast((_key & 4294967295) - 2147483648 as int)"


def stream_knn_topk(
    stream: DataFrame, cfg: EngineConfig, qs: Iterable[QueryPoint]
) -> DataFrame:
    """Streaming half of the two-stage windowed kNN: grid-pruned candidates
    -> one built-in append-mode aggregation per (tumbling window, q_id, k,
    doc_id) keeping the doc's minimum (dist, seq_no) — the per-doc
    dedup-keep-min of KNNQuery.java:226-238, incrementally maintained in the
    state store and emitted when the watermark closes the window. The
    global rank and the cut at k (KNNQuery.java:204-308) run batch-side per
    micro-batch via `finalize_knn`.

    The minimum is ONE packed bigint (DIST_SEQ_KEY): a
    min(struct(dist, seq_no)) plans as a SortAggregate, the bigint as a
    HashAggregate.

    State is one bigint per distinct candidate (window, q_id, doc_id) in
    the open windows, evicted at window close in the JVM like every other
    windowed aggregation here, and no Python worker runs. The reference's
    per-cell size-k heap (PointPointKNNQuery.java:132-201) bounds state at
    cells x k per window instead, but a heap is per-key code that only a
    Python state operator could hold here.
    Returns (ws, q_id, k, doc_id, dist, seq_no)."""
    spark = stream.sparkSession
    qcells = query_cells_df(spark, cfg.grid, qs)
    s = stream.withColumn("cell", cell_expr(cfg.grid))
    cand = (
        s.join(F.broadcast(qcells), "cell")
        .where(
            F.col("guaranteed") | (F.expr("abs(n_tok - q_n_tok)") <= F.col("radius"))
        )
        .select(
            "event_ts",
            "q_id",
            "k",
            "doc_id",
            "seq_no",
            F.expr("cast(abs(n_tok - q_n_tok) as int)").alias("dist"),
        )
        .select("event_ts", "q_id", "k", "doc_id", F.expr(DIST_SEQ_KEY).alias("_key"))
    )
    # grouped inline, not via tumbling_agg: the decode below reads _key
    # twice, so Catalyst keeps it as a Project over the aggregate, and on
    # top of tumbling_agg's own projection it would move ws into the
    # aggregate's results instead: the same work under a different plan
    per_doc = cand.groupBy(
        F.window("event_ts", f"{cfg.tumbling_s} seconds").alias("win"),
        "q_id",
        "k",
        "doc_id",
    ).agg(F.min("_key").alias("_key"))
    return per_doc.select(
        F.expr("cast(unix_timestamp(win.start) as bigint)").alias("ws"),
        "q_id",
        "k",
        "doc_id",
        F.expr(KEY_DIST).alias("dist"),
        F.expr(KEY_SEQ).alias("seq_no"),
    )


def finalize_knn(batch_df: DataFrame) -> DataFrame:
    """Batch-side final merge for stream_knn_topk output: the global rank
    and the cut at k (operators/knn.knn_rank_cut, the end of the batch
    knn_merge), one exchange. The streaming aggregation already emits one
    row per closed (window, query, doc) at its min (dist, seq_no), so the
    per-doc dedup of knn_merge would remove nothing here."""
    return knn_rank_cut(batch_df)


# ---- streaming decontamination ---------------------------------------------

def token_shingle_expr(k: int = 3) -> str:
    """array<bigint> of distinct token k-gram rolling hashes over `tokens` —
    the token-domain twin of the word-shingle hash (dedup.py uses word
    shingles on raw text; a sequence stream carries tokens, so the n-grams
    are taken over token ids). CASE-guarded: Spark 4 ANSI throws on
    out-of-bounds array indexing."""
    from spatialflink_spark.config import HASH_MOD

    # cast each token to bigint BEFORE multiplying: 131^(k-1) coefficients
    # overflow int32 for k >= 4 (and k = 3 only squeaks under 2^31), which
    # throws under Spark 4 ANSI
    body = " + ".join(
        f"cast(tokens[i + {j}] as bigint) * {131 ** (k - 1 - j)}" for j in range(k)
    )
    return (
        f"CASE WHEN size(tokens) >= {k} THEN "
        f"array_distinct(transform(sequence(0, size(tokens) - {k}), "
        f"i -> ({body}) % {HASH_MOD})) "
        "ELSE array() END"
    )


PROBE_BUCKETS = 1024


def stream_decontaminate(
    stream: DataFrame, probe: DataFrame, min_overlap: int = 3, k: int = 3
) -> DataFrame:
    """Streaming decontamination — drop sequences sharing >= `min_overlap`
    token k-grams with a STATIC eval-benchmark probe (the streaming face of
    dedup.decontaminate; the batch op guards a stored corpus, this guards
    the live ingest).

    `probe` is a batch DataFrame with one bigint column `h` (the benchmark's
    shingle-hash set). It is aggregated to a BUCKETED array-of-arrays
    (bucket = h mod PROBE_BUCKETS, each bucket sorted) and broadcast-cross-
    joined onto the stream; the per-row check indexes the outer array in
    O(1) and scans only one bucket per row shingle, so per-row cost is
    O(|row shingles| x |probe| / PROBE_BUCKETS) — NOT O(|probe|), which the
    round-4 10x spot check caught as an 18x super-linear wall when the flat
    array_intersect paid the whole probe per row (bench/sf1_spot.py). The
    whole check stays a STATELESS projection — append mode, no watermark
    requirement. (Micro-batch only as written: continuous processing
    rejects join operators, even stream-static broadcasts. For a continuous
    variant, inline the probe as a literal the way streaming/continuous.py
    does — small probes only.) Output: the surviving rows plus
    n_shared_shingles (always < min_overlap)."""
    nb = PROBE_BUCKETS
    spark = probe.sparkSession
    by_bucket = probe.groupBy(
        F.expr(f"cast(pmod(h, {nb}) as int)").alias("_b")
    ).agg(F.expr("array_sort(collect_set(h))").alias("_arr"))
    # densify to one row per bucket id (empty array for absent buckets),
    # then pack into ONE outer array ordered by bucket id — order fixed by
    # sorting the (bucket, arr) structs, not by collect order. All on the
    # tiny batch probe side.
    dense = (
        spark.range(nb)
        .select(F.col("id").cast("int").alias("_b"))
        .join(by_bucket, "_b", "left")
        .select(
            "_b",
            F.expr("coalesce(_arr, cast(array() as array<bigint>))").alias("_arr"),
        )
    )
    probe_buckets = dense.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(_b, _arr))), s -> s._arr)"
        ).alias("_buckets")
    )
    shingled = stream.withColumn("_sh", F.expr(token_shingle_expr(k)))
    flagged = shingled.crossJoin(F.broadcast(probe_buckets)).withColumn(
        "n_shared_shingles",
        F.expr(
            f"size(filter(_sh, h -> array_contains("
            f"element_at(_buckets, cast(pmod(h, {nb}) + 1 as int)), h)))"
        ).cast("int"),
    )
    return flagged.where(F.col("n_shared_shingles") < min_overlap).drop(
        "_sh", "_buckets"
    )


# ---- streaming token counts --------------------------------------------------

def stream_token_counts(stream: DataFrame) -> DataFrame:
    """Streaming face of corpus.token_freq_topk's counting stage: running
    per-token occurrence counts over the live ingest, maintained
    incrementally by the state store (update mode — each micro-batch emits
    the tokens whose counts changed). The key space is the VOCABULARY, so
    state is bounded by |vocab| regardless of stream length — the same
    reason the batch op's groupBy is scale-safe. Top-k consumption happens
    batch-side per emitted snapshot (heavy hitters over a changelog).
    Output: token, n_occurrences."""
    tok = spread_stream(stream).select(F.explode("tokens").alias("token"))
    return tok.groupBy("token").agg(F.count(F.lit(1)).alias("n_occurrences"))


# ---- streaming source mixing -------------------------------------------------

def stream_source_mix(stream: DataFrame, rates: DataFrame) -> DataFrame:
    """Streaming source mixing — the streaming face of
    mixing.source_mix_sample, completing the streaming curation path
    (dedup -> decontaminate -> mix): quota rates computed on a STATIC (or
    periodically refreshed) snapshot (mixing.mix_rates_snapshot), broadcast
    onto the live stream, deterministic LCG keep-filter per row.

    STATELESS — no watermark requirement, append mode; the same per-row
    shape as stream_decontaminate, so a continuous-mode variant only needs
    the rate table inlined as a literal (streaming/continuous.py pattern;
    micro-batch here because continuous processing rejects join operators,
    even stream-static broadcasts). `rates` (source, rate_bp) is tiny by
    construction (one row per source) — the caller should materialize it
    eagerly (localCheckpoint) so a lazy static side isn't re-derived every
    micro-batch. Output: the surviving rows plus rate_bp.

    LEFT join + keep-all default: a source that appears on the stream
    BETWEEN snapshot refreshes has no rate row yet — it keeps everything
    (rate 10000), the batch op's zero-mass rule (unseen mass costs no
    quota) and exactly what the continuous-mode face does; an inner join
    would silently black-hole the new source until the next refresh."""
    from spatialflink_spark.operators.mixing import BP, LCG_KEEP_EXPR

    joined = stream.join(F.broadcast(rates), "source", "left").withColumn(
        "rate_bp", F.expr(f"coalesce(rate_bp, {BP})")
    )
    return joined.where(F.expr(LCG_KEEP_EXPR) < F.col("rate_bp"))


# ---- streaming repetition/quality filter ------------------------------------


def stream_repetition_filter(
    stream: DataFrame, min_tok: int = 15, max_rep: float = 0.08
) -> DataFrame:
    """Streaming face of the Gopher-style repetition rule (the token-domain
    slice of text.quality_filter — the text-derived rules need the raw text
    a sequence stream no longer carries): per-row n-gram repetition stats
    from text.with_repetition — ZERO state, zero shuffles, the filter is a
    pure projection so it composes with any trigger including continuous
    mode. Rows keep = length rule AND repetition rule.
    Output: doc_id, seq_no, n_grams, dup_gram_frac, top_gram_frac, keep."""
    from spatialflink_spark.operators.text import with_repetition

    rep = with_repetition(
        spread_stream(stream).select("doc_id", "seq_no", "n_tok", "tokens"), "tokens"
    )
    return rep.select(
        "doc_id",
        "seq_no",
        "n_grams",
        "dup_gram_frac",
        "top_gram_frac",
        F.expr(
            f"CAST(CASE WHEN n_tok >= {min_tok} AND dup_gram_frac <= {max_rep} "
            "THEN 1 ELSE 0 END AS INT)"
        ).alias("keep"),
    )


# ---- streaming vocabulary novelty --------------------------------------------

def stream_vocab_first(stream: DataFrame) -> DataFrame:
    """Streaming vocabulary novelty at ingest — the streaming face of
    corpus.vocab_growth's discovery stage: the running FIRST-ARRIVAL time
    per distinct token, maintained incrementally by the state store (update
    mode — each micro-batch emits the tokens whose minimum changed). State
    is ONE row per distinct token ever seen, bounded by |vocab| regardless
    of stream length — the same bound that makes the batch op's
    min-first-doc relation scale-safe. min() is monotone under late data,
    so a late row can only tighten a token's first arrival and the keyed
    changelog stays correct; novelty-curve consumption (closed-window
    counts + cumulative vocabulary) happens batch-side per merged snapshot
    (sink.read_merged — max-batch_id-wins, the Iceberg MERGE-on-read
    shape). Output changelog: tok, first_ts_s."""
    tok = spread_stream(stream).select(F.explode("tokens").alias("tok"), "ts_s")
    return tok.groupBy("tok").agg(
        F.expr("cast(min(ts_s) as bigint)").alias("first_ts_s")
    )


# ---- streaming near-dup window stats -----------------------------------------


def stream_neardup_window_stats(stream: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Windowed near-dup incidence monitoring at ingest: fingerprint every
    arriving sequence with the 60-bit wide SimHash (the SAME
    dedup.with_wide_simhash kernel the batch ops and stream_neardup_dedup
    use) and aggregate per (tumbling window, fingerprint). Downstream this
    feeds the per-window duplicate-rate dashboards a curation ingest
    watches (groups with n_rows >= 2 are in-window near-dup collisions).

    Scale: the fingerprint is stateless per-row codegen; the only state is
    the windowed aggregation, keyed (window, simhash) and evicted by the
    watermark — bounded by distinct fingerprints per window, exactly like
    the reference's windowed heatmap state (TAggregateQuery.java:381-614).
    Output: ws, simhash, n_rows, tok_rows — append mode on window close."""
    from spatialflink_spark.operators.dedup import with_wide_simhash

    fp = with_wide_simhash(
        stream.select("event_ts", "doc_id", "seq_no", "n_tok", "tokens"),
        "tokens",
    )
    return tumbling_agg(
        fp,
        cfg,
        ("simhash",),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("n_tok").cast("bigint")).alias("tok_rows"),
    )


def stream_chunk_stats(stream: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Context-window chunking at ingest: slice every arriving sequence's
    token array into overlapping fixed-width chunks (the SAME width/stride
    constants as text.chunk_documents — the RAG-index slicing step applied
    at the stream head) and aggregate chunk volume per (tumbling window,
    source). The slicing is a stateless per-row explode (watermark column
    carried through); the only state is the windowed aggregation.
    Output: ws, source, n_chunks, chunk_tok, n_rows — append mode on
    window close."""
    from spatialflink_spark.operators.text import CHUNK_S, CHUNK_W

    sliced = stream.select(
        "event_ts",
        "source",
        F.expr(
            f"CASE WHEN size(tokens) >= 1 THEN"
            f" transform(sequence(1, size(tokens), {CHUNK_S}),"
            f" s -> size(slice(tokens, s, {CHUNK_W})))"
            " ELSE array() END"
        ).alias("_cl"),
    )
    x = sliced.select(
        "event_ts",
        "source",
        F.expr("size(_cl)").alias("_n_chunks"),
        F.expr("aggregate(_cl, 0, (a, x) -> a + x)").alias("_chunk_tok"),
    )
    return tumbling_agg(
        x,
        cfg,
        ("source",),
        F.expr("cast(sum(_n_chunks) as bigint)").alias("n_chunks"),
        F.expr("cast(sum(_chunk_tok) as bigint)").alias("chunk_tok"),
        F.count(F.lit(1)).alias("n_rows"),
    )
