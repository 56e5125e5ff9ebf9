"""End-to-end Structured Streaming tests (SURVEY.md §5.2 items 4-5):
- streaming range count == batch result for closed windows
- exactly-once resume from checkpoint mid-stream (no dupes, no holes)
- late-data drop beyond the watermark
- stateful ops (tstats / count windows) vs batch oracle
- lineage + metrics recorded per batch
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from spatialflink_spark.config import DEFAULT_CONFIG as C, DEFAULT_QUERY_POINTS
from spatialflink_spark.operators.cells import with_cell
from spatialflink_spark.operators.stats import running_stats
from spatialflink_spark.sources.sequences import sequences
from spatialflink_spark.sources.streams import read_sequences_stream, stage_replay_files
from spatialflink_spark.streaming.metrics import attach_metrics
from spatialflink_spark.streaming.pipeline import (
    run_available_now,
    stream_range_count,
    stream_session_stats,
)
from spatialflink_spark.streaming.sink import ExactlyOnceSink
from spatialflink_spark.streaming.stateful import count_windows, tstats_stateful
from tests.conftest import SF_SMALL

import __spark_entry__ as entrymod


@pytest.fixture(scope="module")
def replay_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("replay"))
    stage_replay_files(spark, SF_SMALL, d, n_batches=4)
    return d


def _batch_expected_range(spark):
    return (
        entrymod.queries()["range_tumbling_count"](spark, SF_SMALL)
        .toPandas()
        .sort_values(["ws", "q_id"])
        .reset_index(drop=True)
    )


def test_stream_range_count_matches_batch(spark, replay_dir, tmp_path):
    sink = ExactlyOnceSink(str(tmp_path / "out"), key_cols=("ws", "q_id"))
    stream = read_sequences_stream(spark, replay_dir, C.allowed_lateness_s)
    res = stream_range_count(stream, C, DEFAULT_QUERY_POINTS)
    metrics_path = str(tmp_path / "metrics.jsonl")
    attach_metrics(spark, metrics_path)
    run_available_now(res, sink.foreach_batch(), str(tmp_path / "ckpt"))
    got = (
        sink.read_committed(spark)
        .toPandas()
        .sort_values(["ws", "q_id"])
        .reset_index(drop=True)
    )
    exp = _batch_expected_range(spark)
    # append mode only emits windows the final watermark closed; the last
    # window(s) may be open. Everything emitted must match batch exactly,
    # and all but the trailing window must be present.
    merged = got.merge(exp, on=["ws", "q_id"], suffixes=("_s", "_b"))
    assert len(merged) == len(got), "streaming emitted a window batch lacks"
    assert (merged["n_matches_s"] == merged["n_matches_b"]).all()
    open_cutoff = exp["ws"].max()  # only trailing windows may be missing
    missing = exp.merge(got, on=["ws", "q_id"], how="left", suffixes=("", "_g"))
    missing = missing[missing["n_matches_g"].isna()]
    assert (missing["ws"] >= open_cutoff - C.tumbling_s).all()
    # exactly-once bookkeeping: lineage exists, batches committed once
    lineage = sink.lineage()
    assert len(lineage) >= 1 and all("rows_out" in e for e in lineage)
    assert os.path.exists(metrics_path)


def test_stream_resume_from_checkpoint(spark, replay_dir, tmp_path):
    """Kill after the first micro-batch; restart with the same checkpoint;
    final output must equal a single uninterrupted run (no dupes/holes)."""
    sink = ExactlyOnceSink(str(tmp_path / "out"), key_cols=("ws", "q_id"))
    ckpt = str(tmp_path / "ckpt")
    stream = read_sequences_stream(spark, replay_dir, C.allowed_lateness_s)
    res = stream_range_count(stream, C, DEFAULT_QUERY_POINTS)

    # phase 1: process exactly one file then stop (kill mid-stream)
    q = (
        res.writeStream.foreachBatch(sink.foreach_batch())
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    import time

    deadline = time.time() + 60
    while time.time() < deadline and not sink.committed_batches():
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(30)
    n_before = len(sink.committed_batches())
    assert n_before >= 1

    # phase 2: resume from the same checkpoint, drain the rest
    stream2 = read_sequences_stream(spark, replay_dir, C.allowed_lateness_s)
    res2 = stream_range_count(stream2, C, DEFAULT_QUERY_POINTS)
    run_available_now(res2, sink.foreach_batch(), ckpt)

    got = sink.read_committed(spark).toPandas()
    # no duplicate (ws, q_id) keys across the kill/restart boundary
    assert not got.duplicated(subset=["ws", "q_id"]).any()
    exp = _batch_expected_range(spark)
    merged = got.merge(exp, on=["ws", "q_id"], suffixes=("_s", "_b"))
    assert len(merged) == len(got)
    assert (merged["n_matches_s"] == merged["n_matches_b"]).all()
    open_cutoff = exp["ws"].max()
    missing = exp.merge(got, on=["ws", "q_id"], how="left", suffixes=("", "_g"))
    missing = missing[missing["n_matches_g"].isna()]
    assert (missing["ws"] >= open_cutoff - C.tumbling_s).all()


def test_late_rows_dropped(spark, tmp_path):
    """A row arriving after the watermark has CLOSED its window is dropped
    (Flink default drop semantics at window finalization — the reference
    never side-outputs late data). Micro-batch nuance (verified empirically):
    Spark finalizes window state at batch end, so the drop applies once the
    window was evicted; a late row for a still-open window is merged — same
    output as Flink for the same watermark sequence at window close."""
    import time as _t

    d = str(tmp_path / "replay")
    os.makedirs(d)
    base = 1_767_225_600

    def mk(docs, tss):
        return pd.DataFrame(
            {
                "doc_id": docs,
                "seq_no": [0] * len(docs),
                "tokens": [[1]] * len(docs),
                "n_tok": [24] * len(docs),
                "source": ["s"] * len(docs),
                "ts_s": tss,
            }
        )

    batches = [
        mk([1, 2], [base, base + 300]),  # watermark -> base+298 after this
        mk([4], [base + 400]),  # batch with wm=base+298 evicts window [base, base+60)
        mk([3], [base + 1]),  # truly late: window already closed -> dropped
        mk([5], [base + 500]),  # final eviction pass
    ]
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("seq_no", pa.int32()),
            ("tokens", pa.list_(pa.int32())),
            ("n_tok", pa.int32()),
            ("source", pa.string()),
            ("ts_s", pa.int64()),
        ]
    )
    for i, chunk in enumerate(batches):
        p = os.path.join(d, f"b{i}.parquet")
        pq.write_table(pa.Table.from_pandas(chunk, schema=schema), p)
        os.utime(p, (_t.time() + i, _t.time() + i))
    sink = ExactlyOnceSink(str(tmp_path / "out"), key_cols=("ws", "q_id"))
    stream = read_sequences_stream(spark, d, lateness_s=2)
    res = stream_range_count(stream, C, DEFAULT_QUERY_POINTS)
    run_available_now(res, sink.foreach_batch(), str(tmp_path / "ckpt"))
    got = sink.read_committed(spark).toPandas()
    w0 = got[(got["ws"] == base) & (got["q_id"] == "q_small")]
    # only doc 1 counted: doc 3's late row dropped, window emitted exactly once
    assert len(w0) == 1 and int(w0["n_matches"].iloc[0]) == 1
    assert not got.duplicated(subset=["ws", "q_id"]).any()


def test_tstats_stateful_matches_batch(spark, replay_dir, tmp_path):
    stream = read_sequences_stream(spark, replay_dir, C.allowed_lateness_s)
    res = tstats_stateful(stream)
    sink = ExactlyOnceSink(str(tmp_path / "out"), key_cols=("doc_id",))
    run_available_now(res, sink.foreach_batch(), str(tmp_path / "ckpt"), output_mode="update")
    got = sink.read_committed(spark).toPandas()
    # update mode: keep the LAST emission per doc (max n_seen)
    got = got.sort_values("n_seen").groupby("doc_id").last().reset_index()
    exp = running_stats(sequences(spark, SF_SMALL)).toPandas()
    m = got.merge(exp, on="doc_id", suffixes=("_s", "_b"))
    assert len(m) == len(exp) == len(got)
    for c in ["n_seen", "n_accepted", "cum_len", "cum_dt", "rate_milli"]:
        assert (m[f"{c}_s"] == m[f"{c}_b"]).all(), c


def test_count_windows(spark, replay_dir, tmp_path):
    stream = read_sequences_stream(spark, replay_dir, C.allowed_lateness_s)
    res = count_windows(stream, size=2)
    sink = ExactlyOnceSink(str(tmp_path / "out"), key_cols=("doc_id",))
    run_available_now(res, sink.foreach_batch(), str(tmp_path / "ckpt"))
    got = sink.read_committed(spark).toPandas()
    # batch oracle: docs with >= 2 rows fire floor(n/2) windows of exactly 2
    seq = sequences(spark, SF_SMALL).toPandas()
    sizes = seq.groupby("doc_id").size()
    exp_windows = int((sizes // 2).sum())
    assert len(got) == exp_windows
    assert (got["n_rows"] == 2).all()


def test_sliding_count_windows(spark, replay_dir, tmp_path):
    """countWindow(size=2, slide=1): fires on EVERY arrival over the last
    <=2 rows — exact batch oracle replayed per doc in seq_no order (per-doc
    arrival order is deterministic: ts = base + seq_no*11)."""
    stream = read_sequences_stream(spark, replay_dir, C.allowed_lateness_s)
    res = count_windows(stream, size=2, slide=1)
    sink = ExactlyOnceSink(str(tmp_path / "out"), key_cols=("doc_id", "win_id"))
    run_available_now(res, sink.foreach_batch(), str(tmp_path / "ckpt"))
    got = (
        sink.read_committed(spark)
        .toPandas()
        .sort_values(["doc_id", "win_id"])
        .reset_index(drop=True)
    )
    seq = sequences(spark, SF_SMALL).toPandas().sort_values(["doc_id", "seq_no"])
    exp_rows = []
    for doc_id, g in seq.groupby("doc_id"):
        vals = g["n_tok"].tolist()
        for i in range(1, len(vals) + 1):  # slide=1 -> fire on every arrival
            win = vals[max(0, i - 2) : i]  # last <= size rows
            exp_rows.append(
                {
                    "doc_id": doc_id,
                    "win_id": i - 1,
                    "n_rows": len(win),
                    "sum_n_tok": sum(win),
                    "min_n_tok": min(win),
                    "max_n_tok": max(win),
                }
            )
    exp = (
        pd.DataFrame(exp_rows)
        .sort_values(["doc_id", "win_id"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    for c in ["doc_id", "win_id", "n_rows", "sum_n_tok", "min_n_tok", "max_n_tok"]:
        assert (got[c].values == exp[c].values).all(), c


def test_session_windows_stream(spark, replay_dir, tmp_path):
    stream = read_sequences_stream(spark, replay_dir, C.allowed_lateness_s)
    res = stream_session_stats(stream, C)
    sink = ExactlyOnceSink(str(tmp_path / "out"), key_cols=("doc_id",))
    run_available_now(res, sink.foreach_batch(), str(tmp_path / "ckpt"))
    got = sink.read_committed(spark).toPandas()
    assert len(got) > 0
    # sessions per doc: rows are 11s apart with a 30s gap -> every doc's rows
    # merge into ONE session of span 11*(n_rows-1)
    seq = sequences(spark, SF_SMALL).toPandas()
    sizes = seq.groupby("doc_id").size()
    full = got.groupby("doc_id")["n_rows"].sum()
    joined = pd.concat([sizes, full], axis=1, join="inner")
    # every emitted doc's emitted rows equal its input rows (closed sessions)
    emitted = joined.dropna()
    assert (emitted.iloc[:, 0] == emitted.iloc[:, 1]).all()


def test_heatmap_stateful_and_eviction(spark, replay_dir, tmp_path):
    """Heatmap state matches the batch per-cell (doc -> maxTs-minTs)
    aggregate; with idle eviction, docs whose last event is older than the
    watermark minus the threshold drop out of state."""
    from spatialflink_spark.operators.cells import cell_expr
    from spatialflink_spark.streaming.stateful import heatmap_stateful

    def run(idle):
        stream = read_sequences_stream(spark, replay_dir, C.allowed_lateness_s)
        s = stream.withColumn("cell", cell_expr(C.grid))
        sink = ExactlyOnceSink(
            str(tmp_path / f"out_{idle}"), key_cols=("cell",)
        )
        res = heatmap_stateful(s, idle_evict_s=idle)
        run_available_now(
            res, sink.foreach_batch(), str(tmp_path / f"ckpt_{idle}"),
            output_mode="update",
        )
        got = sink.read_committed(spark).toPandas()
        # keep the LAST emission per cell (largest batch dir id wins; use
        # cumulative max of n_docs+sum as proxy: last emission = final state)
        return got

    no_evict = run(None)
    final_live = (
        no_evict.groupby("cell")["n_docs"].max().sort_index()
    )
    # batch truth: docs per cell
    seq = sequences(spark, SF_SMALL).toPandas()
    seq["cell"] = (seq["n_tok"] // C.grid.cell_len).clip(0, C.grid.num_cells - 1)
    exp = seq.groupby("cell")["doc_id"].nunique().sort_index()
    assert (final_live.loc[exp.index] == exp).all()

    # aggressive eviction: far fewer docs remain live in the final emission
    evicted = run(60)
    final_evicted = evicted.groupby("cell")["n_docs"].max().sort_index()
    assert final_evicted.sum() < final_live.sum()


def test_sink_merge_on_read(spark, replay_dir, tmp_path):
    """Update-mode stateful output read through MERGE semantics: latest
    batch's row per key wins — equals the batch-mode final state."""
    stream = read_sequences_stream(spark, replay_dir, C.allowed_lateness_s)
    res = tstats_stateful(stream)
    sink = ExactlyOnceSink(str(tmp_path / "out"), key_cols=("doc_id",))
    run_available_now(res, sink.foreach_batch(), str(tmp_path / "ckpt"),
                      output_mode="update")
    merged = sink.read_merged(spark).toPandas()
    assert not merged.duplicated(subset=["doc_id"]).any()
    exp = running_stats(sequences(spark, SF_SMALL)).toPandas()
    m = merged.merge(exp, on="doc_id", suffixes=("_s", "_b"))
    assert len(m) == len(exp) == len(merged)
    for c in ["n_seen", "n_accepted", "cum_len", "cum_dt", "rate_milli"]:
        assert (m[f"{c}_s"] == m[f"{c}_b"]).all(), c


def test_stream_knn_matches_batch_closed_windows(spark, replay_dir, tmp_path):
    """Streaming per-(window, query, doc) min aggregation + batch-side final
    merge == batch kNN for windows the final watermark closed; runs on the
    RocksDB state store. Also checks the state exactly: each (window,
    query, doc) is emitted once, and after the last micro-batch the store
    holds one row per distinct candidate (window, query, doc) in the
    windows the final watermark leaves open — nothing of a closed window."""
    from pyspark.sql import functions as F

    from spatialflink_spark.operators.knn import knn_windowed
    from spatialflink_spark.operators.range_query import range_query
    from spatialflink_spark.streaming.pipeline import (
        finalize_knn,
        stream_knn_topk,
    )

    stream = read_sequences_stream(spark, replay_dir, C.allowed_lateness_s)
    # tumbling kNN; batch expectation uses the same window
    collected = stream_knn_topk(stream, C, DEFAULT_QUERY_POINTS)
    sink = ExactlyOnceSink(str(tmp_path / "out"), key_cols=("ws", "q_id"))
    emitted = []

    def fb(df, bid):
        df.persist()
        try:
            emitted.append(df.select("ws", "q_id", "doc_id").toPandas())
            sink.write_batch(finalize_knn(df), bid)
        finally:
            df.unpersist()

    # the provider class is a SQL conf, NOT a writer option — set it on the
    # session before start() (a writer .option() is silently ignored and the
    # query would run on the default HDFS-backed provider)
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, rocksdb)
    try:
        q = (
            collected.writeStream.foreachBatch(fb)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        progress = q.lastProgress
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)
    # prove RocksDB actually ran: every stateful operator reports rocksdb
    # custom metrics in its progress
    ops = (progress or {}).get("stateOperators", [])
    assert ops and all(
        any(k.startswith("rocksdb") for k in op.get("customMetrics", {}))
        for op in ops
    ), f"RocksDB provider not active: {ops}"
    out = pd.concat(emitted)
    assert len(out) and not out.duplicated().any(), "a (ws, q_id, doc_id) emitted twice"

    seq_t = sequences(spark, SF_SMALL).withColumn(
        "ws", F.expr(f"cast(floor(ts_s / {C.tumbling_s}) * {C.tumbling_s} as bigint)")
    )
    # exact eviction: the state left after the last micro-batch is one row
    # per candidate (window, query, doc) of the still-open windows
    wm_s = pd.Timestamp(progress["eventTime"]["watermark"]).value // 10**9
    open_cands = (
        range_query(seq_t, C.grid, DEFAULT_QUERY_POINTS)
        .where(F.col("ws") + C.tumbling_s > wm_s)
        .select("ws", "q_id", "doc_id")
        .distinct()
        .count()
    )
    assert open_cands > 0
    assert [op["numRowsTotal"] for op in ops] == [open_cands], (wm_s, ops)
    got = sink.read_committed(spark).toPandas()

    # batch truth on tumbling windows
    exp = knn_windowed(seq_t, C.grid, DEFAULT_QUERY_POINTS).toPandas()
    max_ts = sequences(spark, SF_SMALL).agg({"ts_s": "max"}).collect()[0][0]
    closed = exp[exp["ws"] + C.tumbling_s <= max_ts - C.allowed_lateness_s]
    keys = ["ws", "q_id", "rank"]
    a = got.sort_values(keys).reset_index(drop=True)
    b = closed.sort_values(keys).reset_index(drop=True)
    assert len(a) == len(b)
    for c in ["ws", "q_id", "rank", "doc_id", "seq_no", "dist"]:
        assert (a[c].values == b[c].values).all(), c


def test_packed_dist_seq_key_matches_struct_min(spark):
    """The stream kNN's packed bigint min (pipeline.DIST_SEQ_KEY, decoded by
    KEY_DIST / KEY_SEQ) picks the same (dist, seq_no) as
    min(struct(dist, seq_no)) — seeded random groups over the whole
    non-negative int dist and int seq_no ranges, with the boundary values
    mixed into them and in groups of their own, all checked in one
    collect."""
    import random

    from pyspark.sql import functions as F

    from spatialflink_spark.session import local_table
    from spatialflink_spark.streaming.pipeline import DIST_SEQ_KEY, KEY_DIST, KEY_SEQ

    i32 = 2**31
    dists = [0, 1, i32 - 2, i32 - 1]
    seqs = [-i32, -i32 + 1, -1, 0, 1, i32 - 1]
    rng = random.Random(20261019)
    rows = []
    for g in range(300):
        n = rng.randint(1, 6)
        for _ in range(n):
            d = rng.choice(dists) if rng.random() < 0.5 else rng.randrange(i32)
            s = rng.choice(seqs) if rng.random() < 0.5 else rng.randrange(-i32, i32)
            rows.append((g, d, s))
    # every boundary pair, alone and against each other
    rows += [(300 + i, d, s) for i, (d, s) in enumerate((d, s) for d in dists for s in seqs)]
    rows += [(400, d, s) for d in dists for s in seqs]
    rows += [(401, d, s) for d in dists[:2] for s in seqs]
    t = local_table(spark, rows, "g int, dist int, seq_no int")
    got = (
        t.groupBy("g")
        .agg(
            F.min(F.struct("dist", "seq_no")).alias("_m"),
            F.min(F.expr(DIST_SEQ_KEY)).alias("_key"),
        )
        .select(
            "g", "_m.dist", "_m.seq_no",
            F.expr(KEY_DIST).alias("kd"), F.expr(KEY_SEQ).alias("ks"),
        )
        .collect()
    )
    assert len(got) == 300 + len(dists) * len(seqs) + 2
    bad = [r for r in got if (r.dist, r.seq_no) != (r.kd, r.ks)]
    assert not bad, bad[:5]


def test_stream_stream_join_matches_batch(spark, replay_dir, tmp_path):
    """Watermarked stream-stream join (time-range bound) == batch pairs with
    the same cell-equality + |Δts| <= bound + distance predicate."""
    from pyspark.sql import functions as F
    from spatialflink_spark.operators.cells import cell_expr
    from spatialflink_spark.streaming.pipeline import stream_stream_join

    radius = C.join_radius
    left = read_sequences_stream(spark, replay_dir, C.allowed_lateness_s).withColumn(
        "cell", cell_expr(C.grid)
    )
    right = read_sequences_stream(spark, replay_dir, C.allowed_lateness_s).withColumn(
        "cell", cell_expr(C.grid)
    )
    joined = stream_stream_join(left, right, C, radius)
    out = []

    def fb(df, bid):
        out.extend(df.collect())

    q = (
        joined.writeStream.foreachBatch(fb)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = (
        pd.DataFrame([r.asDict() for r in out])
        .assign(pair_ts=lambda d: d["pair_ts"].map(lambda t: int(t.timestamp())))
        .sort_values(["left_doc", "right_doc", "left_seq", "right_seq"])
        .reset_index(drop=True)
    )

    # batch truth: same predicate, no windows — time-range bound
    seq = sequences(spark, SF_SMALL)
    from spatialflink_spark.operators.cells import with_cell

    s = with_cell(seq, C.grid)
    import pyspark.sql.functions as F2

    lf = s.select(
        F2.col("cell").alias("l_cell"), F2.col("doc_id").alias("left_doc"),
        F2.col("seq_no").alias("left_seq"), F2.col("n_tok").alias("l_nt"),
        F2.col("ts_s").alias("l_ts"),
    )
    rf = s.select(
        F2.col("cell").alias("r_cell"), F2.col("doc_id").alias("right_doc"),
        F2.col("seq_no").alias("right_seq"), F2.col("n_tok").alias("r_nt"),
        F2.col("ts_s").alias("r_ts"),
    )
    exp = (
        lf.join(
            rf,
            (F2.col("l_cell") == F2.col("r_cell"))
            & (F2.abs(F2.col("l_nt") - F2.col("r_nt")) <= radius)
            & (F2.abs(F2.col("l_ts") - F2.col("r_ts")) <= C.tumbling_s)
            & (F2.col("left_doc") != F2.col("right_doc")),
        )
        .select(
            "left_doc", "right_doc", "left_seq", "right_seq",
            F2.abs(F2.col("l_nt") - F2.col("r_nt")).alias("dist"),
            F2.greatest("l_ts", "r_ts").alias("pair_ts"),
        )
        .toPandas()
        .sort_values(["left_doc", "right_doc", "left_seq", "right_seq"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    for c in ["left_doc", "right_doc", "left_seq", "right_seq", "dist", "pair_ts"]:
        assert (got[c].values == exp[c].values).all(), c


def test_stream_exact_dedup_matches_batch_hash_set(spark, replay_dir, tmp_path):
    """Streaming dropDuplicates on content_hash: emits exactly one row per
    distinct content (hash set == batch), and each emitted (doc, seq) is one
    of that hash's actual rows (arrival order picks which)."""
    from spatialflink_spark.streaming.pipeline import stream_exact_dedup

    stream = read_sequences_stream(spark, replay_dir, C.allowed_lateness_s)
    res = stream_exact_dedup(stream)
    q = (
        res.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from dedup_stream").toPandas()

    import pyspark.sql.functions as F

    batch = (
        sequences(spark, SF_SMALL)
        .select(
            "doc_id",
            "seq_no",
            F.expr(
                "md5(concat_ws(' ', transform(tokens, t -> cast(t as string))))"
            ).alias("content_hash"),
        )
        .toPandas()
    )
    assert set(got.content_hash) == set(batch.content_hash)
    assert len(got) == batch.content_hash.nunique()
    valid = set(map(tuple, batch[["content_hash", "doc_id", "seq_no"]].values))
    assert all(tuple(r) in valid for r in got[["content_hash", "doc_id", "seq_no"]].values)


def test_stream_neardup_dedup_matches_batch_fingerprint_set(
    spark, replay_dir, tmp_path
):
    """Streaming wide-fingerprint dedup (dropDuplicates on the 60-bit
    SimHash): emits exactly one row per distinct fingerprint (fingerprint
    set == batch over the same kernel), and each emitted (doc, seq) is one
    of that fingerprint's actual rows (arrival order picks which) — the
    near-dup ingest complement of stream_exact_dedup."""
    from spatialflink_spark.operators.dedup import with_wide_simhash
    from spatialflink_spark.streaming.pipeline import stream_neardup_dedup

    stream = read_sequences_stream(spark, replay_dir, C.allowed_lateness_s)
    res = stream_neardup_dedup(stream)
    q = (
        res.writeStream.format("memory")
        .queryName("neardup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from neardup_stream").toPandas()

    batch = with_wide_simhash(
        sequences(spark, SF_SMALL).select("doc_id", "seq_no", "tokens"),
        "tokens",
    ).toPandas()
    assert set(got.simhash) == set(batch.simhash)
    assert len(got) == batch.simhash.nunique()
    valid = set(map(tuple, batch[["simhash", "doc_id", "seq_no"]].values))
    assert all(tuple(r) in valid for r in got[["simhash", "doc_id", "seq_no"]].values)
    # the fixture really exercises the dedup: collisions exist
    assert batch.simhash.nunique() < len(batch)


def test_stream_neardup_dedup_resume_from_checkpoint(spark, replay_dir, tmp_path):
    """Kill the streaming near-dup dedup after its first commit; resume from
    the same checkpoint and drain. The dropDuplicates state lives in the
    checkpoint, so the union of committed rows must still hold EXACTLY one
    row per distinct fingerprint — no re-emission across the kill/restart
    boundary (exactly-once for the dedup family, completing range / kNN /
    mixing)."""
    import time

    from spatialflink_spark.operators.dedup import with_wide_simhash
    from spatialflink_spark.streaming.pipeline import stream_neardup_dedup

    sink = ExactlyOnceSink(str(tmp_path / "out"), key_cols=("simhash",))
    ckpt = str(tmp_path / "ckpt")
    stream = read_sequences_stream(spark, replay_dir, C.allowed_lateness_s)
    res = stream_neardup_dedup(stream)
    q = (
        res.writeStream.foreachBatch(sink.foreach_batch())
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    deadline = time.time() + 60
    while time.time() < deadline and not sink.committed_batches():
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(30)
    assert len(sink.committed_batches()) >= 1

    stream2 = read_sequences_stream(spark, replay_dir, C.allowed_lateness_s)
    res2 = stream_neardup_dedup(stream2)
    run_available_now(res2, sink.foreach_batch(), ckpt)

    got = sink.read_committed(spark).toPandas()
    assert not got.duplicated(subset=["simhash"]).any()
    batch = with_wide_simhash(
        sequences(spark, SF_SMALL).select("doc_id", "seq_no", "tokens"),
        "tokens",
    ).toPandas()
    assert set(got.simhash) == set(batch.simhash)


def test_stream_neardup_dedup_within_watermark(spark, replay_dir, tmp_path):
    """Bounded-state near-dup variant: dropDuplicatesWithinWatermark over
    the wide fingerprint emits at least one row per distinct fingerprint
    (exactly one when all collisions arrive within the watermark delay) and
    never invents rows."""
    from spatialflink_spark.operators.dedup import with_wide_simhash
    from spatialflink_spark.streaming.pipeline import stream_neardup_dedup

    stream = read_sequences_stream(spark, replay_dir, C.allowed_lateness_s)
    res = stream_neardup_dedup(stream, within_watermark=True)
    q = (
        res.writeStream.format("memory")
        .queryName("neardup_stream_ww")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from neardup_stream_ww").toPandas()

    batch = with_wide_simhash(
        sequences(spark, SF_SMALL).select("doc_id", "seq_no", "tokens"),
        "tokens",
    ).toPandas()
    # every distinct fingerprint appears (>= once: far-apart collisions may
    # re-emit under the bounded-state regime)
    assert set(got.simhash) == set(batch.simhash)
    valid = set(map(tuple, batch[["simhash", "doc_id", "seq_no"]].values))
    assert all(tuple(r) in valid for r in got[["simhash", "doc_id", "seq_no"]].values)


def test_stream_exact_dedup_within_watermark(spark, replay_dir, tmp_path):
    """Bounded-state variant: dropDuplicatesWithinWatermark emits at least
    one row per distinct hash (exactly one when all duplicates arrive within
    the watermark delay) and never invents rows."""
    from spatialflink_spark.streaming.pipeline import stream_exact_dedup

    stream = read_sequences_stream(spark, replay_dir, C.allowed_lateness_s)
    res = stream_exact_dedup(stream, within_watermark=True)
    q = (
        res.writeStream.format("memory")
        .queryName("dedup_stream_ww")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from dedup_stream_ww").toPandas()

    import pyspark.sql.functions as F

    batch = (
        sequences(spark, SF_SMALL)
        .select(
            "doc_id",
            "seq_no",
            F.expr(
                "md5(concat_ws(' ', transform(tokens, t -> cast(t as string))))"
            ).alias("content_hash"),
        )
        .toPandas()
    )
    # every distinct hash appears (>= once: far-apart duplicates may re-emit)
    assert set(got.content_hash) == set(batch.content_hash)
    # every emitted row is a genuine input row of its hash
    valid = set(map(tuple, batch[["content_hash", "doc_id", "seq_no"]].values))
    assert all(tuple(r) in valid for r in got[["content_hash", "doc_id", "seq_no"]].values)


def test_continuous_mode_rt_range_alerts(spark, tmp_path):
    """TRUE per-element trigger: the RT range query under continuous
    processing (no micro-batches). Asserts rows flow while running and that
    every emitted row's matches equal the batch-computed predicate for its
    deterministic doc_id."""
    import time as _time

    from spatialflink_spark.config import DEFAULT_QUERY_POINTS
    from spatialflink_spark.streaming.continuous import (
        continuous_range_alerts,
        synthetic_rate_sequences,
    )

    stream = synthetic_rate_sequences(spark, rows_per_second=400, num_partitions=2)
    res = continuous_range_alerts(stream, DEFAULT_QUERY_POINTS)
    q = (
        res.writeStream.format("memory")
        .queryName("cont_rt_alerts")
        .trigger(continuous="1 second")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = _time.time() + 30
        got = None
        while _time.time() < deadline:
            _time.sleep(3)
            got = spark.sql("select * from cont_rt_alerts").toPandas()
            if len(got) >= 100:
                break
        assert got is not None and len(got) >= 100, "no continuous flow"
    finally:
        import threading

        t = threading.Thread(target=q.stop)
        t.daemon = True
        t.start()
        t.join(30)
    # per-record correctness: recompute matches from the deterministic doc_id
    vocab = 127
    for _, r in got.head(500).iterrows():
        n_tok = 1 + (r.doc_id * 37) % vocab
        assert n_tok == r.n_tok
        expect = [
            qp.q_id
            for qp in DEFAULT_QUERY_POINTS
            if abs(n_tok - qp.q_n_tok) <= qp.radius
        ]
        assert list(r.matched_q_ids) == expect and expect


def test_continuous_mode_rt_join_alerts(spark, tmp_path):
    """TRUE per-element trigger for the JOIN shape (TJoinQuery.java:215-260):
    the small join side inlined as an array literal, so the per-record plan
    stays Project/Filter and runs under trigger(continuous=...). Asserts
    rows flow while running and each emitted row's partner set equals the
    batch-computed join predicate for its deterministic doc_id."""
    import time as _time

    from spatialflink_spark.streaming.continuous import (
        continuous_join_alerts,
        synthetic_rate_sequences,
    )

    # static partner objects spread over the synthetic n_tok range [1, 127]
    others = [(1000 + i, 8 + 24 * i) for i in range(6)]
    radius = 5
    stream = synthetic_rate_sequences(spark, rows_per_second=400, num_partitions=2)
    res = continuous_join_alerts(stream, others, radius)
    q = (
        res.writeStream.format("memory")
        .queryName("cont_rt_join")
        .trigger(continuous="1 second")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = _time.time() + 30
        got = None
        while _time.time() < deadline:
            _time.sleep(3)
            got = spark.sql("select * from cont_rt_join").toPandas()
            if len(got) >= 100:
                break
        assert got is not None and len(got) >= 100, "no continuous flow"
    finally:
        import threading

        t = threading.Thread(target=q.stop)
        t.daemon = True
        t.start()
        t.join(30)
    vocab = 127
    for _, r in got.head(500).iterrows():
        n_tok = 1 + (r.doc_id * 37) % vocab
        assert n_tok == r.n_tok
        expect = [
            oid
            for oid, ont in others
            if abs(n_tok - ont) <= radius and oid != r.doc_id
        ]
        assert list(r.matched_ids) == expect and expect


def test_heatmap_state_plateaus_under_eviction(spark, tmp_path):
    """The 10^12-scale knob PROVEN, not just implemented: drive 8 batches of
    50 brand-new docs each (400 total) into one cell with idle_evict_s
    covering only ~2 batch steps — the per-cell doc map (the state payload,
    reported as n_docs in every emission) must PLATEAU at the eviction
    horizon instead of growing with total distinct docs. Runs on RocksDB."""
    import time as _t

    import pyarrow as pa
    import pyarrow.parquet as pq

    from spatialflink_spark.operators.cells import cell_expr
    from spatialflink_spark.streaming.stateful import heatmap_stateful

    d = str(tmp_path / "replay")
    os.makedirs(d)
    base = 1_767_225_600
    n_batches, docs_per_batch, step_s, idle = 8, 50, 100, 150
    schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("seq_no", pa.int32()),
            ("tokens", pa.list_(pa.int32())),
            ("n_tok", pa.int32()),
            ("source", pa.string()),
            ("ts_s", pa.int64()),
        ]
    )
    for b in range(n_batches):
        docs = [b * docs_per_batch + i for i in range(docs_per_batch)]
        chunk = pd.DataFrame(
            {
                "doc_id": docs,
                "seq_no": [0] * len(docs),
                "tokens": [[1]] * len(docs),
                "n_tok": [24] * len(docs),  # one cell
                "source": ["s"] * len(docs),
                "ts_s": [base + b * step_s] * len(docs),
            }
        )
        p = os.path.join(d, f"b{b:02d}.parquet")
        pq.write_table(pa.Table.from_pandas(chunk, schema=schema), p)
        os.utime(p, (_t.time() + b, _t.time() + b))

    conf_key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, rocksdb)
    try:
        stream = read_sequences_stream(spark, d, lateness_s=2)
        s = stream.withColumn("cell", cell_expr(C.grid))
        sink = ExactlyOnceSink(str(tmp_path / "out"), key_cols=("cell",))
        res = heatmap_stateful(s, idle_evict_s=idle)
        run_available_now(
            res, sink.foreach_batch(), str(tmp_path / "ckpt"),
            output_mode="update",
        )
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)
    got = sink.read_committed(spark).toPandas()
    # horizon = idle/step + watermark-lag slack: at most 3 batch generations
    # can be live at any emission; with 400 distinct docs total, a plateau at
    # <= 3 generations proves state is bounded by the horizon, not the stream
    horizon_docs = (idle // step_s + 2) * docs_per_batch
    assert got["n_docs"].max() <= horizon_docs, (
        f"state grew past the eviction horizon: {got['n_docs'].max()}"
    )
    assert got["n_docs"].max() < n_batches * docs_per_batch / 2
    # and eviction actually engaged: the final emission holds fewer docs
    # than the peak plus it saw every batch (one emission per micro-batch)
    assert len(got) >= n_batches - 1


def test_stream_knn_resume_from_checkpoint(spark, replay_dir, tmp_path):
    """Kill the windowed kNN stream after its first commit; resume from the
    same checkpoint (the per-doc min aggregation state and the watermark
    live in the checkpoint); final sink must equal batch kNN for closed
    windows with no duplicate keys across the kill/restart boundary."""
    import time as _time

    from spatialflink_spark.streaming.pipeline import finalize_knn, stream_knn_topk

    sink = ExactlyOnceSink(str(tmp_path / "out"), key_cols=("ws", "q_id", "rank"))
    ckpt = str(tmp_path / "ckpt")

    def fb(df, bid):
        sink.write_batch(finalize_knn(df), bid)

    # phase 1: process at least one micro-batch then stop mid-stream
    stream = read_sequences_stream(spark, replay_dir, C.allowed_lateness_s)
    q = (
        stream_knn_topk(stream, C, DEFAULT_QUERY_POINTS)
        .writeStream.foreachBatch(fb)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    deadline = _time.time() + 60
    while _time.time() < deadline and not sink.committed_batches():
        _time.sleep(0.5)
    q.stop()
    q.awaitTermination(30)
    assert len(sink.committed_batches()) >= 1

    # phase 2: resume from the same checkpoint, drain the rest
    stream2 = read_sequences_stream(spark, replay_dir, C.allowed_lateness_s)
    run_available_now(
        stream_knn_topk(stream2, C, DEFAULT_QUERY_POINTS), fb, ckpt
    )

    got = sink.read_committed(spark).toPandas()
    assert not got.duplicated(subset=["ws", "q_id", "rank"]).any()

    from spatialflink_spark.operators.knn import knn_windowed
    from pyspark.sql import functions as F

    seq_t = sequences(spark, SF_SMALL).withColumn(
        "ws", F.expr(f"cast(floor(ts_s / {C.tumbling_s}) * {C.tumbling_s} as bigint)")
    )
    exp = knn_windowed(seq_t, C.grid, DEFAULT_QUERY_POINTS).toPandas()
    max_ts = sequences(spark, SF_SMALL).agg({"ts_s": "max"}).collect()[0][0]
    closed = exp[exp["ws"] + C.tumbling_s <= max_ts - C.allowed_lateness_s]
    keys = ["ws", "q_id", "rank"]
    a = got.sort_values(keys).reset_index(drop=True)
    b = closed.sort_values(keys).reset_index(drop=True)
    assert len(a) == len(b)
    for c in ["ws", "q_id", "rank", "doc_id", "seq_no", "dist"]:
        assert (a[c].values == b[c].values).all(), c


def test_stream_decontaminate_matches_batch(spark, replay_dir, tmp_path):
    """Streaming decontamination == the same stateless filter run in batch:
    identical surviving (doc_id, seq_no) set and identical overlap counts,
    with the probe derived from the doc_id % 13 eval slice."""
    import pyspark.sql.functions as F

    from spatialflink_spark.streaming.pipeline import (
        stream_decontaminate,
        token_shingle_expr,
    )

    seq = sequences(spark, SF_SMALL)
    probe = (
        seq.where("doc_id % 13 = 0")
        .select(F.explode(F.expr(token_shingle_expr())).alias("h"))
        .distinct()
    )
    stream = read_sequences_stream(spark, replay_dir, C.allowed_lateness_s)
    res = stream_decontaminate(
        stream.where("doc_id % 13 <> 0"), probe
    ).select("doc_id", "seq_no", "n_shared_shingles")
    q = (
        res.writeStream.format("memory")
        .queryName("decon_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from decon_stream").toPandas()

    batch = (
        stream_decontaminate(seq.where("doc_id % 13 <> 0"), probe)
        .select("doc_id", "seq_no", "n_shared_shingles")
        .toPandas()
    )
    key = lambda df: sorted(map(tuple, df.values))
    assert key(got) == key(batch)
    assert len(got) > 0
    # and something was actually dropped (the filter is not a pass-through)
    assert len(got) < seq.where("doc_id % 13 <> 0").count()


def test_continuous_mode_contamination_alerts(spark, tmp_path):
    """Per-record contamination alert under TRUE continuous processing: the
    probe shingle set inlined as a literal, rows flow without micro-batches,
    and every emitted row's overlap count equals the batch-recomputed value
    for its deterministic tokens."""
    import time as _time

    from spatialflink_spark.config import HASH_MOD, VOCAB_SIZE
    from spatialflink_spark.streaming.continuous import (
        continuous_contamination_alerts,
        synthetic_rate_sequences,
        with_synthetic_tokens,
    )

    def toks(doc_id, n_tok, max_tok=24):
        return [(doc_id * 31 + i * 7) % VOCAB_SIZE for i in range(1, min(n_tok, max_tok) + 1)]

    def shingles(ts):
        if len(ts) < 3:
            return set()
        return {(ts[i] * 131 * 131 + ts[i + 1] * 131 + ts[i + 2]) % HASH_MOD
                for i in range(len(ts) - 2)}

    # probe = the shingles of every doc_id % 13 == 0 stream row's tokens
    # (n_tok is deterministic in doc_id, so the probe is computable ahead)
    vocab = 127
    probe = set()
    for d in range(0, 2000, 13):
        probe |= shingles(toks(d, 1 + (d * 37) % vocab))
    stream = with_synthetic_tokens(
        synthetic_rate_sequences(spark, rows_per_second=400, num_partitions=2)
    ).where("doc_id % 13 <> 0")
    res = continuous_contamination_alerts(stream, probe, min_overlap=1)
    q = (
        res.writeStream.format("memory")
        .queryName("cont_contam")
        .trigger(continuous="1 second")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = _time.time() + 40
        got = None
        while _time.time() < deadline:
            _time.sleep(3)
            got = spark.sql("select * from cont_contam").toPandas()
            if len(got) >= 20:
                break
        assert got is not None and len(got) >= 20, "no continuous flow"
    finally:
        import threading

        t = threading.Thread(target=q.stop)
        t.daemon = True
        t.start()
        t.join(30)
    for _, r in got.head(200).iterrows():
        expect = len(shingles(toks(int(r.doc_id), int(r.n_tok))) & probe)
        assert expect == r.n_shared_shingles and expect >= 1


def test_stream_source_mix_matches_batch(spark, replay_dir, tmp_path):
    """Streaming source mixing == the same stateless rate-filter run in
    batch: identical surviving (doc_id, seq_no, rate_bp) set, with rates
    from the static snapshot (mix_rates_snapshot) on both sides."""
    from spatialflink_spark.operators.mixing import mix_rates_snapshot
    from spatialflink_spark.streaming.pipeline import stream_source_mix

    seq = sequences(spark, SF_SMALL)
    rates = mix_rates_snapshot(seq).localCheckpoint()
    stream = read_sequences_stream(spark, replay_dir, C.allowed_lateness_s)
    res = stream_source_mix(stream, rates).select("doc_id", "seq_no", "rate_bp")
    q = (
        res.writeStream.format("memory")
        .queryName("mix_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from mix_stream").toPandas()

    batch = (
        stream_source_mix(seq, rates)
        .select("doc_id", "seq_no", "rate_bp")
        .toPandas()
    )
    key = lambda df: sorted(map(tuple, df.values))
    assert key(got) == key(batch)
    assert len(got) > 0
    # the quota filter genuinely drops rows (rates below 10000 exist)
    assert len(got) < seq.count()


def test_continuous_mode_mix_filter(spark, tmp_path):
    """Per-record source mixing under TRUE continuous processing: rate table
    inlined as a map literal, rows flow without micro-batches, every emitted
    row's LCG draw is under its source's rate, a zero-rate source never
    emits, and a source absent from the table defaults to keep-all."""
    import time as _time

    from spatialflink_spark.operators.mixing import BP, LCG_A, LCG_C
    from spatialflink_spark.streaming.continuous import (
        continuous_mix_filter,
        synthetic_rate_sequences,
    )

    rates = [("src_0", 2500), ("src_1", 7500), ("src_2", 0)]  # src_3 absent
    stream = synthetic_rate_sequences(spark, rows_per_second=400, num_partitions=2)
    res = continuous_mix_filter(stream, rates)
    q = (
        res.writeStream.format("memory")
        .queryName("cont_mix")
        .trigger(continuous="1 second")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = _time.time() + 40
        got = None
        while _time.time() < deadline:
            _time.sleep(3)
            got = spark.sql("select * from cont_mix").toPandas()
            if len(got) >= 50 and got["source"].nunique() >= 3:
                break
        assert got is not None and len(got) >= 50, "no continuous flow"
    finally:
        import threading

        t = threading.Thread(target=q.stop)
        t.daemon = True
        t.start()
        t.join(30)

    def lcg(doc_id):
        return (((doc_id % 2**31) * LCG_A + LCG_C) % 2**31) % BP

    table = dict(rates)
    assert not (got["source"] == "src_2").any()  # zero rate drops all
    assert (got["source"] == "src_3").any()  # absent source keeps flowing
    for _, r in got.head(500).iterrows():
        rate = table.get(r.source, BP)
        assert r.rate_bp == rate and lcg(int(r.doc_id)) < rate


def test_stream_mix_resume_from_checkpoint(spark, replay_dir, tmp_path):
    """Kill the streaming mixing pipeline after its first commit; resume
    from the same checkpoint; the committed windowed counts must have no
    duplicate keys and match the batch recomputation for every closed
    window — exactly-once across the kill/restart boundary for the fourth
    streaming path."""
    import time

    import pyspark.sql.functions as F

    from spatialflink_spark.operators.mixing import mix_rates_snapshot
    from spatialflink_spark.streaming.pipeline import stream_source_mix

    seq = sequences(spark, SF_SMALL)
    rates = mix_rates_snapshot(seq).localCheckpoint()
    sink = ExactlyOnceSink(str(tmp_path / "out"), key_cols=("ws", "source"))
    ckpt = str(tmp_path / "ckpt")

    def agg(stream):
        return (
            stream_source_mix(stream, rates)
            .groupBy(
                F.window("event_ts", f"{C.tumbling_s} seconds").alias("win"),
                "source",
            )
            .agg(F.count(F.lit(1)).alias("n_kept"))
            .select(
                F.expr("cast(unix_timestamp(win.start) as bigint)").alias("ws"),
                "source",
                "n_kept",
            )
        )

    q = (
        agg(read_sequences_stream(spark, replay_dir, C.allowed_lateness_s))
        .writeStream.foreachBatch(sink.foreach_batch())
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    deadline = time.time() + 60
    while time.time() < deadline and not sink.committed_batches():
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(30)
    assert len(sink.committed_batches()) >= 1

    run_available_now(
        agg(read_sequences_stream(spark, replay_dir, C.allowed_lateness_s)),
        sink.foreach_batch(),
        ckpt,
    )
    got = sink.read_committed(spark).toPandas()
    assert not got.duplicated(subset=["ws", "source"]).any()
    assert len(got) > 0

    batch = (
        stream_source_mix(seq, rates)
        .withColumn("ws", F.expr(f"cast(floor(ts_s / {C.tumbling_s}) * {C.tumbling_s} as bigint)"))
        .groupBy("ws", "source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .toPandas()
    )
    merged = got.merge(batch, on=["ws", "source"], suffixes=("_s", "_b"))
    assert len(merged) == len(got)
    assert (merged["n_kept_s"] == merged["n_kept_b"]).all()


def test_stream_token_counts_matches_batch(spark, replay_dir, tmp_path):
    """Streaming running token counts == the batch counts after a full
    drain: for every token, the LAST update-mode emission equals the batch
    groupBy count (vocabulary-bounded state)."""
    import pyspark.sql.functions as F

    from spatialflink_spark.streaming.pipeline import stream_token_counts

    stream = read_sequences_stream(spark, replay_dir, C.allowed_lateness_s)
    res = stream_token_counts(stream)
    q = (
        res.writeStream.format("memory")
        .queryName("tok_counts")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # update mode appends one row per (micro-batch, changed token); the
    # final count per token is the max across emissions (counts only grow)
    got = (
        spark.sql("select * from tok_counts")
        .groupBy("token")
        .agg(F.max("n_occurrences").alias("n_occurrences"))
        .toPandas()
    )
    batch = (
        sequences(spark, SF_SMALL)
        .select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .toPandas()
    )
    key = lambda df: sorted(map(tuple, df.values))
    assert key(got) == key(batch)
    assert len(got) > 0


def test_stream_source_mix_keeps_unknown_sources(spark):
    """A source ABSENT from the rates snapshot (it appeared between
    refreshes) must keep everything — the zero-mass rule, matching the
    continuous-mode face; an inner join would silently drop it."""
    from spatialflink_spark.streaming.pipeline import stream_source_mix

    rows = spark.createDataFrame(
        [(1, 0, [1], 1, "known", 100), (2, 0, [2], 1, "brand_new", 101)],
        "doc_id bigint, seq_no int, tokens array<int>, n_tok int, source string, ts_s bigint",
    )
    rates = spark.createDataFrame([("known", 10_000)], "source string, rate_bp int")
    got = {(r.source, r.rate_bp) for r in stream_source_mix(rows, rates).collect()}
    assert got == {("known", 10_000), ("brand_new", 10_000)}


def test_stream_repetition_filter_matches_batch(spark, replay_dir, tmp_path):
    """Streaming repetition filter (stateless per-row Gopher rule): every
    surviving input row emits exactly one verdict row, and the full result
    frame equals the batch with_repetition kernel over the same sequences —
    the zero-state face of text.quality_filter's token-domain slice."""
    from pyspark.sql import functions as F

    from spatialflink_spark.operators.text import with_repetition
    from spatialflink_spark.streaming.pipeline import stream_repetition_filter

    stream = read_sequences_stream(spark, replay_dir, C.allowed_lateness_s)
    res = stream_repetition_filter(stream)
    q = (
        res.writeStream.format("memory")
        .queryName("repfilter_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.sql("select * from repfilter_stream")
        .toPandas()
        .sort_values(["doc_id", "seq_no"])
        .reset_index(drop=True)
    )
    batch = (
        with_repetition(
            sequences(spark, SF_SMALL).select("doc_id", "seq_no", "n_tok", "tokens"),
            "tokens",
        )
        .select(
            "doc_id",
            "seq_no",
            "n_grams",
            "dup_gram_frac",
            "top_gram_frac",
            F.expr(
                "CAST(CASE WHEN n_tok >= 15 AND dup_gram_frac <= 0.08 "
                "THEN 1 ELSE 0 END AS INT)"
            ).alias("keep"),
        )
        .toPandas()
        .sort_values(["doc_id", "seq_no"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, batch)
    # both verdicts occur — the thresholds actually split the corpus
    assert set(got.keep.unique()) == {0, 1}


def test_stream_vocab_first_matches_batch(spark, replay_dir, tmp_path):
    """Update-mode first-arrival per token == batch min(ts_s) per token
    after a full drain, and state is vocabulary-bounded (one emission key
    per distinct token)."""
    from pyspark.sql import functions as F

    from spatialflink_spark.streaming.pipeline import stream_vocab_first

    stream = read_sequences_stream(spark, replay_dir, C.allowed_lateness_s)
    q = (
        stream_vocab_first(stream)
        .writeStream.format("memory")
        .queryName("vocab_first")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # update mode emits a row per (micro-batch, changed token); the final
    # first-arrival is the MIN across emissions (mins only tighten)
    got = (
        spark.sql("select * from vocab_first")
        .groupBy("tok")
        .agg(F.min("first_ts_s").alias("first_ts_s"))
        .toPandas()
    )
    batch = (
        sequences(spark, SF_SMALL)
        .select(F.explode("tokens").alias("tok"), "ts_s")
        .groupBy("tok")
        .agg(F.expr("cast(min(ts_s) as bigint)").alias("first_ts_s"))
        .toPandas()
    )
    merged = got.merge(batch, on="tok", suffixes=("_s", "_b"))
    assert len(merged) == len(got) == len(batch)
    assert (merged["first_ts_s_s"] == merged["first_ts_s_b"]).all()


def test_stream_vocab_merge_on_read_multibatch(spark, replay_dir, tmp_path):
    """Multi-batch drain (maxFilesPerTrigger=1) through the keyed changelog
    sink: read_merged (max-batch_id-wins) must still equal the batch
    first-arrival table — a later batch only re-emits a token if its min
    tightened, so the LAST write per key is the global min."""
    from pyspark.sql import functions as F

    from spatialflink_spark.streaming.pipeline import (
        run_available_now,
        stream_vocab_first,
    )

    stream = read_sequences_stream(
        spark, replay_dir, C.allowed_lateness_s, max_files_per_trigger=1
    )
    sink = ExactlyOnceSink(str(tmp_path / "out"), key_cols=("tok",))
    run_available_now(
        stream_vocab_first(stream),
        sink.foreach_batch(),
        str(tmp_path / "ckpt2"),
        output_mode="update",
    )
    assert len(sink.committed_batches()) > 1, "fixture must span > 1 batch"
    got = sink.read_merged(spark).select("tok", "first_ts_s").toPandas()
    batch = (
        sequences(spark, SF_SMALL)
        .select(F.explode("tokens").alias("tok"), "ts_s")
        .groupBy("tok")
        .agg(F.expr("cast(min(ts_s) as bigint)").alias("first_ts_s"))
        .toPandas()
    )
    merged = got.merge(batch, on="tok", suffixes=("_s", "_b"))
    assert len(merged) == len(got) == len(batch)
    assert (merged["first_ts_s_s"] == merged["first_ts_s_b"]).all()


def test_stream_vocab_resume_from_checkpoint(spark, replay_dir, tmp_path):
    """Kill the update-mode vocabulary-novelty stream after its first
    commit; resume from the same checkpoint and drain. The per-token min
    state lives in the checkpoint, so the MERGE-on-read snapshot across the
    kill/restart boundary must equal the batch first-arrival table —
    exactly-once for the update-mode changelog family."""
    import time

    from pyspark.sql import functions as F

    from spatialflink_spark.streaming.pipeline import (
        run_available_now,
        stream_vocab_first,
    )

    sink = ExactlyOnceSink(str(tmp_path / "out"), key_cols=("tok",))
    ckpt = str(tmp_path / "ckpt")
    stream = read_sequences_stream(spark, replay_dir, C.allowed_lateness_s)
    q = (
        stream_vocab_first(stream)
        .writeStream.foreachBatch(sink.foreach_batch())
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    deadline = time.time() + 60
    while time.time() < deadline and not sink.committed_batches():
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(30)
    assert len(sink.committed_batches()) >= 1

    stream2 = read_sequences_stream(spark, replay_dir, C.allowed_lateness_s)
    run_available_now(
        stream_vocab_first(stream2),
        sink.foreach_batch(),
        ckpt,
        output_mode="update",
    )

    got = sink.read_merged(spark).select("tok", "first_ts_s").toPandas()
    batch = (
        sequences(spark, SF_SMALL)
        .select(F.explode("tokens").alias("tok"), "ts_s")
        .groupBy("tok")
        .agg(F.expr("cast(min(ts_s) as bigint)").alias("first_ts_s"))
        .toPandas()
    )
    merged = got.merge(batch, on="tok", suffixes=("_s", "_b"))
    assert len(merged) == len(got) == len(batch)
    assert (merged["first_ts_s_s"] == merged["first_ts_s_b"]).all()


def _mk_batch(spark, bid: int, keys: list[int]):
    return spark.createDataFrame(
        [(k, bid * 10 + k) for k in keys], ["k", "v"]
    )


def test_sink_compaction_equivalence_and_vacuum(spark, tmp_path):
    """compact() must preserve read_merged/read_committed EXACTLY while
    dropping the superseded per-batch dirs; replay-skip and a second
    compaction keep working; an idle compaction is a no-op."""
    from spatialflink_spark.streaming.sink import ExactlyOnceSink

    a = ExactlyOnceSink(str(tmp_path / "a"), key_cols=("k",))
    b = ExactlyOnceSink(str(tmp_path / "b"), key_cols=("k",))
    # update-mode style: overlapping keys, later batch wins per key
    plan = {0: [0, 1, 2], 1: [1, 3], 2: [2, 4, 5], 3: [0, 5, 6]}
    for bid in (0, 1, 2):
        a.write_batch(_mk_batch(spark, bid, plan[bid]), bid)
        b.write_batch(_mk_batch(spark, bid, plan[bid]), bid)

    entry = a.compact(spark)
    assert entry["compact_watermark"] == 2
    assert entry["folded_batches"] == [0, 1, 2]
    # rows (from the segment's footers) is the segment's row count
    seg = str(tmp_path / "a" / "data" / "compact=2")
    assert entry["rows"] == spark.read.parquet(seg).count() == 6
    # vacuum removed the folded batch dirs; ledgers retained
    for bid in (0, 1, 2):
        assert not os.path.exists(str(tmp_path / "a" / "data" / f"batch_id={bid}"))
    assert a.committed_batches() == {0, 1, 2}
    assert os.path.exists(str(tmp_path / "a" / "data" / "compact=2"))

    # post-compaction writes land as normal batches
    a.write_batch(_mk_batch(spark, 3, plan[3]), 3)
    b.write_batch(_mk_batch(spark, 3, plan[3]), 3)

    def merged(s):
        return (
            s.read_merged(spark)
            .toPandas()
            .sort_values("k")
            .reset_index(drop=True)
        )

    pd.testing.assert_frame_equal(merged(a), merged(b))
    # replay of an already-committed, vacuumed batch must still skip
    a.write_batch(_mk_batch(spark, 1, plan[1]), 1)
    assert not os.path.exists(str(tmp_path / "a" / "data" / "batch_id=1"))
    pd.testing.assert_frame_equal(merged(a), merged(b))

    # second compaction folds the old segment + batch 3, drops both
    entry2 = a.compact(spark)
    assert entry2["compact_watermark"] == 3 and entry2["folded_compact"] == 2
    assert not os.path.exists(str(tmp_path / "a" / "data" / "compact=2"))
    assert not os.path.exists(str(tmp_path / "a" / "data" / "batch_id=3"))
    pd.testing.assert_frame_equal(merged(a), merged(b))
    # nothing new: no-op
    assert a.compact(spark).get("noop") is True
    # read_committed sees exactly the snapshot rows too
    assert a.read_committed(spark).count() == len(merged(b))
    assert [e["compact_watermark"] for e in a.compaction_lineage()] == [2, 3]


def test_sink_compaction_crash_before_commit_is_invisible(spark, tmp_path):
    """A compacted data dir WITHOUT its ledger entry (crash between data
    write and commit) must not change what readers see, and the next
    compact() must overwrite it cleanly."""
    from spatialflink_spark.streaming.sink import ExactlyOnceSink

    s = ExactlyOnceSink(str(tmp_path / "s"), key_cols=("k",))
    for bid, keys in {0: [0, 1], 1: [1, 2]}.items():
        s.write_batch(_mk_batch(spark, bid, keys), bid)
    before = (
        s.read_merged(spark).toPandas().sort_values("k").reset_index(drop=True)
    )
    # simulate the crash: data written, ledger never committed
    garbage = _mk_batch(spark, 99, [7, 8, 9])
    garbage.write.mode("overwrite").parquet(
        str(tmp_path / "s" / "data" / "compact=1")
    )
    after = (
        s.read_merged(spark).toPandas().sort_values("k").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(before, after)
    # recovery: a real compact overwrites the orphan and commits
    entry = s.compact(spark)
    assert entry["compact_watermark"] == 1
    final = (
        s.read_merged(spark).toPandas().sort_values("k").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(before, final)


def _aggregate_lineage(df, keys):
    """Reference lineage: the per-partition count/min/max aggregation the
    sink ran as a second job before it read its footers."""
    import pyspark.sql.functions as F

    rows = (
        df.groupBy(F.spark_partition_id().alias("pid"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            *[F.min(c).alias(f"min_{c}") for c in keys],
            *[F.max(c).alias(f"max_{c}") for c in keys],
        )
        .collect()
    )
    counts = [r["cnt"] for r in rows]
    stats = {}
    if sum(counts):
        for c in keys:
            for agg, pick in (("min", min), ("max", max)):
                vals = [r[f"{agg}_{c}"] for r in rows if r[f"{agg}_{c}"] is not None]
                stats[f"{agg}_{c}"] = str(pick(vals)) if vals else None
    return {"rows_out": sum(counts), "partition_rows": sorted(counts), "key_range": stats}


def test_footer_lineage_matches_aggregate_lineage(spark, tmp_path):
    """The ledger's lineage read from the written files' footers equals the
    per-partition aggregate over the micro-batch, on the edge cases where
    footers and partitions could disagree."""
    import pyspark.sql.functions as F

    from spatialflink_spark.streaming.sink import _footers

    big = "m" * 5000  # parquet-mr drops min/max for binary values over 4 KB
    rng = spark.range(0, 1000, numPartitions=5)
    cases = {
        "partitions": rng.select(
            (F.col("id") - 500).alias("k"), F.expr("cast(id % 7 - 3 as int)").alias("i"),
            F.expr("concat('s', id)").alias("s"),
        ),
        "empty_partitions": spark.range(0, 3, numPartitions=6).withColumnRenamed("id", "k"),
        "empty_batch": rng.where("id < 0").withColumnRenamed("id", "k"),
        "all_null_keys": rng.select(
            F.lit(None).cast("bigint").alias("k"), F.lit(None).cast("string").alias("s"),
        ),
        "some_null_keys": rng.select(
            F.expr("IF(id % 3 = 0, NULL, id)").alias("k"),
            F.expr("IF(id < 500, NULL, cast(id as string))").alias("s"),
        ),
        "non_ascii": spark.createDataFrame(
            [("é", 1), ("z", 2), ("日本", 3), ("Z", 4), ("😀", 5), ("ａ", 6)], "s string, k int"
        ).repartition(3, "k"),
        "negative_ints": spark.createDataFrame(
            [(-(2**63), -(2**31)), (-1, -7), (5, 2**31 - 1)], "k bigint, i int"
        ).repartition(2, "k"),
        "over_4kb_key": spark.createDataFrame(
            [(big, 1), ("a", 2), (big + "z", 3), ("b", 4)], "s string, k int"
        ).repartition(2, "k"),
        "bool_date_short": spark.createDataFrame(
            [(1, True), (-2, False), (3, None)], "k smallint, b boolean"
        ).select("k", "b", F.expr("date_add(date'2024-02-28', k)").alias("t")),
    }
    sinks = {}
    for name, df in cases.items():
        keys = [c for c in ("k", "i", "s", "b", "t") if c in df.columns]
        sinks[name] = ExactlyOnceSink(str(tmp_path / name), key_cols=tuple(keys))
        df = df.persist()
        want = _aggregate_lineage(df, keys)
        sinks[name].write_batch(df, 0)
        df.unpersist()
        got = sinks[name].lineage()[0]
        assert {k: got[k] for k in want} == want, name
    # the >4 KB case really read a file whose footer lacks the bounds
    assert any(
        not md.row_group(0).column(0).statistics.has_min_max
        for _, _, md in _footers(str(tmp_path / "over_4kb_key" / "data" / "batch_id=0"))
    )
    assert sinks["over_4kb_key"].lineage()[0]["key_range"]["max_s"] == big + "z"
    # a key type whose footer order is not Spark's is refused before writing
    with pytest.raises(TypeError, match="double"):
        ExactlyOnceSink(str(tmp_path / "d"), key_cols=("d",)).write_batch(
            rng.selectExpr("cast(id as double) as d"), 0
        )
    assert not os.path.exists(str(tmp_path / "d" / "data" / "batch_id=0"))

    # one partition split into several files still sums per partition id
    df = rng.select(F.col("id").alias("k")).persist()
    want = _aggregate_lineage(df, ["k"])
    split = ExactlyOnceSink(str(tmp_path / "split"), key_cols=("k",))
    prev = spark.conf.get("spark.sql.files.maxRecordsPerFile")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "1")
    try:
        split.write_batch(df, 0)
    finally:
        spark.conf.set("spark.sql.files.maxRecordsPerFile", prev)
        df.unpersist()
    out = str(tmp_path / "split" / "data" / "batch_id=0")
    assert len(_footers(out)) == 1000
    got = split.lineage()[0]
    assert {k: got[k] for k in want} == want
    assert got["partition_rows"] == [200] * 5


def test_write_batch_is_one_spark_job(spark, tmp_path):
    """A micro-batch costs exactly one Spark job on the commit path (the
    parquet write; lineage comes from its footers) and on the replay path
    (the noop write that consumes an already-committed batch)."""
    sc = spark.sparkContext
    sink = ExactlyOnceSink(str(tmp_path / "out"), key_cols=("k",))
    df = spark.range(0, 100, numPartitions=4).withColumnRenamed("id", "k")

    def jobs(group, bid):
        sc.setJobGroup(group, group)
        try:
            sink.write_batch(df, bid)
        finally:
            for prop in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(prop, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs(f"sink-commit-{id(sink)}", 0) == 1
    assert jobs(f"sink-replay-{id(sink)}", 0) == 1
    assert sink.lineage()[0]["rows_out"] == 100


def test_stream_neardup_window_stats_matches_batch(spark, replay_dir, tmp_path):
    """Multi-batch (maxFilesPerTrigger=1) windowed near-dup stats == the
    batch fingerprint + count over watermark-closed windows — the
    watermark-advancement coverage the availableNow gate run doesn't
    exercise."""
    import pyspark.sql.functions as F

    from spatialflink_spark.operators.dedup import with_wide_simhash
    from spatialflink_spark.streaming.pipeline import stream_neardup_window_stats

    stream = read_sequences_stream(spark, replay_dir, C.allowed_lateness_s)
    res = stream_neardup_window_stats(stream, C)
    q = (
        res.writeStream.format("memory")
        .queryName("neardup_stats")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from neardup_stats").toPandas()
    seq = sequences(spark, SF_SMALL)
    wlim = seq.agg(
        F.expr(f"max(ts_s) - {C.allowed_lateness_s}").alias("w")
    ).collect()[0]["w"]
    batch = (
        with_wide_simhash(
            seq.select(
                "n_tok",
                "tokens",
                F.expr(
                    f"cast(floor(ts_s / {C.tumbling_s}) * {C.tumbling_s} as bigint)"
                ).alias("ws"),
            ),
            "tokens",
        )
        .where(F.expr(f"ws + {C.tumbling_s} <= {wlim}"))
        .groupBy("ws", "simhash")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("n_tok").cast("bigint")).alias("tok_rows"),
        )
        .toPandas()
    )
    key = lambda df: sorted(map(tuple, df[["ws", "simhash", "n_rows", "tok_rows"]].values))
    assert key(got) == key(batch)
    assert len(got) > 0


def test_stream_chunk_stats_matches_batch(spark, replay_dir, tmp_path):
    """Multi-batch (maxFilesPerTrigger=1) chunk-volume stats == the batch
    slicing arithmetic over watermark-closed windows."""
    import pyspark.sql.functions as F

    from spatialflink_spark.operators.text import CHUNK_S, CHUNK_W
    from spatialflink_spark.streaming.pipeline import stream_chunk_stats

    stream = read_sequences_stream(spark, replay_dir, C.allowed_lateness_s)
    res = stream_chunk_stats(stream, C)
    q = (
        res.writeStream.format("memory")
        .queryName("chunk_stats")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from chunk_stats").toPandas()
    seq = sequences(spark, SF_SMALL)
    wlim = seq.agg(
        F.expr(f"max(ts_s) - {C.allowed_lateness_s}").alias("w")
    ).collect()[0]["w"]
    batch = (
        seq.select(
            "source",
            F.expr(
                f"cast(floor(ts_s / {C.tumbling_s}) * {C.tumbling_s} as bigint)"
            ).alias("ws"),
            F.expr(
                f"CASE WHEN size(tokens) >= 1 THEN"
                f" transform(sequence(1, size(tokens), {CHUNK_S}),"
                f" s -> size(slice(tokens, s, {CHUNK_W})))"
                " ELSE array() END"
            ).alias("_cl"),
        )
        .where(F.expr(f"ws + {C.tumbling_s} <= {wlim}"))
        .groupBy("ws", "source")
        .agg(
            F.expr("cast(sum(size(_cl)) as bigint)").alias("n_chunks"),
            F.expr(
                "cast(sum(aggregate(_cl, 0, (a, x) -> a + x)) as bigint)"
            ).alias("chunk_tok"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .toPandas()
    )
    cols = ["ws", "source", "n_chunks", "chunk_tok", "n_rows"]
    key = lambda df: sorted(map(tuple, df[cols].values))
    assert key(got) == key(batch)
    assert len(got) > 0


def test_stream_gate_restores_shuffle_width(spark):
    """gate._stream_gate runs every stream gate at a 4-partition state
    store and must hand the session back with its own
    spark.sql.shuffle.partitions and no stream left running, whether
    `build` raises, a micro-batch fails, or the drain succeeds."""
    from spatialflink_spark import gate

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:

        def broken_build(stream):
            assert spark.conf.get(key) == "4"
            raise RuntimeError("build failed")

        with pytest.raises(RuntimeError, match="build failed"):
            gate._stream_gate(spark, SF_SMALL, ("ws", "q_id"), broken_build)
        assert spark.conf.get(key) == "7"
        assert spark.streams.active == []

        def range_count(stream):
            return stream_range_count(stream, C, DEFAULT_QUERY_POINTS)

        def broken_finalize(df):
            raise RuntimeError("finalize failed")

        with pytest.raises(Exception, match="finalize failed"):
            gate._stream_gate(
                spark, SF_SMALL, ("ws", "q_id"), range_count, finalize=broken_finalize
            )
        assert spark.conf.get(key) == "7"
        assert spark.streams.active == []

        sink = gate._stream_gate(spark, SF_SMALL, ("ws", "q_id"), range_count)
        assert spark.conf.get(key) == "7"
        assert spark.streams.active == []
        assert sink.read_committed(spark).count() > 0
    finally:
        spark.conf.set(key, prev)
