"""The benchmark's workloads, driven through the program's public functions.

- grid_stream: grid_batch's passes (range, kNN, self-join), then one
  stream_knn_replay drain, in one session over one input.
- curation_batch: passes of curation_pipeline, bm25_topk, cosine_topk_batch.

A batch pass runs each query once, to its complete result, through the noop
sink (the checked warm-up pass writes parquet instead), and clears the
caches afterwards as ``bench.py`` does.  The checked warm-up pass and one
untimed settle pass come before a fixed number of timed passes.  A drain is
one closed-loop streaming query (fresh checkpoint and sink) over the whole
backlog of slice files, one file per micro-batch; its first WARM_BATCHES
micro-batches are untimed.  The counts are sized from ``--seconds``.

``traced`` runs the same work split at layer boundaries: each layer call
runs inside a ``Tracer`` span and its output is materialized (persist +
count) before the next layer starts.
"""

from __future__ import annotations

import gc
import glob
import json
import os
import statistics
import time
import traceback

from pyspark.sql import functions as F

from spatialflink_spark import gate
from spatialflink_spark.config import DEFAULT_CONFIG as C, DEFAULT_QUERY_POINTS as QP


def _files(out_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(out_dir, "**", "*.parquet"), recursive=True))


def _materialize(tr, layer: str, df):
    df = df.persist()
    tr.rows[layer] += df.count()
    return df


def _clear(spark) -> None:
    # bench.py's between-query cleanup: drop persisted intermediates and let
    # the ContextCleaner reclaim localCheckpoint blocks
    spark.catalog.clearCache()
    gc.collect()


class BatchWorkload:
    queries: tuple = ()  # (oracle name, gate builder)

    def run_pass(self, spark, inp: str, root: str, keep: bool = False) -> dict:
        """One pass; returns its wall (the sum of the per-query result
        times), when its last result was complete and, with keep, the
        parquet files each query wrote under root (else the noop sink)."""
        wall, outputs = 0.0, {}
        for name, build in self.queries:
            t = time.perf_counter()
            df = build(spark, inp)
            if keep:
                df.write.mode("overwrite").parquet(os.path.join(root, name))
            else:
                df.write.format("noop").mode("overwrite").save()
            wall += time.perf_counter() - t
            if keep:
                outputs[name] = _files(os.path.join(root, name))
        done = time.perf_counter()
        _clear(spark)
        return {"wall": wall, "done": done, "outputs": outputs}

    def warm_up(self, spark, inp: str, root: str, t0: float) -> dict:
        """The checked warm-up pass; set-up ends with it."""
        warm = self.run_pass(spark, inp, os.path.join(root, "warmup"), keep=True)
        return {"setup_s": time.time() - t0, "warmup_s": warm["wall"], "checks": [warm["outputs"]]}

    def n_passes(self, seconds: float) -> int:
        """Timed passes that fill `seconds` at NOMINAL_PASS_S each (at least
        one); a fixed count, so every run of a workload does the same work."""
        return max(1, round(seconds / self.NOMINAL_PASS_S))

    def timed(self, spark, inp: str, root: str, n: int, prev_done: float) -> dict:
        """`n` timed passes (fewer if one raises).  A cycle is the time
        between two consecutive pass completions (the first from
        `prev_done`), the between-pass cleanup included."""
        passes, failed = [], 0
        for _ in range(n):
            try:
                passes.append(self.run_pass(spark, inp, root))
            except Exception:
                traceback.print_exc()
                failed += 1
                break
        done = [prev_done] + [p["done"] for p in passes]
        return {
            "pass_s": [p["wall"] for p in passes],
            "cycles": [b - a for a, b in zip(done, done[1:])],
            "attempted": len(passes) + failed,
            "failed": failed,
        }

    def settle(self, spark, inp: str, root: str) -> float:
        """An untimed pass after the warm-up: the JIT is still compiling the
        passes' hot code, and the first pass after the warm-up reads up to
        20 % slower than the next.  Returns when its last result was
        complete."""
        return self.run_pass(spark, inp, root)["done"]

    def measure(self, spark, inp: str, root: str, seconds: float, t0: float) -> dict:
        m = self.warm_up(spark, inp, root, t0)
        m.update(self.timed(spark, inp, root, self.n_passes(seconds), self.settle(spark, inp, root)))
        m["attempted"] += 2
        return m

    def one_pass(self, spark, inp: str, root: str) -> float:
        return self.run_pass(spark, inp, root)["wall"]

    def traced(self, spark, inp: str, root: str, tr) -> tuple[float, dict]:
        t = time.perf_counter()
        extras = self.traced_pass(spark, inp, tr)
        return time.perf_counter() - t, extras

    def plan_text(self, spark, inp: str) -> list[str]:
        from spatialflink_spark.plans import formatted_plan

        plans = [formatted_plan(build(spark, inp)) for _, build in self.queries]
        _clear(spark)
        return plans


class GridBatch(BatchWorkload):
    NOMINAL_PASS_S = 2.7  # a settled pass of 3k docs, local[2] on 4 CPUs
    queries = (
        ("range_tumbling_count", gate.q_range_tumbling_count),
        ("knn_sliding", gate.q_knn_sliding),
        ("join_self_tumbling", gate.q_join_self_tumbling),
    )

    def records(self, con) -> int:
        from spatialflink_spark.sources.sequences import duck_sequences_cte

        return con.execute(f"WITH {duck_sequences_cte()} SELECT count(*) FROM sequences").fetchone()[0]

    def traced_pass(self, spark, inp: str, tr) -> dict:
        from spatialflink_spark.functions.windows import tumbling_start, with_sliding_windows
        from spatialflink_spark.operators.cells import with_cell
        from spatialflink_spark.operators.join import windowed_join
        from spatialflink_spark.operators.knn import knn_windowed
        from spatialflink_spark.operators.range_query import query_cells_df, range_query
        from spatialflink_spark.sources.sequences import sequences_cached

        with tr.span("query.range_tumbling_count"):
            with tr.span("sources.sequences"):
                seq = _materialize(tr, "sources.sequences", sequences_cached(spark, inp))
            seq_t = seq.withColumn("ws", tumbling_start("ts_s", C.tumbling_s))
            with tr.span("operators.range_query"):
                matched = _materialize(tr, "operators.range_query", range_query(seq_t, C.grid, QP))
            (
                matched.groupBy("ws", "q_id").agg(F.count(F.lit(1)).alias("n_matches"))
                .orderBy("ws", "q_id").write.format("noop").mode("overwrite").save()
            )
        with tr.span("query.knn_sliding"):
            seq_s = with_sliding_windows(seq, "ts_s", C.sliding_size_s, C.sliding_slide_s)
            with tr.span("operators.knn"):
                _materialize(tr, "operators.knn", knn_windowed(seq_s, C.grid, QP))
        with tr.span("query.join_self_tumbling"):
            with tr.span("operators.join"):
                pairs = _materialize(
                    tr, "operators.join", windowed_join(seq_t, seq_t, C.grid, C.join_radius, self_join=True)
                )
        with tr.span("trace.counters"):
            # grid candidates: every (row, query) pair sharing a pruning cell
            cand = with_cell(seq_t, C.grid).join(F.broadcast(query_cells_df(spark, C.grid, QP)), "cell").count()
            n_matched, n_pairs = matched.count(), pairs.count()
        _clear(spark)
        return {
            "operators.range_query.pass_ratio": n_matched / max(cand, 1),
            "operators.join.pairs_per_seq": n_pairs / max(tr.rows["sources.sequences"], 1),
        }


class CurationBatch(BatchWorkload):
    name = "curation_batch"
    copies = 1
    # curation_pipeline runs ~60 Spark jobs per pass whatever the size
    # (~11 s on 4 cores at 1k docs, ~22 s at 5k); 500 docs keeps a run short
    n_docs = 500
    n_vecs = 200
    NOMINAL_PASS_S = 7.5  # a settled pass of 500 docs, local[2] on 4 CPUs
    queries = (
        ("curation_pipeline", gate.q_curation_pipeline),
        ("bm25_topk", gate.q_bm25_topk),
        ("cosine_topk_batch", gate.q_cosine_topk_batch),
    )

    def slices(self, seconds: float) -> int:
        return 0

    def records(self, con) -> int:
        return con.execute(
            "SELECT (SELECT count(*) FROM documents) + (SELECT count(*) FROM embeddings)"
        ).fetchone()[0]

    def traced_pass(self, spark, inp: str, tr) -> dict:
        """gate.q_curation_pipeline's stages, one layer span each."""
        from spatialflink_spark.operators import dedup as dedup_ops
        from spatialflink_spark.operators import text as text_ops
        from spatialflink_spark.operators.mixing import source_mix_sample
        from spatialflink_spark.operators.retrieval import bm25_topk
        from spatialflink_spark.operators.similarity import cosine_topk_batch
        from spatialflink_spark.session import spread

        docs = spark.read.parquet(f"{inp}/documents.parquet")
        with tr.span("query.curation_pipeline"):
            with tr.span("operators.text"):
                d = _materialize(
                    tr, "operators.text",
                    text_ops.with_quality_filter(spread(docs).select("doc_id", "text", "source"))
                    .localCheckpoint(eager=False).where("keep = 1").select("doc_id", "text", "source"),
                )
            with tr.span("operators.dedup"):
                canon = dedup_ops.exact_dedup(d).where("dup_rank = 1").select("doc_id")
                surv = d.join(canon, "doc_id").localCheckpoint(eager=False)
                near_drop = (
                    dedup_ops.dedup_components_star(dedup_ops.simhash_wide_dup_pairs(surv))
                    .where("doc_id <> component").select("doc_id")
                )
                surv2 = surv.join(near_drop, "doc_id", "left_anti").localCheckpoint(eager=False)
                conta = dedup_ops.decontaminate(surv2, min_overlap=gate.PIPE_DECON_OVERLAP).select("doc_id")
                train = _materialize(
                    tr, "operators.dedup",
                    surv2.where(~F.expr("doc_id % 13 = 0")).join(conta, "doc_id", "left_anti"),
                )
            with tr.span("operators.mixing"):
                _materialize(tr, "operators.mixing", source_mix_sample(train))
        with tr.span("query.bm25_topk"):
            with tr.span("operators.retrieval"):
                _materialize(tr, "operators.retrieval", bm25_topk(docs))
        with tr.span("query.cosine_topk_batch"):
            with tr.span("operators.similarity"):
                emb = spark.read.parquet(f"{inp}/embeddings.parquet")
                _materialize(tr, "operators.similarity", cosine_topk_batch(emb))
        _clear(spark)
        return {}


class StreamKnnReplay:
    WARM_BATCHES = 1  # the first micro-batch starts Python workers and state stores
    NOMINAL_BATCH_S = 2.0  # sizes the backlog to fill its share of --seconds

    def slices(self, seconds: float) -> int:
        return self.WARM_BATCHES + max(3, round(seconds / self.NOMINAL_BATCH_S))

    def _topk(self, spark, inp: str):
        from spatialflink_spark.sources.streams import read_sequences_stream
        from spatialflink_spark.streaming.pipeline import stream_knn_topk

        stream = read_sequences_stream(
            spark, os.path.join(inp, "slices"), C.allowed_lateness_s, max_files_per_trigger=1
        )
        return stream_knn_topk(stream, C, QP)

    def _drain(self, spark, inp: str, root: str, tr=None) -> dict:
        """One fresh streaming query over the whole backlog, one slice file
        per micro-batch.  Returns the commit times and input rows of the
        micro-batches that read data, in batch order."""
        from spatialflink_spark.streaming.pipeline import finalize_knn, run_available_now
        from spatialflink_spark.streaming.sink import ExactlyOnceSink

        sink = ExactlyOnceSink(os.path.join(root, "out"), key_cols=("ws", "q_id", "rank"))

        def fb(df, bid):
            if tr is None:
                sink.write_batch(finalize_knn(df), bid)
                return
            with tr.span("streaming.stateful"):
                df = _materialize(tr, "streaming.stateful", df)
            with tr.span("streaming.sink"):
                sink.write_batch(finalize_knn(df), bid)
            df.unpersist()

        # the stream gates' shuffle width (gate.q_stream_knn_e2e): each
        # micro-batch is small, so per-partition state-store and Python
        # worker costs dominate at the session's default width
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        start = time.time()
        try:
            q = run_available_now(self._topk(spark, inp), fb, os.path.join(root, "ckpt"), timeout_s=150)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        progress = [json.loads(p.json) for p in q.recentProgress]
        rows = {p["batchId"]: p["numInputRows"] for p in progress}
        ledger = {e["batch_id"]: e for e in sink.lineage()}
        data = sorted(b for b in ledger if rows.get(b, 0) > 0)
        if tr is not None:
            tr.rows["sources.streams"] += sum(rows.values())
            tr.rows["streaming.sink"] += sum(e["rows_out"] for e in ledger.values())
        w = self.WARM_BATCHES
        commits = [ledger[b]["committed_at"] for b in data]
        if len(commits) <= w:
            raise RuntimeError(f"drain committed {len(commits)} data batches, need > {w}")
        return {
            "start": start,
            "commits": commits,
            "timed_s": commits[-1] - commits[w - 1],
            "timed_rows": sum(rows[b] for b in data[w:]),
            "outputs": {"stream_knn_e2e": _files(sink.data_dir)},
            "progress": [p for p in progress if p["numInputRows"] > 0],
        }

    def measure(self, spark, inp: str, root: str) -> dict:
        """One closed-loop drain: the first WARM_BATCHES micro-batches are
        its warm-up, the rest are timed (backlog sized by slices())."""
        d = self._drain(spark, inp, root)
        c, w = d["commits"], self.WARM_BATCHES
        return {
            "warmup_s": c[w - 1] - d["start"],
            "pass_s": [d["timed_s"]],
            "cycles": [b - a for a, b in zip(c[w - 1:], c[w:])],
            "seq_per_s": d["timed_rows"] / d["timed_s"],
            "checks": [d["outputs"]],
            "attempted": len(c),
            "failed": 0,
        }

    def traced(self, spark, inp: str, root: str, tr) -> tuple[float, dict]:
        d = self._drain(spark, inp, root, tr)
        prog = d["progress"]
        ops = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]

        def med(vals):
            return statistics.median(vals) if vals else 0.0

        return d["timed_s"], {
            "streaming.batch.plan_s": med([p["durationMs"].get("queryPlanning", 0) / 1e3 for p in prog]),
            "streaming.batch.add_s": med([p["durationMs"].get("addBatch", 0) / 1e3 for p in prog]),
            "streaming.batch.wal_s": med([p["durationMs"].get("walCommit", 0) / 1e3 for p in prog]),
            "streaming.stateful.state_rows": max((o["numRowsTotal"] for o in ops), default=0),
            "streaming.stateful.state_mb": max((o["memoryUsedBytes"] / 1e6 for o in ops), default=0.0),
            "streaming.stateful.commit_ms": med([o.get("commitTimeMs", 0) for o in ops]),
        }

    def plan_text(self, spark, inp: str) -> list[str]:
        from spatialflink_spark.plans import formatted_plan

        return [formatted_plan(self._topk(spark, inp))]


class GridStream:
    """grid_batch's passes, then one stream_knn_replay drain, in one session
    over one input: the grid operators in batch and per micro-batch."""

    name = "grid_stream"
    # a seeded 3x amplification of a 1k-doc base: 3k docs, ~6k sequences
    copies = 3
    n_docs = 1_000
    n_vecs = 100  # embeddings are not read by this workload

    def __init__(self):
        self.grid, self.stream = GridBatch(), StreamKnnReplay()

    # the share of --seconds for the drain's timed micro-batches; the rest
    # is for timed grid passes
    STREAM_SHARE = 0.5

    def slices(self, seconds: float) -> int:
        return self.stream.slices(seconds * self.STREAM_SHARE)

    def records(self, con) -> int:
        return self.grid.records(con)

    def measure(self, spark, inp: str, root: str, seconds: float, t0: float) -> dict:
        w = self.grid.warm_up(spark, inp, root, t0)
        n = self.grid.n_passes(seconds * (1 - self.STREAM_SHARE))
        g = self.grid.timed(spark, inp, root, n, self.grid.settle(spark, inp, root))
        # the drain runs after the grid passes: the grid code it shares with
        # them is compiled by then, so one warm-up micro-batch is enough
        s = self.stream.measure(spark, inp, os.path.join(root, "stream"))
        return {
            # set-up: session, input, the checked grid pass and the drain's
            # warm-up micro-batch (from query start to its commit)
            "setup_s": w["setup_s"] + s["warmup_s"],
            "warmup_s": w["warmup_s"] + s["warmup_s"],
            "pass_s": g["pass_s"],
            "cycles": s["cycles"],
            "seq_per_s": s["seq_per_s"],
            "checks": w["checks"] + s["checks"],
            "attempted": 2 + g["attempted"] + s["attempted"],
            "failed": g["failed"] + s["failed"],
        }

    def one_pass(self, spark, inp: str, root: str) -> float:
        return self.grid.one_pass(spark, inp, root)

    def traced(self, spark, inp: str, root: str, tr) -> tuple[float, dict]:
        g_s, extras = self.grid.traced(spark, inp, root, tr)
        s_s, s_extras = self.stream.traced(spark, inp, os.path.join(root, "stream"), tr)
        extras.update(s_extras)
        extras["trace.drain_s"] = s_s
        return g_s, extras

    def plan_text(self, spark, inp: str) -> list[str]:
        return self.grid.plan_text(spark, inp) + self.stream.plan_text(spark, inp)


WORKLOADS = {w.name: w for w in (GridStream(), CurationBatch())}
