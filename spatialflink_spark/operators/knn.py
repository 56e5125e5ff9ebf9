"""Windowed kNN — two-stage top-k with per-doc dedup-keep-min.

Reference semantics (knn/PointPointKNNQuery.java:132-201 + merge
knn/KNNQuery.java:204-308):
1. per (gridID, window): size-k max-heap by distance, radius-bounded d <= r
2. windowAll final merge: union all per-cell heaps, dedup per objID keeping
   the MINIMUM distance (KNNQuery.java:226-238), re-cut to k.

Spark-first re-expression: the two stages are two aggregations —
partial per (cell, window) top-k, then final per (window) top-k — which is
exactly Spark's partial/final aggregate shape, except top-k isn't a built-in
agg. We express each stage as min-per-doc + rank, all in codegen window
functions; no Python, no single-threaded windowAll (the reference's
parallelism-1 merge is the anti-pattern at scale — our final stage only sees
<= num_cells * k rows per window, so the merge input is tiny by construction;
the prefix-sum/min-heap candidate cut happens in stage 1's rank).

Tie-break is the deterministic total order (dist, doc_id, seq_no) — the
reference's PriorityQueue tie behavior is arbitrary; the oracle fixes it
(SURVEY.md §7 risk register).
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spatialflink_spark.config import GridConfig, QueryPoint
from spatialflink_spark.operators.range_query import range_query
from spatialflink_spark.session import local_table


def knn_windowed(
    seq_with_ws: DataFrame,
    grid: GridConfig,
    qs: Iterable[QueryPoint],
) -> DataFrame:
    """Top-k nearest rows (by |n_tok - q_n_tok|) per (window, query).

    `seq_with_ws` must already carry a `ws` window-start column (compose with
    functions/windows.py). Returns (ws, q_id, rank, doc_id, seq_no, dist).
    """
    # stage 0: radius-bounded candidate generation via the grid (d <= r bound,
    # PointPointKNNQuery.java:150-155). k > survivors => return-all
    # (README.md:161 semantics) falls out naturally.
    cand = range_query(seq_with_ws, grid, qs)
    return knn_merge(two_stage_topk(cand, "doc_id", "seq_no"))


def two_stage_topk(cand: DataFrame, id_col: str, seq_col: str) -> DataFrame:
    """Stage 1 of the two-stage kNN, shared by knn_windowed and every
    geometry kNN (operators/geometry.py): per-cell partial top-k.

    `cand` holds radius-bounded candidates (ws, q_id, k, cell, <id_col>,
    <seq_col>, dist, ...). First dedup per object WITHIN the cell (keep its
    min (dist, seq) row), THEN cut to the k best objects per cell. Deduping
    before the cut is what makes the two-stage result provably equal to
    global dedup-then-rank: an object in the global top-k has fewer than k
    objects beating it in its own cell, so it survives the cut. (The
    reference cuts raw points per cell, KNNQuery.java:204-308 — a hot object
    there can evict a qualifying one; our oracle defines truth, SURVEY §7.)
    This is the map-side combine: knn_merge's input is bounded by
    num_cells * k rows per (ws, q_id) regardless of data volume.

    ONE exchange (guide §2.4 — operations keyed the same way share an
    exchange): hash-partitioning on (ws, q_id, cell) satisfies the
    clustering of BOTH the finer per-object groupBy (its keys are a
    superset) and the per-cell rank window, so neither plans its own
    shuffle. The per-task slice stays one cell's candidates.

    Returns knn_merge's input (ws, q_id, k, doc_id, dist, seq_no): the
    object id and seq columns are renamed to doc_id / seq_no."""
    per_obj = (
        cand.repartition("ws", "q_id", "cell")
        .groupBy("ws", "q_id", "k", "cell", id_col)
        .agg(F.min(F.struct("dist", seq_col)).alias("_m"))
    )
    w_cell = Window.partitionBy("ws", "q_id", "cell").orderBy(
        F.col("_m.dist"), F.col(id_col)
    )
    return (
        per_obj.withColumn("_r", F.row_number().over(w_cell))
        .where(F.col("_r") <= F.col("k"))
        .select(
            "ws", "q_id", "k",
            F.col(id_col).alias("doc_id"),
            F.col("_m.dist").alias("dist"),
            F.col(f"_m.{seq_col}").alias("seq_no"),
        )
    )


def knn_merge(cut: DataFrame) -> DataFrame:
    """Stage 2 of the two-stage kNN, shared by the batch operators (after
    two_stage_topk): per-doc dedup keeping the min (dist, seq_no) ACROSS
    cells (KNNQuery.java:226-238), then knn_rank_cut.

    `cut` holds per-cell top-k rows (ws, q_id, k, doc_id, dist, seq_no), so
    its input is already <= cells * k rows per (ws, q_id). ONE exchange:
    partition once on (ws, q_id); the per-doc groupBy (its keys are a
    superset) and the final rank window both reuse it.
    Returns (ws, q_id, rank, doc_id, seq_no, dist)."""
    per_doc = (
        cut.repartition("ws", "q_id")
        .groupBy("ws", "q_id", "k", "doc_id")
        .agg(F.min(F.struct("dist", "seq_no")).alias("_m"))
    )
    return knn_rank_cut(per_doc, "_m.dist", "_m.seq_no")


def knn_rank_cut(
    per_doc: DataFrame, dist: str = "dist", seq_no: str = "seq_no"
) -> DataFrame:
    """The global rank and cut at k: rows already unique per (ws, q_id,
    doc_id), ranked per (ws, q_id) by (dist, doc_id), keep rank <= k. The
    end of knn_merge, and the whole merge of the streaming kNN
    (pipeline.finalize_knn), whose aggregation already emits one row per
    doc. The rank window reuses a (ws, q_id) partitioning below it, or
    plans that one exchange itself.
    Returns (ws, q_id, rank, doc_id, seq_no, dist)."""
    w_final = Window.partitionBy("ws", "q_id").orderBy(F.col(dist), F.col("doc_id"))
    return (
        per_doc.withColumn("rank", F.row_number().over(w_final))
        .where(F.col("rank") <= F.col("k"))
        .select(
            "ws", "q_id", "rank", "doc_id",
            F.col(seq_no).alias("seq_no"),
            F.col(dist).alias("dist"),
        )
    )


def knn_unbounded(seq_with_ws: DataFrame, grid: GridConfig, qs) -> DataFrame:
    """Unbounded kNN, NO-PRUNE BASELINE — every row is a candidate for every
    query. The production form is knn_unbounded_pruned below; this one exists
    as its recall/answer oracle shape and is bench-excluded by design.
    Output shape matches knn_windowed."""
    qdf = local_table(
        seq_with_ws.sparkSession,
        [(q.q_id, q.q_n_tok, q.k) for q in qs],
        "q_id string, q_n_tok int, k int",
    )
    cand = seq_with_ws.join(F.broadcast(qdf)).select(
        "ws", "q_id", "k", "doc_id", F.expr("abs(n_tok - q_n_tok)").alias("dist"), "seq_no"
    )
    return knn_merge(cand)


def knn_unbounded_pruned(
    seq_with_ws: DataFrame, grid: GridConfig, qs, max_rounds: int = 8
) -> DataFrame:
    """Unbounded kNN, PRODUCTION FORM — the reference's iterative grid-layer
    expansion (UniformGrid.getNeighboringLayerCells / getAllNeighboringLayers,
    UniformGrid.java:447-501; driven from PointPointKNNQuery's unbounded
    path): stop scanning once k neighbors are guaranteed, instead of scanning
    every row like knn_unbounded.

    Physical strategy (answer-identical to knn_unbounded by construction):

    1. PROBE — build the per-(window, cell) count structure (count + observed
       n_tok extents; the same candidate structure range_count_prefix builds)
       and, per (window, query), walk cell layers outward from the query's
       cell (layer = |cell - q_cell|) until the cumulative row count reaches
       k. The layer's observed extents give a distance upper bound r0 such
       that >= k ROWS lie within r0. O(windows x cells) work — no data row
       is touched by the probe.
    2. VERIFY + EXPAND — rows >= k does not imply k DISTINCT docs, so count
       distinct docs within r per (window, query); any group still short
       doubles its radius (capped at r_all, the bound covering every row in
       the window) and re-verifies — the literal layer-expansion loop, a few
       driver-checked rounds at most because r0 is already near-correct.
    3. CUT — radius-bounded candidates -> per-doc dedup-keep-min -> global
       rank cut at k (knn_merge, knn_windowed's stage 2). Exactness: any doc outside the
       final radius has dist strictly greater than the k-th candidate doc's
       min dist, so it cannot displace a result row (nor shift a tie, since
       ties require equal dist).

    Output shape matches knn_unbounded: ws, q_id, rank, doc_id, seq_no, dist.
    """
    from spatialflink_spark.operators.cells import clamped_cell_sql, with_cell

    spark = seq_with_ws.sparkSession
    cl = grid.cell_len
    s = with_cell(seq_with_ws, grid).select(
        "ws", "cell", "doc_id", "seq_no", "n_tok"
    ).persist()
    try:
        qdf = local_table(
            spark,
            [(q.q_id, q.q_n_tok, q.k, grid.cell_of(q.q_n_tok)) for q in qs],
            "q_id string, q_n_tok int, k int, qc int",
        )
        # -- probe: layer walk over the per-(ws, cell) count structure --
        pc = s.groupBy("ws", "cell").agg(
            F.count(F.lit(1)).alias("n"),
            F.min("n_tok").alias("mn"),
            F.max("n_tok").alias("mx"),
        )
        j = pc.join(F.broadcast(qdf)).select(
            "ws", "q_id", "k", "q_n_tok", "n", "cell",
            F.expr("abs(cell - qc)").alias("layer"),
            # max dist from q to any OBSERVED row in this (ws, cell) — tight
            # (no clamped-top-cell caveat) because it uses data extents
            F.expr("greatest(abs(q_n_tok - mn), abs(q_n_tok - mx))").alias("bound"),
        )
        w = (
            Window.partitionBy("ws", "q_id")
            .orderBy("layer", "cell")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        probed = j.select(
            "ws", "q_id", "k", "q_n_tok",
            F.sum("n").over(w).alias("cum"),
            F.max("bound").over(w).alias("rb"),
        )
        radii = probed.groupBy("ws", "q_id", "k", "q_n_tok").agg(
            F.min(F.when(F.col("cum") >= F.col("k"), F.col("rb"))).alias("r_sat"),
            F.max("rb").alias("r_all"),
        ).select(
            "ws", "q_id", "k", "q_n_tok", "r_all",
            F.coalesce("r_sat", "r_all").alias("r"),
        )  # tiny (one row per window x query); stays lazy — it materializes
        #    inside the cut pass's broadcast, no standalone probe job

        def per_doc_cut(radii_df: DataFrame) -> DataFrame:
            # cell-range pruning: redundant with the dist filter at local
            # scale, but prunes buckets/partitions when the table is
            # bucketed by cell at cluster scale. The distinct-doc count nd
            # used for verification is the per-group row count of this very
            # aggregate — verification costs no extra pass.
            cand = s.join(F.broadcast(radii_df), "ws").where(
                F.col("cell").between(
                    # clamp the LOWER bound to the top cell too: a query
                    # above the grid top (q_n_tok - r past the domain) must
                    # still scan cell num_cells-1, where out-of-domain rows
                    # are absorbed by cell_of's clamp — otherwise the range
                    # is empty and the (ws, q_id) group silently vanishes
                    # instead of matching the knn_unbounded golden
                    F.expr(clamped_cell_sql(grid, "(q_n_tok - r)")),
                    F.expr(clamped_cell_sql(grid, "(q_n_tok + r)")),
                )
                & (F.expr("abs(n_tok - q_n_tok)") <= F.col("r"))
            )
            return (
                cand.withColumn("dist", F.expr("abs(n_tok - q_n_tok)"))
                .groupBy("ws", "q_id", "k", "q_n_tok", "r", "r_all", "doc_id")
                .agg(F.min(F.struct("dist", "seq_no")).alias("_m"))
                .withColumn(
                    "nd", F.count(F.lit(1)).over(Window.partitionBy("ws", "q_id"))
                )
                .localCheckpoint(eager=False)  # materializes on the count()
            )

        # a group is DONE when it holds >= k distinct docs OR its radius
        # already covers every row in the window (then "all docs" IS the
        # answer, k or not)
        unsat_cond = (F.col("nd") < F.col("k")) & (F.col("r") < F.col("r_all"))
        parts: list[DataFrame] = []
        for _ in range(max_rounds):
            pd_cut = per_doc_cut(radii)
            parts.append(pd_cut.where(~unsat_cond))
            unsat = pd_cut.where(unsat_cond)
            if unsat.count() == 0:  # one job: checkpoint + convergence check
                break
            # layer expansion for the still-short groups only
            radii = unsat.select(
                "ws", "q_id", "k", "q_n_tok", "r_all",
                F.least(
                    F.greatest(F.col("r") * 2, F.lit(cl)), F.col("r_all")
                ).alias("r"),
            ).distinct()
        else:
            raise RuntimeError(
                f"knn_unbounded_pruned: radius expansion did not satisfy k "
                f"within {max_rounds} rounds"
            )

        merged = parts[0]
        for p in parts[1:]:
            merged = merged.unionByName(p)
        # every part is already materialized (the lazy localCheckpoint was
        # computed by its round's convergence count), so the final rank cut
        # reads from the checkpoints — s can be unpersisted without the
        # returned plan ever touching it again
        return knn_merge(
            merged.select(
                "ws", "q_id", "k", "doc_id",
                F.col("_m.dist").alias("dist"),
                F.col("_m.seq_no").alias("seq_no"),
            )
        )
    finally:
        s.unpersist()
