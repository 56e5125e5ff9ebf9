"""Windowed stream–stream spatial join — replicate → equi-join → θ-filter.

Reference semantics (join/PointPointJoinQuery.java:124-183):
1. replicate the (smaller) query stream to every neighboring cell so the join
   becomes a pure equi-join on gridID (JoinQuery.java:73-90)
2. window-join on (gridID, window)
3. exact distance θ-filter d(p, q) <= r.
Trajectory join adds latest-per-pair dedup: keep the max-timestamp match per
(traj1, traj2) (tJoin/PointPointTJoinQuery.java:133-177); the self-join
variant skips p.objID == q.objID (:341-435).

Token-domain re-expression: distance = |l.n_tok - r.n_tok|; "neighboring
cells" of a row are the cells intersecting [n_tok - r, n_tok + r], computed
with integer arithmetic and exploded (sequence()), keeping the join a pure
(cell, ws) equi-join that Catalyst executes as SortMergeJoin (or
BroadcastHashJoin when one side is small — a strategy Catalyst picks from
stats; at 100 TB both sides are big and SMJ on (cell, ws) with AQE skew
splitting is the right plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spatialflink_spark.config import GridConfig
from spatialflink_spark.operators.cells import cell_span_sql, with_cell


def _replicate_to_neighbor_cells(df: DataFrame, grid: GridConfig, radius: int) -> DataFrame:
    """Explode each row to every cell its radius-ball intersects — the
    query-stream replication of JoinQuery.java:73-90 (duplicate row per cell,
    then pure equi-join)."""
    return df.withColumn(
        "cell", F.explode(F.expr(cell_span_sql(grid, "n_tok", "n_tok", radius)))
    )


def windowed_join(
    left_ws: DataFrame,
    right_ws: DataFrame,
    grid: GridConfig,
    radius: int,
    self_join: bool = False,
) -> DataFrame:
    """Pairs (l, r) in the same window with |l.n_tok - r.n_tok| <= radius,
    deduped to the latest match per (window, l.doc, r.doc) pair.

    Inputs must carry `ws` (window start) + canonical sequence columns.
    Output: ws, left_doc, right_doc, left_seq, right_seq, dist, pair_ts.
    """
    l = _replicate_to_neighbor_cells(left_ws, grid, radius).select(
        F.col("ws"),
        F.col("cell"),
        F.col("doc_id").alias("left_doc"),
        F.col("seq_no").alias("left_seq"),
        F.col("n_tok").alias("left_n_tok"),
        F.col("ts_s").alias("left_ts"),
    )
    r = with_cell(right_ws, grid).select(
        F.col("ws").alias("r_ws"),
        F.col("cell").alias("r_cell"),
        F.col("doc_id").alias("right_doc"),
        F.col("seq_no").alias("right_seq"),
        F.col("n_tok").alias("right_n_tok"),
        F.col("ts_s").alias("right_ts"),
    )
    cond = (
        (l.cell == r.r_cell)
        & (l.ws == r.r_ws)
        & (F.abs(l.left_n_tok - r.right_n_tok) <= radius)
    )
    if self_join:
        # runSingle semantics: skip identical object ids
        # (tJoin/PointPointTJoinQuery.java:341-435)
        cond = cond & (l.left_doc != r.right_doc)
    pairs = l.join(r, cond).select(
        "ws",
        "left_doc",
        "right_doc",
        "left_seq",
        "right_seq",
        F.abs(F.col("left_n_tok") - F.col("right_n_tok")).alias("dist"),
        F.greatest("left_ts", "right_ts").alias("pair_ts"),
    )
    # latest-per-pair dedup (PointPointTJoinQuery.java:133-177): keep the
    # max-(pair_ts, left_seq, right_seq) match per (ws, left_doc, right_doc).
    # max_by over a struct = single shuffle, partial+final automatic.
    latest = pairs.groupBy("ws", "left_doc", "right_doc").agg(
        F.max(F.struct("pair_ts", "left_seq", "right_seq", "dist")).alias("_m")
    )
    return latest.select(
        "ws",
        "left_doc",
        "right_doc",
        F.col("_m.left_seq").alias("left_seq"),
        F.col("_m.right_seq").alias("right_seq"),
        F.col("_m.dist").alias("dist"),
        F.col("_m.pair_ts").alias("pair_ts"),
    )
