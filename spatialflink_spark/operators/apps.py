"""SNCB business-query analogs + GeoFlink apps — the remaining SURVEY §2 rows.

Each function is the token-domain re-expression of one reference query shape:

- range_approximate: approximate-query mode — candidate-cell rows emitted
  WITHOUT the exact distance check (QueryConfiguration.java:10,50-56;
  PointPointRangeQuery.java:160-162).
- trajectory_restricted: MN_Q4 / Q4_TrajectoryRestricted — bbox + time-range
  pre-filter pushed before any parsing, then per-doc windowed trajectory
  (sncb/mobility/MN_Q4.java:33-40, sncb/queries/Q4_TrajectoryRestricted.java:33-40).
  The filter is a plain Catalyst predicate -> reaches the parquet scan.
- fence_speed_alert: Q5_TrajAndSpeedFence — rows inside a static fence (cell
  set), per-doc sliding window, alert when avg > hi AND min > lo
  (sncb/queries/Q5_TrajAndSpeedFence.java:101; fence q5_fence.wkt).
- exclude_cells: PolygonExcludeFn — broadcast anti-join dropping rows whose
  cell intersects a blocked set (sncb/ops/PolygonExcludeFn.java:12-33).
- staytime_cells: StayTime app — two chained windowed aggregations: per-doc
  per-cell stay time (maxTs-minTs), then per-cell totals
  (apps/StayTime.java:35-151).
- tknn_trajectories: trajectory kNN — top-k nearest docs per (window, query),
  then rebuild each winner's windowed sub-trajectory by semi-joining back to
  the row stream (tKnn/PointPointTKNNQuery.java:181-380).
- trange_trajectories: trajectory range query — any-row-in-region qualifies
  the WHOLE per-window trajectory, recovered via window-scoped semi-join
  (tRange/PointPolygonTRangeQuery.java:75-86, 140-156).
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spatialflink_spark.config import GridConfig, HASH_MOD, QueryPoint
from spatialflink_spark.operators.cells import with_cell
from spatialflink_spark.operators.knn import knn_windowed
from spatialflink_spark.operators.range_query import range_query
from spatialflink_spark.session import local_table

FENCE_CELLS = (3, 4, 5)  # analog of the q5 fence polygon (static region)
BLOCKED_CELLS = (0, 1)  # analog of the exclusion polygons
Q4_NTOK_LO, Q4_NTOK_HI = 20, 60  # analog of bbox 4.3-4.5 x 50.0-50.6
Q5_AVG_HI, Q5_MIN_LO = 40.0, 10  # Q5: speed avg > 50 && min > 20 analog


def range_approximate(
    seq_ws: DataFrame, grid: GridConfig, qs: Iterable[QueryPoint]
) -> DataFrame:
    """All rows in candidate∪guaranteed cells, no exact check; dist column
    shows the (possibly > radius) true distance."""
    return range_query(seq_ws, grid, qs, approximate=True).select(
        "ws", "q_id", "doc_id", "seq_no", "n_tok", "dist"
    )


def trajectory_restricted(seq_t: DataFrame) -> DataFrame:
    """Q4: pre-filter (n_tok box + time range), then per-doc windowed
    trajectory stats. The filter compiles to scan-level predicates."""
    filtered = seq_t.where(
        (F.col("n_tok") >= Q4_NTOK_LO)
        & (F.col("n_tok") <= Q4_NTOK_HI)
        & (F.col("ts_s") % 600 < 300)  # first half of the event-time axis
    )
    return filtered.groupBy("doc_id", "ws").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.min("n_tok").alias("min_n_tok"),
        F.max("n_tok").alias("max_n_tok"),
    )


def fence_speed_alert(seq_s: DataFrame, grid: GridConfig) -> DataFrame:
    """Q5: per-doc sliding-window stats inside the fence; alert rows where
    avg > hi and min > lo (value column = n_tok, the speed stand-in)."""
    inside = with_cell(seq_s, grid).where(F.col("cell").isin(*FENCE_CELLS))
    agg = inside.groupBy("doc_id", "ws").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.expr("round(avg(n_tok), 6)").alias("avg_val"),
        F.min("n_tok").alias("min_val"),
    )
    return agg.where(
        (F.col("avg_val") > Q5_AVG_HI) & (F.col("min_val") > Q5_MIN_LO)
    )


def exclude_cells(seq: DataFrame, grid: GridConfig) -> DataFrame:
    """Broadcast anti-join exclusion filter, then per-source survivor counts.
    (The blocked set is tiny and static — Catalyst broadcasts it; at scale
    this is the same BroadcastProcessFunction shape as the reference.)"""
    spark = seq.sparkSession
    blocked = local_table(spark, [(c,) for c in BLOCKED_CELLS], "cell int")
    kept = with_cell(seq, grid).join(F.broadcast(blocked), "cell", "left_anti")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(F.col("n_tok").cast("bigint")).alias("sum_n_tok"),
    )


def include_cells(seq: DataFrame, grid: GridConfig) -> DataFrame:
    """PolygonProximityFn INCLUDE filter (sncb/ops/PolygonProximityFn.java:
    12-33): broadcast SEMI-join keeping only rows whose cell intersects the
    proximity set — the mirror of exclude_cells' anti-join; same per-source
    survivor-count output shape."""
    spark = seq.sparkSession
    included = local_table(spark, [(c,) for c in FENCE_CELLS], "cell int")
    kept = with_cell(seq, grid).join(F.broadcast(included), "cell", "left_semi")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(F.col("n_tok").cast("bigint")).alias("sum_n_tok"),
    )


def staytime_cells(seq_t: DataFrame, grid: GridConfig) -> DataFrame:
    """StayTime: stage 1 per (doc, cell, window) stay = maxTs - minTs;
    stage 2 per (cell, window) totals. Two chained aggs sharing the shuffle
    key prefix — Catalyst plans stage 2 as a cheap re-agg."""
    per_doc = with_cell(seq_t, grid).groupBy("doc_id", "cell", "ws").agg(
        (F.max("ts_s") - F.min("ts_s")).alias("stay")
    )
    return per_doc.groupBy("cell", "ws").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("stay").cast("bigint").alias("total_stay"),
        F.expr("round(avg(stay), 6)").alias("avg_stay"),
    )


def staytime_normalized(seq_t: DataFrame, grid: GridConfig) -> DataFrame:
    """normalizedCellStayTime — the JOIN-of-two-aggregated-streams StayTime
    variant (apps/StayTime.java:113-151): stream A = per-(cell, window) total
    stay time (CellStayTime); stream B = per-(cell, window) count of DISTINCT
    sensor timestamps whose range intersects the cell
    (CellSensorRangeIntersection, StayTime.java:398-428, keyed on the
    replicated covered-cell set); windowed equi-join on the cell, normalized
    stay = stay / intersection_count * windowSize
    (normalizedCellStayTimeWinFunction, StayTime.java:189-202).

    The sensor-range stream is the interval stream (the extended-object
    analog); intersection = cell within the interval's covered-cell span.
    Both aggregations shuffle once on (cell, ws) and the join reuses that
    partitioning — at scale this is two partial-agg streams meeting in one
    co-partitioned SMJ, no re-shuffle. Output: cell, ws, total_stay,
    n_sensor_ts, norm_stay."""
    from spatialflink_spark.config import DEFAULT_CONFIG as C
    from spatialflink_spark.operators.geometry import replicate
    from spatialflink_spark.operators.intervals import INTERVAL

    per_doc = with_cell(seq_t, grid).groupBy("doc_id", "cell", "ws").agg(
        (F.max("ts_s") - F.min("ts_s")).alias("stay")
    )
    stay = per_doc.groupBy("cell", "ws").agg(
        F.sum("stay").cast("bigint").alias("total_stay")
    )
    sensor = (
        replicate(INTERVAL, seq_t, grid)
        .groupBy("cell", "ws")
        .agg(F.countDistinct("iv_ts").alias("n_sensor_ts"))
    )
    return stay.join(sensor, ["cell", "ws"]).select(
        "cell",
        "ws",
        "total_stay",
        "n_sensor_ts",
        F.expr(
            f"round(cast(total_stay as double) / n_sensor_ts * {C.tumbling_s}, 6)"
        ).alias("norm_stay"),
    )


# CheckIn analog: each sequence row is an in/out gate event (deterministic
# direction from n_tok parity — the deviceID "-in"/"-out" suffix analog)
CHECKIN_GATE_EXPR = "CASE WHEN n_tok % 2 = 0 THEN 'in' ELSE 'out' END"


def checkin_fill(seq: DataFrame) -> DataFrame:
    """CheckIn missing-value insertion (apps/CheckIn.java:251-318,
    ProcessWinForInsertingMissingValues over countWindow(2,1)): when two
    CONSECUTIVE events of one user share a direction (in,in or out,out), the
    sensor missed the opposite crossing — synthesize it at the midpoint
    timestamp with the flipped direction.

    The reference's per-user countWindow(2,1) sees each consecutive pair
    once; declaratively that pair enumeration is lag() over
    (PARTITION BY user ORDER BY ts) — a single window pass, then a union of
    originals and synthesized rows. Output: doc_id, ts_s, gate, inserted."""
    base = seq.select(
        "doc_id", "ts_s", "seq_no", F.expr(CHECKIN_GATE_EXPR).alias("gate")
    )
    w = "OVER (PARTITION BY doc_id ORDER BY ts_s, seq_no)"
    with_prev = base.select(
        "doc_id",
        "ts_s",
        "gate",
        F.expr(f"lag(gate) {w}").alias("_pg"),
        F.expr(f"lag(ts_s) {w}").alias("_pts"),
    )
    inserted = with_prev.where("_pg IS NOT NULL AND _pg = gate").select(
        "doc_id",
        # floor() before the bigint cast: Spark truncates, DuckDB rounds
        F.expr("cast(floor((_pts + ts_s) / 2) as bigint)").alias("ts_s"),
        F.expr("CASE WHEN gate = 'in' THEN 'out' ELSE 'in' END").alias("gate"),
        F.lit(True).alias("inserted"),
    )
    originals = base.select("doc_id", "ts_s", "gate", F.lit(False).alias("inserted"))
    return originals.unionByName(inserted)


def checkin_occupancy(seq: DataFrame) -> DataFrame:
    """CheckIn occupancy counts over the gap-filled stream
    (ProcessForCountingObjects, apps/CheckIn.java:320-345): after insertion
    every user alternates in/out, so room occupancy = #in - #out. Emitted
    per tumbling window over the filled stream: ws, n_in, n_out, occupancy
    (cumulative over windows in event-time order)."""
    from spatialflink_spark.config import DEFAULT_CONFIG as C

    filled = checkin_fill(seq)
    per_ws = filled.withColumn(
        "ws", F.expr(f"cast(floor(ts_s / {C.tumbling_s}) * {C.tumbling_s} as bigint)")
    ).groupBy("ws").agg(
        F.sum(F.expr("CASE WHEN gate = 'in' THEN 1 ELSE 0 END")).cast("bigint").alias("n_in"),
        F.sum(F.expr("CASE WHEN gate = 'out' THEN 1 ELSE 0 END")).cast("bigint").alias("n_out"),
    )
    return per_ws.select(
        "ws",
        "n_in",
        "n_out",
        F.expr(
            "cast(sum(n_in - n_out) OVER (ORDER BY ws "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint)"
        ).alias("occupancy"),
    )


def tknn_trajectories(
    seq_ws: DataFrame, grid: GridConfig, qs: Iterable[QueryPoint]
) -> DataFrame:
    """Trajectory kNN: the windowed top-k docs, each rejoined to the row
    stream to rebuild its in-window sub-trajectory (ordered token concat
    checksum, n_points)."""
    topk = knn_windowed(seq_ws, grid, qs).select("ws", "q_id", "rank", "doc_id", "dist")
    rows = seq_ws.select("ws", "doc_id", "ts_s", "seq_no", "tokens")
    joined = topk.join(rows, ["ws", "doc_id"])
    return joined.groupBy("ws", "q_id", "rank", "doc_id", "dist").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.expr(
            "aggregate(flatten(transform(array_sort(collect_list(struct(ts_s, seq_no, tokens))), "
            f"p -> p.tokens)), cast(0 as bigint), (a, t) -> (a*131 + t) % {HASH_MOD})"
        ).alias("traj_checksum"),
    )


def trange_trajectories(seq_t: DataFrame, grid: GridConfig) -> DataFrame:
    """Trajectory range: a doc qualifies in a window iff ANY of its rows lies
    in the fence cells; emit the doc's FULL windowed trajectory."""
    s = with_cell(seq_t, grid)
    qualifying = (
        s.where(F.col("cell").isin(*FENCE_CELLS))
        .select("ws", "doc_id")
        .dropDuplicates(["ws", "doc_id"])
    )
    rows = s.join(qualifying, ["ws", "doc_id"])  # window-scoped semi-join
    return rows.groupBy("ws", "doc_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.expr(
            "aggregate(flatten(transform(array_sort(collect_list(struct(ts_s, seq_no, tokens))), "
            f"p -> p.tokens)), cast(0 as bigint), (a, t) -> (a*131 + t) % {HASH_MOD})"
        ).alias("traj_checksum"),
    )
