"""Interval-object operators — the Polygon/LineString type-combo analog.

The reference implements 9 type combinations of range/kNN/join over
Point/Polygon/LineString (spatialOperators/join/PointPolygonJoinQuery.java,
tRange/PointPolygonTRangeQuery.java:75-86 containment, etc.). In the token
domain the extended-object analog of a polygon is an n_tok INTERVAL
[lo, hi] (a 1-D bounding box): containment = lo <= n_tok <= hi; distance =
max(0, lo - n_tok, n_tok - hi) (the 1-D point-to-bbox distance,
utils/DistanceFunctions.java:150-200).

Interval objects carry a SET of covered cells (like Polygon.gridIDsSet,
spatialObjects/Polygon.java:17-23) and are replicated per covered cell so
the join is a pure equi-join — the same replicate→equi-join→θ-filter shape
as the point case (JoinQuery.java:93-115 replicates polygons the same way).

The interval stream is derived deterministically from the sequence stream:
one interval per (doc, seq): [n_tok - (doc_id%5+1), n_tok + (doc_id%7+2)].
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spatialflink_spark.config import GridConfig
from spatialflink_spark.operators.cells import cell_span_sql
from spatialflink_spark.operators.geometry import (
    GeomSpec,
    Side,
    geometry_knn,
    geometry_side,
    latest_pair_join,
    point_side,
    replicate,
)

LO_EXPR = "cast(greatest(n_tok - (doc_id % 5 + 1), 0) as int)"
HI_EXPR = "cast(n_tok + (doc_id % 7 + 2) as int)"


def interval_stream(seq_ws: DataFrame) -> DataFrame:
    """(ws, iv_id, iv_seq, lo, hi, iv_ts) derived from the windowed
    sequence stream — the second (extended-object) stream."""
    return seq_ws.select(
        "ws",
        F.col("doc_id").alias("iv_id"),
        F.col("seq_no").alias("iv_seq"),
        F.expr(LO_EXPR).alias("lo"),
        F.expr(HI_EXPR).alias("hi"),
        F.col("ts_s").alias("iv_ts"),
    )


def bbox_dist(q: str) -> str:
    """1-D point-to-bbox distance of [lo, hi] to point `q`
    (DistanceFunctions.java:150-200 getPointPolygonBBoxMinEuclideanDistance)."""
    return f"greatest(0, lo - {q}, {q} - hi)"


# Covered cells = the span's cell range (Polygon.gridIDsSet analog). The
# guaranteed-cell bypass is sound: an interval overlapping a guaranteed cell
# contains a point within the radius, so its bbox distance <= radius.
INTERVAL = GeomSpec(
    prefix="iv",
    stream=interval_stream,
    cells=lambda grid, expand: cell_span_sql(grid, "lo", "hi", expand),
    dist=bbox_dist,
    bypass=True,
)


def interval_containment_join(seq_ws: DataFrame, grid: GridConfig) -> DataFrame:
    """Windowed point-in-interval join (PointPolygonJoinQuery shape,
    θ = containment): pairs (row, interval) in the same tumbling window with
    lo <= n_tok <= hi, deduped to one row per (ws, doc, iv) keeping the
    latest (pair_ts, seqs) match — PointPointTJoinQuery.java:133-177. No
    id-skip: a row may lie in its own interval.

    Output: ws, doc_id, iv_id, n_tok, lo, hi, pair_ts.
    """
    return latest_pair_join(
        point_side(seq_ws, grid),
        geometry_side(INTERVAL, seq_ws, grid),
        theta="n_tok >= lo AND n_tok <= hi",
        out=("n_tok", "lo", "hi"),
        skip_self=False,
    )


def interval_knn(seq_ws: DataFrame, grid: GridConfig, qs) -> DataFrame:
    """Point-query kNN over the INTERVAL stream — the Point-Polygon kNN type
    combo (knn/PointPolygonKNNQuery.java): top-k intervals per (window,
    query) by the 1-D point-to-bbox distance max(0, lo - q, q - hi).
    Output: ws, q_id, rank, iv_id, iv_seq, dist."""
    return geometry_knn(INTERVAL, seq_ws, grid, qs)


def interval_interval_join(
    seq_ws: DataFrame, grid: GridConfig, radius: int
) -> DataFrame:
    """Windowed interval-interval self-join — the Polygon-Polygon join type
    combo (join/PolygonPolygonJoinQuery shape): pairs of extended objects in
    the same tumbling window whose 1-D bbox-to-bbox distance
    max(0, l_lo - r_hi, r_lo - l_hi) <= radius
    (DistanceFunctions.java polygon-polygon bbox distance), id-skip like the
    point self-join (tJoin runSingle :341-435), latest-per-pair dedup.

    Replication: the LEFT stream is exploded to the cells covering its
    radius-EXPANDED span [lo-r, hi+r], the right to its plain covered cells
    — if dist <= radius the two clamped cell ranges overlap, so every
    qualifying pair meets in >= 1 cell. Output: ws, left_iv, right_iv, l_lo,
    l_hi, r_lo, r_hi, dist, pair_ts."""

    def side(expand: int, p: str, id_col: str) -> Side:
        names = {"iv_id": id_col, "iv_seq": f"{p}_seq", "lo": f"{p}_lo",
                 "hi": f"{p}_hi", "iv_ts": f"{p}_ts"}
        rep = replicate(INTERVAL, seq_ws, grid, expand).select(
            "ws", "cell", *[F.col(c).alias(a) for c, a in names.items()]
        )
        return Side(rep, id_col, f"{p}_seq", f"{p}_ts")

    return latest_pair_join(
        side(radius, "l", "left_iv"),
        side(0, "r", "right_iv"),
        theta=f"dist <= {radius}",
        out=("l_lo", "l_hi", "r_lo", "r_hi", "dist"),
        dist="greatest(0, l_lo - r_hi, r_lo - l_hi)",
    )


def interval_range_count(seq_ws: DataFrame, q_n_tok: int) -> DataFrame:
    """Windowed range over the INTERVAL stream: per window, how many
    intervals contain the query point (1-D bbox distance == 0) — the
    Polygon-stream range query (tRange/PointPolygonTRangeQuery.java:75-86).
    Output: ws, n_containing, n_intervals."""
    iv = interval_stream(seq_ws)
    return iv.groupBy("ws").agg(
        F.sum(
            F.when(
                (F.lit(q_n_tok) >= F.col("lo")) & (F.lit(q_n_tok) <= F.col("hi")), 1
            ).otherwise(0)
        ).cast("bigint").alias("n_containing"),
        F.count(F.lit(1)).alias("n_intervals"),
    )
