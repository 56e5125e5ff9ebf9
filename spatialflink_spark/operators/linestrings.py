"""LineString-object operators — the third geometry type of the reference's
9-way type-combo matrix (range/kNN/join over Point/Polygon/LineString).

Token-domain re-expression: a LineString is the token ARRAY itself, a 1-D
polyline whose vertices are the token values (spatialObjects/LineString.java
keeps the ordered coordinate list the same way), with bounding box
[array_min(tokens), array_max(tokens)] (LineString.java boundingBox).

Distance choice, stated honestly: the reference's exact distance iterates the
geometry's SEGMENTS (getPointLineStringMinEuclideanDistance,
utils/DistanceFunctions.java:202-230). In 1-D the continuous-segment distance
degenerates to the bbox distance (a connected polyline's image is exactly
[lo, hi] by the intermediate value theorem) — which the interval operators
already re-express. So the linestring analog keeps the DISCRETE polyline:
distance = min over vertices |t - q|. The three geometry types then carry
three genuinely distinct distance functions — point |a-b|, interval bbox
clamp, vertex-set min — and the linestring's exact check genuinely iterates
the geometry array, as the reference's does.

The LineString-LineString combo is deliberately NOT implemented: token
vertex sets are drawn from the one shared vocabulary, so two polylines'
bboxes essentially always overlap (zero grid pruning — candidate set = all
pairs) and the min pairwise vertex distance is ~0 for every pair — the combo
is semantically degenerate in the 1-D token domain. Its two non-degenerate
aspects are covered elsewhere: extent-vs-extent by
intervals.interval_interval_join, vertex distance by point_linestring_join
and interval_linestring_join.

Candidate pruning is grid-shaped like the reference's
(UniformGrid.java:368-395): replicate each linestring to the cells its bbox
covers (gridIDsSet, HelperClass.java:123-143); the bbox distance
max(0, lo - q, q - hi) lower-bounds the vertex distance, so pruning on it is
sound, and any vertex within radius lies in a covered bbox cell that is also
one of the query's candidate cells, so it is complete. The guaranteed-cell
bypass is deliberately NOT used: a bbox overlapping a guaranteed cell does
not imply a VERTEX there (only a crossing), so the bypass is unsound for
vertex distance.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spatialflink_spark.config import GridConfig, QueryPoint
from spatialflink_spark.operators.cells import cell_span_sql
from spatialflink_spark.operators.geometry import (
    GeomSpec,
    geometry_knn,
    geometry_range,
    geometry_side,
    latest_pair_join,
    point_side,
)
from spatialflink_spark.operators.intervals import INTERVAL, bbox_dist


def linestring_stream(seq_ws: DataFrame) -> DataFrame:
    """(ws, ls_id, ls_seq, tokens, lo, hi, ls_ts): each sequence row as a
    1-D polyline with its bbox."""
    return seq_ws.select(
        "ws",
        F.col("doc_id").alias("ls_id"),
        F.col("seq_no").alias("ls_seq"),
        "tokens",
        F.expr("array_min(tokens)").alias("lo"),
        F.expr("array_max(tokens)").alias("hi"),
        F.col("ts_s").alias("ls_ts"),
    )


def vertex_dist(q: str) -> str:
    """Exact 1-D point-to-vertex-set distance over the token array; `q` is a
    column or literal already in scope."""
    return f"array_min(transform(tokens, t -> abs(t - {q})))"


# Covered cells = the bbox's cell range; the bbox distance is the cheap
# lower-bound prefilter. No guaranteed-cell bypass (see module docstring).
LINESTRING = GeomSpec(
    prefix="ls",
    stream=linestring_stream,
    cells=lambda grid, expand: cell_span_sql(grid, "lo", "hi", expand),
    dist=vertex_dist,
    bypass=False,
    prefilter=bbox_dist,
)


# join-side columns: the linestring side leaves its bbox behind (the exact
# distance reads the vertices)
LS_COLS = ("ls_id", "ls_seq", "tokens", "ls_ts")
IV_COLS = ("iv_id", "iv_seq", "lo", "hi", "iv_ts")


def linestring_range(
    seq_ws: DataFrame, grid: GridConfig, qs: Iterable[QueryPoint]
) -> DataFrame:
    """Point-query range over the LineString stream
    (range/PointLineStringRangeQuery.java shape): candidate linestrings via
    the broadcast covered-cell equi-join, bbox lower-bound prune, exact
    vertex-distance filter. Output: ws, q_id, ls_id, ls_seq, dist."""
    return geometry_range(LINESTRING, seq_ws, grid, qs)


def linestring_knn(
    seq_ws: DataFrame, grid: GridConfig, qs: Iterable[QueryPoint]
) -> DataFrame:
    """Point-LineString kNN (knn/PointLineStringKNNQuery.java shape): the
    bbox-pruned, vertex-verified candidates through the shared two-stage
    top-k. Output: ws, q_id, rank, ls_id, ls_seq, dist."""
    return geometry_knn(LINESTRING, seq_ws, grid, qs)


def interval_linestring_join(
    seq_ws: DataFrame, grid: GridConfig, radius: int
) -> DataFrame:
    """Windowed interval-linestring join — the Polygon-LineString type combo
    (join/PolygonLineStringJoinQuery.java shape), completing the 3x3 geometry
    matrix: distance = min over the polyline's VERTICES of the 1-D bbox
    distance max(0, lo - t, t - hi).

    Replication: intervals to their radius-EXPANDED covered cells,
    linestrings to their bbox cells; a vertex within `radius` of [lo, hi]
    lies in [lo - radius, hi + radius], so every qualifying pair shares a
    cell. Output: ws, iv_id, ls_id, lo, hi, dist, pair_ts."""
    return latest_pair_join(
        geometry_side(INTERVAL, seq_ws, grid, radius, cols=IV_COLS),
        geometry_side(LINESTRING, seq_ws, grid, cols=LS_COLS),
        theta=f"dist <= {radius}",
        out=("lo", "hi", "dist"),
        dist=f"array_min(transform(tokens, t -> {bbox_dist('t')}))",
    )


def point_linestring_join(
    seq_ws: DataFrame, grid: GridConfig, radius: int
) -> DataFrame:
    """Windowed point-linestring join (join/PointLineStringJoinQuery.java
    shape): the point stream replicated to its radius-neighborhood cells,
    the linestring stream to its bbox cells (JoinQuery.java:73-90), exact
    vertex-distance θ-filter, latest-per-pair dedup with id-skip.
    Output: ws, doc_id, ls_id, dist, pair_ts."""
    return latest_pair_join(
        point_side(seq_ws, grid, radius),
        geometry_side(LINESTRING, seq_ws, grid, cols=LS_COLS),
        theta=f"dist <= {radius}",
        out=("dist",),
        dist=vertex_dist("n_tok"),
    )
