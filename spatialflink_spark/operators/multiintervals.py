"""Multi-interval objects — the multi-geometry stream analog.

Reference: MultiPoint / MultiPolygon / MultiLineString / GeometryCollection
streams (spatialStreams/Deserialization.java:588-621 MultiPoint, :837-870
MultiPolygon, :1208-1241 GeometryCollection; spatialObjects/MultiPolygon.java)
— a multi object is a SET of parts whose gridIDsSet is the UNION of the
parts' covered cells and whose distance to a point is the MIN over parts
(the same min-over-parts the reference's DistanceFunctions apply per part).

Token analog: a MULTI-INTERVAL object — an array of [lo, hi] spans per
(doc, seq), derived deterministically from the sequence stream:

    m spans, m = doc_id % 3 + 1, span j at stride 17:
      lo_j = max(n_tok + 17*j - (doc_id % 5 + 1), 0)
      hi_j =     n_tok + 17*j + (doc_id % 7 + 2)

    distance(point p) = min_j max(0, lo_j - p, p - hi_j)
    covered cells     = union_j cells(lo_j .. hi_j)   (gridIDsSet of parts)

The stride spreads a multi object across non-adjacent cells, so the
union-of-parts cell set is genuinely non-contiguous — the property that
distinguishes multi objects from plain intervals. The same arithmetic is
emitted as DuckDB SQL (oracle/sql_apps.py) for bit-identical goldens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spatialflink_spark.config import GridConfig
from spatialflink_spark.operators.cells import parts_cell_span_sql
from spatialflink_spark.operators.geometry import (
    GeomSpec,
    geometry_knn,
    geometry_range,
    geometry_side,
    latest_pair_join,
    point_side,
)

SPAN_STRIDE = 17

# array<struct<lo int, hi int>> — the parts array (MultiPolygon.polygons analog)
SPANS_EXPR = (
    "transform(sequence(0, cast(doc_id % 3 as int)), j -> "
    f"struct(cast(greatest(n_tok + {SPAN_STRIDE}*j - (doc_id % 5 + 1), 0) as int) as lo, "
    f"cast(n_tok + {SPAN_STRIDE}*j + (doc_id % 7 + 2) as int) as hi))"
)


def mi_stream(seq_ws: DataFrame) -> DataFrame:
    """(ws, mi_id, mi_seq, spans, mi_ts) derived from the windowed sequence
    stream — the multi-geometry (array-of-parts) stream."""
    return seq_ws.select(
        "ws",
        F.col("doc_id").alias("mi_id"),
        F.col("seq_no").alias("mi_seq"),
        F.expr(SPANS_EXPR).alias("spans"),
        F.col("ts_s").alias("mi_ts"),
    )


def _mi_dist(p: str) -> str:
    """min-over-parts 1-D bbox distance of a spans array to point `p`."""
    return f"array_min(transform(spans, s -> greatest(0, s.lo - {p}, {p} - s.hi)))"


# Covered cells = the union of the spans' cells (Polygon.gridIDsSet over
# parts). Grid pruning via the union-of-parts covered cells: if dist <= r, some span
# intersects [q-r, q+r], so one of its covered cells is a candidate or
# guaranteed cell. The guaranteed-cell bypass is sound for the same reason
# as for intervals: a part overlapping a guaranteed cell has a point within
# the radius.
MULTIINTERVAL = GeomSpec(
    prefix="mi",
    stream=mi_stream,
    cells=lambda grid, expand: parts_cell_span_sql(grid, "spans", expand),
    dist=_mi_dist,
    bypass=True,
)


def multiinterval_range(seq_ws: DataFrame, grid: GridConfig, qs) -> DataFrame:
    """Point-query range over the MULTI-INTERVAL stream — the multi-geometry
    range combo (PointMultiPolygonRangeQuery shape): objects whose
    min-over-parts distance to the query point is <= radius.
    Output: ws, q_id, mi_id, mi_seq, dist."""
    return geometry_range(MULTIINTERVAL, seq_ws, grid, qs)


def multiinterval_join(seq_ws: DataFrame, grid: GridConfig, radius: int) -> DataFrame:
    """Windowed point-multiinterval join — the Point-MultiPolygon join combo:
    pairs (point row, multi object) in the same tumbling window with
    min-over-parts distance <= radius, id-skip, latest-per-pair dedup
    (PointPointTJoinQuery.java:133-177 dedup shape).

    Replication: each object is exploded to the cells covering its spans
    EXPANDED by the radius (JoinQuery.java:73-90 replicates one side by the
    neighboring layer the same way) — if dist <= radius the point's cell is
    inside some expanded span's cell range, so every qualifying pair meets in
    >= 1 cell. Output: ws, doc_id, mi_id, dist, pair_ts."""
    return latest_pair_join(
        point_side(seq_ws, grid),
        geometry_side(MULTIINTERVAL, seq_ws, grid, radius),
        theta=f"dist <= {radius}",
        out=("dist",),
        dist=_mi_dist("n_tok"),
    )


def multiinterval_knn(seq_ws: DataFrame, grid: GridConfig, qs) -> DataFrame:
    """Point-query kNN over the MULTI-INTERVAL stream — the Point-
    MultiPolygon kNN combo (knn/PointPolygonKNNQuery applied per part,
    min over parts): top-k multi objects per (window, query) by the
    min-over-parts 1-D bbox distance, through the shared two-stage top-k.
    Output: ws, q_id, rank, mi_id, mi_seq, dist."""
    return geometry_knn(MULTIINTERVAL, seq_ws, grid, qs)
