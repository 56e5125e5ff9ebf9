"""GeometryCollection objects — heterogeneous MIXED-TYPE parts.

Reference: GeometryCollection streams (spatialStreams/Deserialization.java:
1208-1241; spatialObjects/GeometryCollection.java) — a collection holds parts
of DIFFERENT geometry types (points, polygons, linestrings together); its
distance to a point is the min over the TYPED distance of each part, and its
gridIDsSet is the union of the parts' covered cells. The homogeneous
multi-part case is operators/multiintervals.py; this module closes the one
§2.1 row it left open: parts of mixed kinds in one object.

Token analog: per (doc, seq) a collection with up to three typed parts,
derived deterministically from the sequence stream (stride 23 so collection
intervals land in different cells than the multi-interval family's stride-17
spans):

    always        : POINT      p = n_tok
    doc_id % 2 = 0: INTERVAL   [max(n_tok + 23 - (doc_id%5+1), 0),
                                n_tok + 23 + (doc_id%7+2)]
    doc_id % 3 = 0: LINESTRING vertices = tokens (bbox [min, max])

    distance(q) = min over parts of the part's OWN distance function:
        point      -> |p - q|            (degenerate bbox clamp)
        interval   -> max(0, lo - q, q - hi)
        linestring -> min over vertices |t - q|
    covered cells = union over parts (point cell, interval cell range,
                    linestring BBOX cell range)

Pruning soundness: the bbox distance lower-bounds every part's typed
distance (for 'ls' the vertices lie inside the bbox), so candidate
generation via the union-of-parts covered cells loses nothing; the
guaranteed-cell bypass is deliberately NOT used — a linestring part's bbox
overlapping a guaranteed cell does not imply a VERTEX there (same reasoning
as for linestrings.LINESTRING). The identical arithmetic is emitted as DuckDB SQL
(oracle/sql_apps.py) for bit-identical goldens.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spatialflink_spark.config import GridConfig, QueryPoint
from spatialflink_spark.operators.cells import parts_cell_span_sql
from spatialflink_spark.operators.geometry import (
    GeomSpec,
    geometry_knn,
    geometry_range,
    geometry_side,
    latest_pair_join,
    point_side,
)

GC_STRIDE = 23

_PART_T = "struct<kind: string, lo: int, hi: int, vertices: array<int>>"

# array of typed parts; absent parts (odd doc_id / doc_id % 3 != 0) are
# filtered out so every collection has 1-3 parts
GC_PARTS_EXPR = f"""
filter(array(
  named_struct('kind', 'pt', 'lo', n_tok, 'hi', n_tok,
               'vertices', cast(null as array<int>)),
  if(doc_id % 2 = 0,
     named_struct('kind', 'iv',
       'lo', cast(greatest(n_tok + {GC_STRIDE} - (doc_id % 5 + 1), 0) as int),
       'hi', cast(n_tok + {GC_STRIDE} + (doc_id % 7 + 2) as int),
       'vertices', cast(null as array<int>)),
     cast(null as {_PART_T})),
  if(doc_id % 3 = 0 AND size(tokens) > 0,
     named_struct('kind', 'ls', 'lo', array_min(tokens),
                  'hi', array_max(tokens), 'vertices', tokens),
     cast(null as {_PART_T}))
), p -> p is not null)
"""
# NB the size(tokens) > 0 guard: an empty token array would make the 'ls'
# part's bbox NULL, the covered-cells sequence NULL, and explode(NULL) then
# DROPS the whole row — including its always-present point part — while the
# oracle's least() would keep it (latent parity break, caught in review; no
# current fixture has empty sequences but pack_emit explicitly models them)


def gc_stream(seq_ws: DataFrame) -> DataFrame:
    """(ws, gc_id, gc_seq, parts, gc_ts): the mixed-part collection stream."""
    return seq_ws.select(
        "ws",
        F.col("doc_id").alias("gc_id"),
        F.col("seq_no").alias("gc_seq"),
        F.expr(GC_PARTS_EXPR).alias("parts"),
        F.col("ts_s").alias("gc_ts"),
    )


def _gc_dist(q: str) -> str:
    """min over parts of the part's TYPED distance to point `q` —
    GeometryCollection distance = min over per-type DistanceFunctions."""
    return (
        "array_min(transform(parts, p -> CASE WHEN p.kind = 'ls' "
        f"THEN array_min(transform(p.vertices, t -> abs(t - {q}))) "
        f"ELSE greatest(0, p.lo - {q}, {q} - p.hi) END))"
    )


# Covered cells = the union of the parts' bbox cells. No guaranteed-cell
# bypass: 'ls' parts make it unsound (module docstring).
GEOMCOLLECTION = GeomSpec(
    prefix="gc",
    stream=gc_stream,
    cells=lambda grid, expand: parts_cell_span_sql(grid, "parts", expand),
    dist=_gc_dist,
    bypass=False,
)


def geomcollection_range(
    seq_ws: DataFrame, grid: GridConfig, qs: Iterable[QueryPoint]
) -> DataFrame:
    """Point-query range over the collection stream: candidates via the
    broadcast union-of-parts covered-cell equi-join, exact min-over-typed-
    parts distance filter. Output: ws, q_id, gc_id, gc_seq, dist."""
    return geometry_range(GEOMCOLLECTION, seq_ws, grid, qs)


def geomcollection_knn(
    seq_ws: DataFrame, grid: GridConfig, qs: Iterable[QueryPoint]
) -> DataFrame:
    """Point-query kNN over the collection stream — completes the mixed-part
    combo row (range / join / kNN): covered-cell broadcast candidates, exact
    mixed-type distance, then the shared two-stage top-k
    (knn.two_stage_topk + knn.knn_merge).
    Output: ws, q_id, rank, gc_id, gc_seq, dist."""
    return geometry_knn(GEOMCOLLECTION, seq_ws, grid, qs)


def geomcollection_join(
    seq_ws: DataFrame, grid: GridConfig, radius: int
) -> DataFrame:
    """Windowed point-collection join: collections replicated to their
    radius-EXPANDED union-of-parts cells, (ws, cell) equi-join against the
    point stream, exact mixed-type distance θ-filter, id-skip,
    latest-per-pair dedup (PointPointTJoinQuery.java:133-177 dedup shape).
    Output: ws, doc_id, gc_id, dist, pair_ts."""
    return latest_pair_join(
        point_side(seq_ws, grid),
        geometry_side(GEOMCOLLECTION, seq_ws, grid, radius),
        theta=f"dist <= {radius}",
        out=("dist",),
        dist=_gc_dist("n_tok"),
    )
