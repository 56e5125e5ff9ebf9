"""Extended geometry types as specs — range, kNN and join from three builders.

The reference implements range, kNN and join once per geometry type
combination (9 of them: Point/Polygon/LineString x Point/Polygon/LineString,
spatialOperators/*). Every one of those operators is the same plan: replicate
each object to the grid cells it covers (gridIDsSet, HelperClass.java:
123-143), meet the other side in a (window, cell) equi-join, verify with the
type's exact distance, then dedup (join) or cut to k (kNN). *Distributed
Stream KNN Join* (SIGMOD'21) draws the same line between candidate
generation and verification. The only per-type parts are what a GeomSpec
holds:

- stream:     builds (ws, <p>_id, <p>_seq, ..., <p>_ts) from the windowed
              sequence stream
- cells:      SQL array of the covered cells, widened by a radius `expand`
              for join replication (cells.cell_span_sql)
- dist:       SQL of the exact distance to a point expression `q`
- bypass:     whether the guaranteed-cell bypass is sound (an object
              overlapping a guaranteed cell is then within the radius)
- prefilter:  optional SQL of a cheap lower bound of dist, checked first

The builders below turn specs into the grid-pruned operators of
intervals.py, linestrings.py, multiintervals.py and geomcollection.py:
geometry_range, geometry_knn (knn.two_stage_topk + knn.knn_merge) and
latest_pair_join (PointPointTJoinQuery.java:133-177 dedup shape).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Iterable, NamedTuple, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spatialflink_spark.config import GridConfig, QueryPoint
from spatialflink_spark.operators.cells import with_cell
from spatialflink_spark.operators.join import _replicate_to_neighbor_cells
from spatialflink_spark.operators.knn import knn_merge, two_stage_topk
from spatialflink_spark.operators.range_query import query_cells_df


@dataclass(frozen=True)
class GeomSpec:
    """One extended geometry type: the per-type parts of its range, kNN and
    join (listed in the module docstring). SQL-producing fields take the
    point expression `q` (dist, prefilter) or the grid and a radius
    `expand` (cells)."""

    prefix: str  # column prefix of the stream: <prefix>_id, _seq, _ts
    stream: Callable[[DataFrame], DataFrame]
    cells: Callable[[GridConfig, int], str]
    dist: Callable[[str], str]
    bypass: bool
    prefilter: Callable[[str], str] | None = None

    @property
    def id(self) -> str:
        return f"{self.prefix}_id"

    @property
    def seq(self) -> str:
        return f"{self.prefix}_seq"

    @property
    def ts(self) -> str:
        return f"{self.prefix}_ts"


def replicate(
    spec: GeomSpec, seq_ws: DataFrame, grid: GridConfig, expand: int = 0
) -> DataFrame:
    """The spec's stream exploded to one row per covered cell."""
    cells = F.explode(F.expr(spec.cells(grid, expand)))
    return spec.stream(seq_ws).withColumn("cell", cells)


def _candidates(
    spec: GeomSpec, seq_ws: DataFrame, grid: GridConfig, qs: Iterable[QueryPoint]
) -> DataFrame:
    """Objects within each query's radius, one row per (object, query,
    shared cell): the covered cells meet the broadcast (query, cell) table
    (range_query.query_cells_df), then the exact distance verifies."""
    qcells = query_cells_df(seq_ws.sparkSession, grid, qs)
    cand = replicate(spec, seq_ws, grid).join(F.broadcast(qcells), "cell")
    if spec.prefilter is not None:
        cand = cand.where(F.expr(spec.prefilter("q_n_tok")) <= F.col("radius"))
    cand = cand.withColumn("dist", F.expr(spec.dist("q_n_tok")))
    near = F.col("dist") <= F.col("radius")
    return cand.where(F.col("guaranteed") | near if spec.bypass else near)


def geometry_range(
    spec: GeomSpec, seq_ws: DataFrame, grid: GridConfig, qs: Iterable[QueryPoint]
) -> DataFrame:
    """Point-query range: objects within radius of each query point. An
    object meets a query in >= 1 covered cell; every copy carries the same
    object-level dist, so collapse to one row per (window, query, object).
    Output: ws, q_id, <p>_id, <p>_seq, dist."""
    cand = _candidates(spec, seq_ws, grid, qs)
    return cand.groupBy("ws", "q_id", spec.id, spec.seq).agg(
        F.min("dist").alias("dist")
    )


def geometry_knn(
    spec: GeomSpec, seq_ws: DataFrame, grid: GridConfig, qs: Iterable[QueryPoint]
) -> DataFrame:
    """Point-query kNN: the radius-bounded candidates through the shared
    two-stage top-k (knn.two_stage_topk, then knn.knn_merge), ranked by
    (dist, object id). Output: ws, q_id, rank, <p>_id, <p>_seq, dist."""
    cut = two_stage_topk(_candidates(spec, seq_ws, grid, qs), spec.id, spec.seq)
    return knn_merge(cut).select(
        "ws", "q_id", "rank",
        F.col("doc_id").alias(spec.id),
        F.col("seq_no").alias(spec.seq),
        "dist",
    )


class Side(NamedTuple):
    """One join input: (ws, cell, ...) rows plus the names of its object id,
    seq and event-time columns."""

    df: DataFrame
    id: str
    seq: str
    ts: str


def point_side(seq_ws: DataFrame, grid: GridConfig, expand: int = 0) -> Side:
    """The point stream as a join side: each row in its own cell, or, with
    `expand`, in every cell its radius-ball meets."""
    rep = (
        _replicate_to_neighbor_cells(seq_ws, grid, expand)
        if expand
        else with_cell(seq_ws, grid)
    )
    cols = ("ws", "cell", "doc_id", "seq_no", "n_tok", "ts_s")
    return Side(rep.select(*cols), "doc_id", "seq_no", "ts_s")


def geometry_side(
    spec: GeomSpec, seq_ws: DataFrame, grid: GridConfig, expand: int = 0,
    cols: Sequence[str] | None = None,
) -> Side:
    """The spec's replicated stream as a join side; with `cols`, only
    (ws, cell, *cols) in that order."""
    rep = replicate(spec, seq_ws, grid, expand)
    if cols is not None:
        rep = rep.select("ws", "cell", *cols)
    return Side(rep, spec.id, spec.seq, spec.ts)


def latest_pair_join(
    left: Side,
    right: Side,
    theta: str,
    out: Sequence[str],
    dist: str | None = None,
    skip_self: bool = True,
) -> DataFrame:
    """Windowed θ-join of two replicated sides on (ws, cell), deduped to the
    latest match per (ws, left id, right id) pair (PointPointTJoinQuery.java:
    133-177). `dist`, when given, is computed as column `dist` before the
    θ-filter `theta`; `skip_self` drops pairs of one object with itself
    (tJoin runSingle :341-435).

    Replication makes the join exact: one side covers its radius-expanded
    cells, so every pair within the radius shares >= 1 cell. The dedup keeps
    max(struct(pair_ts, left seq, right seq, *out)) — the field order IS the
    tie-break among matches with equal pair_ts.
    Output: ws, <left id>, <right id>, *out, pair_ts."""
    pairs = left.df.join(right.df, ["ws", "cell"])
    if skip_self:
        pairs = pairs.where(F.col(left.id) != F.col(right.id))
    if dist is not None:
        pairs = pairs.withColumn("dist", F.expr(dist))
    pair_ts = F.greatest(left.ts, right.ts).alias("pair_ts")
    latest = (
        pairs.where(theta)
        .groupBy("ws", left.id, right.id)
        .agg(F.max(F.struct(pair_ts, left.seq, right.seq, *out)).alias("_m"))
    )
    return latest.select(
        "ws", left.id, right.id,
        *[F.col(f"_m.{c}").alias(c) for c in out],
        F.col("_m.pair_ts").alias("pair_ts"),
    )
