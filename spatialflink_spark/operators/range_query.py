"""Windowed range query — guaranteed/candidate grid pruning.

Reference semantics (range/PointPointRangeQuery.java:110-187):
1. compute guaranteed + candidate cell sets for each query point
   (UniformGrid.java:165-190, 368-395; r=0 -> all cells, :264-266)
2. filter the stream to candidate ∪ guaranteed cells (:135-140)
3. keyBy(gridID) shuffle (:144-149)
4. rows in guaranteed cells emit WITHOUT a distance check; candidate rows get
   the exact `dist <= r` check (:150-187); approximate mode skips the check
   (QueryConfiguration.java:10,50-56).

Spark-first re-expression: the query set is tiny and static, so instead of
capturing cell sets in a closure we materialize (q_id, cell, guaranteed) rows
and BROADCAST hash-join on cell — the replicate-query-to-cells trick of
JoinQuery.java:73-90, with Catalyst picking BroadcastHashJoin (no shuffle of
the data stream at all for the filter stage). The guaranteed-cell bypass is a
single vectorized `guaranteed OR abs(n_tok - q) <= r` predicate inside
whole-stage codegen.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spatialflink_spark.config import GridConfig, QueryPoint
from spatialflink_spark.operators.cells import with_cell
from spatialflink_spark.session import local_table


def query_cells_df(
    spark: SparkSession, grid: GridConfig, qs: Iterable[QueryPoint]
) -> DataFrame:
    """Materialize (q_id, q_n_tok, radius, cell, guaranteed) — one row per
    (query, prunable cell). Tiny; always broadcast."""
    rows = []
    for q in qs:
        g = grid.guaranteed_cells(q.q_n_tok, q.radius)
        c = grid.candidate_cells(q.q_n_tok, q.radius)
        for cell in sorted(g):
            rows.append((q.q_id, q.q_n_tok, q.radius, q.k, cell, True))
        for cell in sorted(c):
            rows.append((q.q_id, q.q_n_tok, q.radius, q.k, cell, False))
    return local_table(
        spark,
        rows,
        "q_id string, q_n_tok int, radius int, k int, cell int, guaranteed boolean",
    )


def range_count_prefix(
    seq_t: DataFrame, grid: GridConfig, qs: Iterable[QueryPoint]
) -> DataFrame:
    """Windowed range COUNT answered from a per-window prefix-sum candidate
    structure over the cell axis — the literal "prefix-sum candidate
    structure for the kNN/range-style query per window cell" physical
    strategy, as an alternative to the broadcast-join row filter
    (range_query + groupBy, the flagship plan).

    Build: ONE groupBy(ws, cell) count, then ONE groupBy(ws) assembling the
    cell-sorted cumulative-count arrays (the prefix structure: O(cells)
    integers per window). Probe: each query's guaranteed span [g_lo, g_hi]
    (cells fully inside [q-r, q+r], contiguous in 1-D) is answered in O(cells)
    array ops as cum_at(g_hi) - cum_at(g_lo - 1) — NO row is touched. Only
    the <= 2 boundary (candidate-but-not-guaranteed) cells fall back to the
    exact per-row distance check. At 100 TB the probe side is O(windows x
    cells), independent of row count — the reason the reference builds its
    cell-keyed candidate structures (UniformGrid.java:165-190).

    Output: ws, q_id, n_matches — bit-identical to the flagship
    range_tumbling_count."""
    spark = seq_t.sparkSession
    s = with_cell(seq_t, grid)

    # ---- the prefix structure: one row per window ----
    per_cell = s.groupBy("ws", "cell").agg(F.count(F.lit(1)).alias("n"))
    prefix = per_cell.groupBy("ws").agg(
        F.expr("array_sort(collect_list(struct(cell, n)))").alias("_cn")
    ).select(
        "ws",
        F.expr("transform(_cn, p -> p.cell)").alias("cells"),
        # inclusive running sum: cum[i] = sum of counts for cells[0..i]
        F.expr(
            "transform(sequence(1, size(_cn)), "
            "i -> aggregate(slice(_cn, 1, i), cast(0 as bigint), (a, p) -> a + p.n))"
        ).alias("cum"),
    )

    # ---- static probe table: guaranteed span per query (tiny, broadcast) ----
    rows = []
    for q in qs:
        g = grid.guaranteed_cells(q.q_n_tok, q.radius)
        rows.append((q.q_id, min(g) if g else -1, max(g) if g else -2))
    probes = local_table(spark, rows, "q_id string, g_lo int, g_hi int")

    # cum_at(X) = cum value at the last cell <= X (0 if none): O(cells) scan
    # of the in-memory structure, no data rows involved
    def cum_at(x: str) -> str:
        # try_element_at: the filtered array is empty when no cell <= X
        # exists (ANSI mode throws on element_at(-1) of an empty array)
        return (
            f"coalesce(try_element_at(filter(zip_with(cells, cum, (c, s) -> "
            f"struct(c as c, s as s)), p -> p.c <= {x}), -1).s, cast(0 as bigint))"
        )

    g_counts = prefix.join(F.broadcast(probes)).select(
        "ws",
        "q_id",
        F.expr(f"{cum_at('g_hi')} - {cum_at('g_lo - 1')}").alias("n_g"),
    )

    # ---- exact check only in the boundary cells ----
    qcells = query_cells_df(spark, grid, qs).where(~F.col("guaranteed"))
    boundary = (
        s.join(F.broadcast(qcells), "cell")
        .where(F.expr("abs(n_tok - q_n_tok) <= radius"))
        .groupBy("ws", "q_id")
        .agg(F.count(F.lit(1)).alias("n_b"))
    )

    total = g_counts.join(boundary, ["ws", "q_id"], "full_outer").select(
        "ws",
        "q_id",
        (F.coalesce("n_g", F.lit(0)) + F.coalesce("n_b", F.lit(0))).alias("n_matches"),
    )
    return total.where(F.col("n_matches") > 0).orderBy("ws", "q_id")


def range_query(
    seq: DataFrame,
    grid: GridConfig,
    qs: Iterable[QueryPoint],
    approximate: bool = False,
) -> DataFrame:
    """All rows within radius of each query point (no windowing — compose
    with functions/windows.py builders for the windowed variants).

    Output: q_id + every sequence column + dist.
    """
    spark = seq.sparkSession
    qcells = query_cells_df(spark, grid, qs)
    s = with_cell(seq, grid)
    joined = s.join(F.broadcast(qcells), "cell")
    dist = F.expr("abs(n_tok - q_n_tok)")
    if approximate:
        # approximate mode: candidates pass unchecked (QueryConfiguration.java:50-56)
        pred = F.lit(True)
    else:
        pred = F.col("guaranteed") | (dist <= F.col("radius"))
    return joined.where(pred).withColumn("dist", dist)
