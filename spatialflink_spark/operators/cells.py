"""Grid cell assignment + salted skew-aware repartitioning — the shuffle layer.

Reference: the gridID string computed at ingest (spatialObjects/Point.java:65
via utils/HelperClass.assignGridCellID, HelperClass.java:104-116:
floor((x-minX)/cellLength)) and keyBy(gridID)
(range/PointPointRangeQuery.java:144-149).

Token-domain analog: `cell = clamp(floor(n_tok / cell_len))` — a *logical*
partition key, data not metadata, exactly like gridID. Physical placement is
a separate concern: north_rule requires an explicit salted hash-partitioner
over (source, doc_id) with skew-aware fan-out, which we implement as
`salted_repartition` (salt only for physical balance — it never appears in
results).

Scale notes (100 TB): cell comes from built-in integer arithmetic, so the
filter `cell IN (...)` is a Catalyst pushable predicate; when the Iceberg
table is partitioned by cell this becomes partition pruning — no custom rule
needed. The salt bounds the largest shuffle partition at
max_group_size / salt_buckets, which is what keeps a single hot `source`
(50% of rows in the fixture, by design) from serializing one reducer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spatialflink_spark.config import GridConfig


def clamped_cell_sql(grid: GridConfig, x: str) -> str:
    """SQL for the cell of value `x`: clamp(floor(x / cell_len), 0,
    num_cells-1) as INT — out-of-domain values land in the edge cells."""
    return (
        f"cast(least(greatest(floor({x} / {grid.cell_len}), 0), "
        f"{grid.num_cells - 1}) as int)"
    )


def cell_span_sql(grid: GridConfig, lo: str, hi: str, expand: int = 0) -> str:
    """SQL array of the cells covering [lo - expand, hi + expand] — the
    gridIDsSet of an extent (HelperClass.java:123-143); `expand` is the join
    radius when one side is replicated to its neighbor cells
    (JoinQuery.java:73-90)."""
    if expand:
        lo, hi = f"({lo} - {expand})", f"({hi} + {expand})"
    return f"sequence({clamped_cell_sql(grid, lo)}, {clamped_cell_sql(grid, hi)})"


def parts_cell_span_sql(grid: GridConfig, parts: str, expand: int = 0) -> str:
    """SQL array of the cells covered by any element of `parts` (an array of
    structs with lo/hi fields) — the union of the parts' gridIDsSets, as the
    reference builds it for multi-geometries and collections."""
    span = cell_span_sql(grid, "p.lo", "p.hi", expand)
    return f"array_distinct(flatten(transform({parts}, p -> {span})))"


def cell_expr(grid: GridConfig, n_tok_col: str = "n_tok") -> Column:
    """cell = clamp(floor(n_tok / cell_len), 0, num_cells-1) as INT."""
    return F.expr(clamped_cell_sql(grid, n_tok_col))


def duck_cell_expr(grid: GridConfig, n_tok_col: str = "n_tok") -> str:
    return (
        f"CAST(least(greatest(floor({n_tok_col} / {grid.cell_len}), 0), "
        f"{grid.num_cells - 1}) AS INT)"
    )


def with_cell(df: DataFrame, grid: GridConfig, n_tok_col: str = "n_tok") -> DataFrame:
    return df.withColumn("cell", cell_expr(grid, n_tok_col))


def salted_repartition(
    df: DataFrame,
    num_partitions: int,
    salt_buckets: int,
    *cols: str,
) -> DataFrame:
    """Explicit skew-aware repartition before a shuffle-heavy stage.

    Hash-partitions on (cols..., salt) where salt = pmod(xxhash64(doc-unique
    columns), salt_buckets). xxhash64 is JVM-side and free; the salt column is
    dropped after the exchange so it never reaches results. The analog of the
    reference's keyBy(gridID) (PointPointRangeQuery.java:144-149) but with the
    skew handling GeoFlink lacks (hot cells are its known weakness).
    """
    all_cols = [F.col(c) for c in cols]
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(*all_cols, F.monotonically_increasing_id()), F.lit(salt_buckets))
    )
    return salted.repartition(num_partitions, *all_cols, F.col("_salt")).drop("_salt")
