"""Windowed θ-join density mitigation at 10x — the geomcollection family.

The r4 sf1 spot showed geomcollection_join at ~48x its sf0.1 wall. That is
OUTPUT-driven, not a plan defect: the synthetic event-time axis is a fixed
600s span (sources.sequences.derive_sequences), so a 10x corpus puts 10x rows into
EVERY 60s tumbling window on both join sides — ~100x qualifying pairs. The
mitigation a 100x-density user applies is to re-tune the density knobs:
shorter windows (10x denser stream -> 1/10 the window keeps per-window
population constant; pair count then grows ~10x with the data, not ~100x)
and finer grid cells (2x smaller cells halve the per-(ws, cell) candidate
population the equi-join compares). This script measures both and verifies
parity of the adjusted config against the DuckDB oracle at sf0.01 — the
finer grid must be output-invariant (candidate generation stays complete:
covered-cell union + radius expansion is sound at any cell_len), and the
6s-window oracle is the same SQL with the window constant re-tuned.

Usage: python bench/gc_density.py [sf1_dir]   (default /tmp/sfs_sf1)
Prints one JSON line for the BENCH.md round-5 table.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SF001 = "/root/testdata/sf0.01"

ADJ_TUMBLING_S = 6  # 60s / 10: per-window population at sf1 == sf0.1's
ADJ_CELL_LEN = 4  # 2x finer cells over the SAME 128-token domain
ADJ_NUM_CELLS = 32


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sfs_sf1"
    sys.path.insert(0, str(REPO / "bench"))
    from sf1_spot import amplify

    marker = f"{out_dir}/_SUCCESS"
    if not os.path.exists(marker):
        amplify(out_dir)
        with open(marker, "w") as f:
            f.write("ok\n")

    from spatialflink_spark.config import DEFAULT_CONFIG as C, GridConfig
    from spatialflink_spark.functions.windows import tumbling_start
    from spatialflink_spark.operators.geomcollection import geomcollection_join
    from spatialflink_spark.session import get_spark
    from spatialflink_spark.sources.sequences import sequences

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("gc-density", cores=cpus, shuffle_partitions=max(cpus, 32))
    spark.sparkContext.setLogLevel("ERROR")
    fine = GridConfig(cell_len=ADJ_CELL_LEN, num_cells=ADJ_NUM_CELLS)

    def build(sf_dir: str, tumbling_s: int, grid: GridConfig):
        seq_ws = sequences(spark, sf_dir).withColumn(
            "ws", tumbling_start("ts_s", tumbling_s)
        )
        return geomcollection_join(seq_ws, grid, C.join_radius)

    def run(sf_dir: str, tumbling_s: int, grid: GridConfig) -> tuple[float, int]:
        best = None
        for _ in range(2):
            t0 = time.time()
            build(sf_dir, tumbling_s, grid).write.format("noop").mode(
                "overwrite"
            ).save()
            w = time.time() - t0
            best = w if best is None else min(best, w)
            spark.catalog.clearCache()
        n = build(sf_dir, tumbling_s, grid).count()
        spark.catalog.clearCache()
        return round(best, 2), n

    rows: dict[str, object] = {}
    for key, (sf_dir, tb, grid) in {
        "sf0.1_default_60s": (SRC, C.tumbling_s, C.grid),
        "sf1_default_60s": (out_dir, C.tumbling_s, C.grid),
        "sf1_adjusted_6s_fine": (out_dir, ADJ_TUMBLING_S, fine),
    }.items():
        sec, n = run(sf_dir, tb, grid)
        rows[key] = {"sec": sec, "rows": n}
        print(key, rows[key], flush=True)
    base = rows["sf0.1_default_60s"]["sec"]  # type: ignore[index]
    rows["default_ratio"] = round(rows["sf1_default_60s"]["sec"] / base, 1)  # type: ignore[index]
    rows["adjusted_ratio"] = round(rows["sf1_adjusted_6s_fine"]["sec"] / base, 1)  # type: ignore[index]

    # parity of the ADJUSTED config at sf0.01: engine (6s windows + fine
    # grid) vs the oracle SQL with only its window constant re-tuned — the
    # grid is engine-side pruning and must not appear in the answer
    import duckdb

    from spatialflink_spark.oracle import sql_apps as osqla

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF001}/documents.parquet')"
    )
    sql = osqla.geomcollection_join().replace(
        f"floor(ts_s / {C.tumbling_s}) * {C.tumbling_s}",
        f"floor(ts_s / {ADJ_TUMBLING_S}) * {ADJ_TUMBLING_S}",
    )
    assert f"floor(ts_s / {ADJ_TUMBLING_S})" in sql
    spdf = build(SF001, ADJ_TUMBLING_S, fine).toPandas()
    odf = con.execute(sql).fetchdf()
    keys = sorted(spdf.columns)
    s = spdf[keys].sort_values(keys).reset_index(drop=True)
    o = odf[keys].sort_values(keys).reset_index(drop=True).astype(
        {c: s[c].dtype for c in keys}
    )
    rows["adjusted_parity"] = bool(s.equals(o)) and len(s) > 0
    rows["adjusted_parity_rows"] = len(s)
    print(json.dumps({"gc_density": rows}))


if __name__ == "__main__":
    main()
