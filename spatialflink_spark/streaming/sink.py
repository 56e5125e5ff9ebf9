"""Exactly-once foreachBatch sink with per-batch lineage + metrics.

North_rule requirement: "idempotent exactly-once foreachBatch Iceberg sink
keyed by (window, doc_id) with per-partition lineage and metrics recorded to
a checkpointed state store, resumable from checkpoint mid-stream".

Production shape: ``foreachBatch`` + Iceberg ``MERGE INTO target USING batch
ON (window, doc_id)`` — idempotent under micro-batch replay because the merge
key dedups, plus a batchId high-watermark guard to skip wholesale re-commits.

This container ships no Iceberg runtime jars, so the sink below implements
the SAME protocol on a parquet directory layout:

- data/batch_id=N/...   each micro-batch overwrites ITS OWN directory
                        (rewriting batch N after a crash is idempotent —
                        exactly Iceberg's replace-by-key outcome for
                        deterministic batches keyed (window, doc_id))
- _ledger/N.json        committed AFTER the data write, atomically
                        (os.replace); carries lineage: per-partition row
                        counts, output rows, key range, wall time — read
                        from the footers of the files the write just made
                        (footer_lineage), so a micro-batch is ONE Spark job
- a batch is visible iff its ledger entry exists -> readers see
  exactly-once output even if the job dies between data write and commit
  (the orphaned data dir is invisible and gets overwritten on replay).

The reference's sinks are append-only text/Kafka with no transactional story
(MetricsSink.java:14-104, CountingLatencyFileSink.java:23-77) — the metric
surface they record (count/bytes/eps/latency per interval; per-stage in/out
counts, com/mn/metrics/MetricNames.java:7-36) is reproduced in the lineage
JSON + streaming/metrics.py.
"""

from __future__ import annotations

import json
import os
import time

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

# key types whose parquet footer min/max order is Spark's own order: signed
# integers, booleans, dates and UTF-8 strings (unsigned byte order, which is
# code point order). Floats (NaN sorts above every number in Spark, footers
# skip it) and timestamps (INT96 footers carry no bounds, and Spark returns
# session-local datetimes) are not sink keys.
_FOOTER_ORDERED = (
    T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.DateType, T.StringType,
)


def _footers(path: str) -> list[tuple[int, str, pq.FileMetaData]]:
    """(partition id, file, footer) of every non-empty data file Spark's
    parquet writer left in `path`. A data file is
    `part-<partition id>-<uuid>-c<seq>...parquet`; one partition writes
    several when spark.sql.files.maxRecordsPerFile splits it. Zero-row files
    are dropped: Spark writes one for an empty result, and it held no rows."""
    out = []
    for name in sorted(os.listdir(path)):
        if name.startswith("part-") and name.endswith(".parquet"):
            f = os.path.join(path, name)
            md = pq.read_metadata(f)
            if md.num_rows:
                out.append((int(name.split("-")[1]), f, md))
    return out


def _column_range(f: str, md: pq.FileMetaData, col: str) -> tuple:
    """(min, max) of `col` in one non-empty data file, (None, None) when
    every value is null. From the row-group statistics; parquet-mr leaves
    min/max out of the footer for binary values over 4 KB, and for such a
    file the column is read with pyarrow instead."""
    j = next(j for j in range(md.num_columns) if md.schema.column(j).path == col)
    lo, hi = [], []
    for g in range(md.num_row_groups):
        cc = md.row_group(g).column(j)
        s = cc.statistics
        if s is not None and s.has_min_max:
            lo.append(s.min)
            hi.append(s.max)
        elif s is None or not s.has_null_count or s.null_count != cc.num_values:
            mm = pc.min_max(pq.read_table(f, columns=[col]).column(col))
            return mm["min"].as_py(), mm["max"].as_py()
    return (min(lo), max(hi)) if lo else (None, None)


def footer_lineage(path: str, keys: list[str]) -> tuple[dict[int, int], dict[str, tuple]]:
    """Per-partition row counts and per-key (min, max) of the parquet
    dataset just written to `path`, read from its footers on the driver —
    no Spark job. Rows sum per partition id; (None, None) for a key that is
    null in every row."""
    part_rows: dict[int, int] = {}
    lo: dict[str, list] = {c: [] for c in keys}
    hi: dict[str, list] = {c: [] for c in keys}
    for pid, f, md in _footers(path):
        part_rows[pid] = part_rows.get(pid, 0) + md.num_rows
        for c in keys:
            a, b = _column_range(f, md, c)
            if a is not None:
                lo[c].append(a)
                hi[c].append(b)
    return part_rows, {
        c: (min(lo[c], default=None), max(hi[c], default=None)) for c in keys
    }


class ExactlyOnceSink:
    def __init__(self, root: str, key_cols: tuple[str, ...] = ("ws", "doc_id")):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.ledger_dir = os.path.join(root, "_ledger")
        self.key_cols = key_cols
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.ledger_dir, exist_ok=True)

    # -- commit protocol ----------------------------------------------------
    def committed_batches(self) -> set[int]:
        return {
            int(f.split(".")[0])
            for f in os.listdir(self.ledger_dir)
            if f.endswith(".json") and not f.startswith("compact_")
        }

    def _ledger_path(self, batch_id: int) -> str:
        return os.path.join(self.ledger_dir, f"{batch_id}.json")

    def write_batch(self, df: DataFrame, batch_id: int) -> None:
        """The foreachBatch function. Skip if already committed (replay after
        successful commit); otherwise (re)write the batch dir then commit the
        ledger entry with lineage."""
        if batch_id in self.committed_batches():
            # exactly-once: the checkpoint replayed an already-committed
            # batch (crash/stop landed between this ledger's commit and
            # Spark's commit-log write). Do NOT rewrite data — but DO drive
            # the DataFrame through a noop write: a stateful plan only
            # commits its state stores when the batch is fully consumed,
            # and skipping consumption both fails Spark's state-store
            # commit validation (STATE_STORE_COMMIT_VALIDATION_FAILED) and
            # would leave the replayed batch's state version uncommitted.
            df.write.format("noop").mode("overwrite").save()
            return
        t0 = time.time()
        keys = [c for c in self.key_cols if c in df.columns]
        for c in keys:
            if not isinstance(df.schema[c].dataType, _FOOTER_ORDERED):
                raise TypeError(
                    f"sink key {c!r} is {df.schema[c].dataType.simpleString()}: "
                    "keys must be integer, boolean, date or string columns"
                )
        # ONE action per micro-batch: the parquet write. The lineage (the
        # per-pipe in/out counters of CountingMap.java:14-38 plus the key
        # range) is read back from the footers of the files it just wrote,
        # the way an Iceberg manifest carries each data file's record count
        # and column bounds — so the micro-batch's plan runs once, with no
        # persist and no second job.
        out_path = os.path.join(self.data_dir, f"batch_id={batch_id}")
        df.write.mode("overwrite").parquet(out_path)
        part_rows, ranges = footer_lineage(out_path, keys)
        n_out = sum(part_rows.values())
        stats = {}
        if n_out:
            for c in keys:
                stats[f"min_{c}"], stats[f"max_{c}"] = ranges[c]
        lineage = {
            "batch_id": batch_id,
            "rows_out": n_out,
            "partition_rows": sorted(part_rows.values()),
            "key_range": {k: (str(v) if v is not None else None) for k, v in stats.items()},
            "wall_s": round(time.time() - t0, 3),
            "committed_at": time.time(),
        }
        tmp = self._ledger_path(batch_id) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(lineage, f)
        os.replace(tmp, self._ledger_path(batch_id))  # atomic commit point

    def foreach_batch(self):
        return lambda df, bid: self.write_batch(df, bid)

    # -- compaction (Iceberg rewrite_data_files analog) ---------------------
    def compact_watermark(self) -> int | None:
        """Highest committed compaction watermark W: the newest
        `compact=<W>` segment folds every batch <= W."""
        ws = [
            int(f[len("compact_"):].split(".")[0])
            for f in os.listdir(self.ledger_dir)
            if f.startswith("compact_") and f.endswith(".json")
        ]
        return max(ws) if ws else None

    def _segments(self) -> list[tuple[int, str]]:
        """(effective_batch_id, path) pairs forming the current snapshot:
        the newest compacted segment (standing in for every batch <= W at
        effective id W — its rows are already latest-per-key) plus the
        committed batch dirs above the watermark."""
        w = self.compact_watermark()
        batches = sorted(self.committed_batches())
        segs: list[tuple[int, str]] = []
        if w is not None:
            segs.append((w, os.path.join(self.data_dir, f"compact={w}")))
            batches = [b for b in batches if b > w]
        segs += [
            (b, os.path.join(self.data_dir, f"batch_id={b}")) for b in batches
        ]
        return segs

    def compact(self, spark: SparkSession) -> dict:
        """Fold the merge-on-read snapshot into ONE compacted segment and
        drop the superseded per-batch data dirs — the Iceberg
        rewrite_data_files/compaction maintenance op. Without it an
        update-mode changelog's read cost grows linearly with batch count
        (one dir + one union branch per micro-batch forever); after it,
        read_merged unions 1 + (batches since W) segments.

        Same crash-safety protocol as write_batch: the compacted segment
        is VISIBLE ONLY once `_ledger/compact_<W>.json` commits (atomic
        os.replace) — a crash between data write and commit leaves an
        invisible dir that the next compact overwrites; a crash between
        commit and vacuum leaves stale batch dirs that readers already
        ignore (b > W filter). Batch LEDGER entries are never deleted:
        lineage history survives and write_batch's replay-skip keeps
        working unchanged. Idempotent no-op when nothing new to fold."""
        import shutil

        w_old = self.compact_watermark()
        batches = sorted(self.committed_batches())
        if not batches and w_old is None:
            raise ValueError(f"no committed batches under {self.root}")
        w = max(batches) if batches else w_old
        if w_old is not None and w <= w_old:
            return {"compact_watermark": w_old, "noop": True}
        out = os.path.join(self.data_dir, f"compact={w}")
        self.read_merged(spark).write.mode("overwrite").parquet(out)
        n = sum(md.num_rows for _, _, md in _footers(out))
        entry = {
            "compact_watermark": w,
            "rows": n,
            "folded_batches": [b for b in batches if b <= w],
            "folded_compact": w_old,
            "committed_at": time.time(),
        }
        path = os.path.join(self.ledger_dir, f"compact_{w}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(entry, f)
        os.replace(tmp, path)  # atomic visibility point
        # vacuum: data superseded by this segment (ledgers retained)
        for b in batches:
            if b <= w:
                shutil.rmtree(
                    os.path.join(self.data_dir, f"batch_id={b}"),
                    ignore_errors=True,
                )
        if w_old is not None:
            shutil.rmtree(
                os.path.join(self.data_dir, f"compact={w_old}"),
                ignore_errors=True,
            )
        return entry

    def compaction_lineage(self) -> list[dict]:
        out = []
        for f in sorted(os.listdir(self.ledger_dir)):
            if f.startswith("compact_") and f.endswith(".json"):
                with open(os.path.join(self.ledger_dir, f)) as fh:
                    out.append(json.load(fh))
        return out

    # -- read side ----------------------------------------------------------
    def read_committed(self, spark: SparkSession) -> DataFrame:
        segs = self._segments()
        if not segs:
            raise ValueError(f"no committed batches under {self.root}")
        return spark.read.parquet(*[p for _, p in segs])

    def read_merged(self, spark: SparkSession) -> DataFrame:
        """MERGE-on-read: latest write per key (max batch_id wins) — the
        exact read semantics of an Iceberg `MERGE INTO ... ON key` target fed
        by update-mode output. Append-mode pipelines never write a key twice,
        so for them read_merged == read_committed. Reads the compacted
        segment (if any) plus post-watermark batches — see compact()."""
        df = None
        for bid, path in self._segments():
            part = spark.read.parquet(path).withColumn("_bid", F.lit(bid))
            df = part if df is None else df.unionByName(part)
        if df is None:
            raise ValueError(f"no committed batches under {self.root}")
        keys = [c for c in self.key_cols if c in df.columns]
        ranked = df.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(*keys).orderBy(F.col("_bid").desc())
            ),
        )
        return ranked.where(F.col("_rn") == 1).drop("_rn", "_bid")

    def lineage(self) -> list[dict]:
        out = []
        for b in sorted(self.committed_batches()):
            with open(self._ledger_path(b)) as f:
                out.append(json.load(f))
        return out
