"""Streaming sources — replayable, watermark-controlled.

Reference sources re-expressed (SURVEY.md §2.1):
- Kafka GeoJSON/CSV consumer (StreamingJob.java:255, Deserialization.java)
  -> in production: `spark.readStream.format("kafka")` + from_json, or an
  Iceberg streaming read; both produce the canonical sequence schema.
- readTextFile CSV replay (sncb/tests/MobilityQueryRunner.java:43)
  -> file streaming source below: the derived sequences table is staged as
  one parquet file per micro-batch (ordered by event time), then read with
  maxFilesPerTrigger=1 so each trigger consumes exactly one file — giving
  tests deterministic control over watermark advancement, like the
  reference's bounded out-of-orderness extractor
  (range/PointPointRangeQuery.java:127-133).
- SyntheticGpsSource (sncb/tests/SyntheticGpsSource.java:8-57, seeded
  Random(42)) -> the derivation in sources/sequences.py IS the seeded
  synthetic generator (deterministic per doc_id).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spatialflink_spark.sources.sequences import sequences

SEQ_STREAM_SCHEMA = (
    "doc_id bigint, seq_no int, tokens array<int>, n_tok int, "
    "source string, ts_s bigint"
)


def stage_replay_files(
    spark: SparkSession, sf_dir: str, out_dir: str, n_batches: int = 4
) -> list[str]:
    """Materialize the derived sequences table as n_batches parquet files,
    sliced by EVENT TIME, with strictly increasing mtimes so the file source
    replays them in order (later batches carry later timestamps, so the
    watermark advances monotonically). Returns file paths in replay order.

    All slicing and writing happens executor-side: the only driver-side data
    is the n_batches-1 quantile cut points (approxQuantile with error 0 =
    exact, deterministic). Round 1 collected the whole table via toPandas(),
    which OOMs the driver at 100x scale."""
    import glob
    import shutil

    seq = sequences(spark, sf_dir).persist()
    try:
        qs = [i / n_batches for i in range(1, n_batches)]
        cuts = seq.approxQuantile("ts_s", qs, 0.0) if n_batches > 1 else []
        # dedupe equal cut points (heavy ts duplication) — empty slices vanish
        bounds: list[float] = []
        for c in cuts:
            if not bounds or c != bounds[-1]:
                bounds.append(c)
        # slice id = #cut points <= ts_s; ONE shuffle-by-slice + ONE
        # partitionBy write job produces every replay file (round-1 wrote one
        # sorted coalesce(1) job PER slice — n sequential jobs; the per-slice
        # sort was needless: neither the file source nor the watermark cares
        # about intra-file order, only about which file holds which times)
        slice_expr = (
            " + ".join(f"(CASE WHEN ts_s >= {c} THEN 1 ELSE 0 END)" for c in bounds)
            if bounds
            else "0"
        )
        tmp = os.path.join(out_dir, "_stage")
        (
            seq.withColumn("_slice", F.expr(f"cast({slice_expr} as int)"))
            .repartition(max(len(bounds) + 1, 1), "_slice")
            .sortWithinPartitions("ts_s", "doc_id", "seq_no")
            .write.mode("overwrite")
            .partitionBy("_slice")
            .parquet(tmp)
        )
        os.makedirs(out_dir, exist_ok=True)
        paths = []
        for i in range(len(bounds) + 1):
            parts = sorted(glob.glob(os.path.join(tmp, f"_slice={i}", "part-*.parquet")))
            if not parts:
                continue
            # one slice == one partition == one part file (repartition by
            # _slice). If a conf like maxRecordsPerFile ever splits a slice,
            # fail loudly rather than silently dropping rows from the replay.
            if len(parts) != 1:
                raise RuntimeError(
                    f"stage_replay_files: slice {i} produced {len(parts)} part "
                    "files; replay expects exactly one per slice "
                    "(is spark.sql.files.maxRecordsPerFile set?)"
                )
            p = os.path.join(out_dir, f"batch_{i:04d}.parquet")
            os.replace(parts[0], p)
            mt = time.time() + i  # monotone mtimes -> deterministic replay order
            os.utime(p, (mt, mt))
            paths.append(p)
        shutil.rmtree(tmp, ignore_errors=True)
        return paths
    finally:
        seq.unpersist()


_REPLAY_CACHE: dict[tuple[str, str, int], str] = {}


def stage_replay_files_cached(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> str:
    """Stage once per (session, sf_dir, n_batches) and reuse: the replay
    files are a deterministic immutable artifact of the input table, and
    every end-to-end streaming gate query (gate._stream_gate) replays the
    same table — re-deriving and re-writing it per query multiplied the
    staging jobs.
    Checkpoints/sinks stay per-query; only the input files are shared.
    Returns the replay directory."""
    import tempfile

    key = (spark.sparkContext.applicationId, sf_dir, n_batches)
    out = _REPLAY_CACHE.get(key)
    if out is None or not os.path.isdir(out):
        out = tempfile.mkdtemp(prefix="sfs_replay_") + "/replay"
        stage_replay_files(spark, sf_dir, out, n_batches=n_batches)
        _REPLAY_CACHE[key] = out
    return out


def read_kafka_raw_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    lateness_s: int = 2,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka JSON ingest — the reference's primary source (StreamingJob.java:
    255, JSONKeyValueDeserializationSchema): format("kafka") -> cast value to
    string -> from_json into the canonical raw-doc schema -> watermark.
    Compose with sources.sequences.derive_sequences for the sequence stream.

    Requires the spark-sql-kafka connector jar on the classpath (the pip
    pyspark distribution doesn't ship it); without it this raises a clear
    RuntimeError instead of an opaque AnalysisException — the wiring itself
    is exactly what runs against a real broker."""
    from spatialflink_spark.sources.formats import parse_json_lines

    try:
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .load()
        )
    except Exception as e:  # AnalysisException: Failed to find data source
        raise RuntimeError(
            "Kafka source unavailable: add the spark-sql-kafka-0-10 connector "
            "(spark-submit --packages org.apache.spark:spark-sql-kafka-0-10_2.13:"
            f"{spark.version}). Original error: {str(e)[:200]}"
        ) from e
    lines = raw.selectExpr("cast(value as string) as value")
    parsed = parse_json_lines(lines)
    return parsed.withColumn(
        "event_ts", F.expr("timestamp_seconds(ts_s)")
    ).withWatermark("event_ts", f"{lateness_s} seconds")


def read_sequences_stream(
    spark: SparkSession,
    replay_dir: str,
    lateness_s: int = 2,
    max_files_per_trigger: int = 1,
    pre_watermark_filter: str | None = None,
) -> DataFrame:
    """Streaming read of staged sequence files with an event-time watermark —
    the analog of source -> BoundedOutOfOrdernessTimestampExtractor(lateness).
    Adds `event_ts` (timestamp) used by all windowed streaming ops; late rows
    beyond the watermark are dropped (the reference never side-outputs late
    data).

    `pre_watermark_filter` is applied structurally BELOW the EventTimeWatermark
    node, so filtered-out rows never contribute to watermark advancement by
    plan construction — callers whose oracle computes the watermark basis over
    the filtered stream must use this rather than a post-watermark .where()
    (which only lands below the watermark if Catalyst happens to push it)."""
    df = (
        spark.readStream.schema(SEQ_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(replay_dir)
    )
    if pre_watermark_filter is not None:
        df = df.where(pre_watermark_filter)
    return df.withColumn(
        "event_ts", F.expr("timestamp_seconds(ts_s)")
    ).withWatermark("event_ts", f"{lateness_s} seconds")
