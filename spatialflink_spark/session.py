"""SparkSession factory tuned for the engine.

Scale stance (100 TB / 1000-executor design, tested on local[N]):
- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- Arrow on (every pandas UDF crosses the JVM/Python boundary in columnar
  batches, never row-at-a-time)
- UTC session timezone (deterministic event-time math)
- shuffle partitions sized by config; at cluster scale this becomes
  executors*cores*2-3 and AQE coalesces down.
"""

from __future__ import annotations

import os
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "spatialflink-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 32)
    b = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cores}]"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Prefer shuffled-hash over sort-merge when the per-partition build
        # side fits (guide §3.1/§9): our joins are dominated by
        # checkpoint-backed relations whose unknown stats force the planner
        # to the sort-merge fallback — SHJ skips both sorts. The AQE
        # threshold additionally rewrites SMJ->SHJ at runtime from MEASURED
        # partition sizes (per-partition bound, so it scales with the
        # cluster, not the host).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(128 * 1024 * 1024),
        )
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # cached-relation build cost: the relations operators persist
        # (token-array sequences, fingerprints) are high-entropy int
        # arrays — columnar cache compression burns CPU per build for
        # negligible ratio on such columns (measured 1.9x faster persist
        # materialization with it off, same read speed). Data-shape
        # dependent, not host dependent; storage for persisted derived
        # relations is transient in this engine.
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


_SPREAD_NPART_CACHE: dict[tuple[str, int], int] = {}


def spread(df, parallelism: int | None = None):
    """Repartition UP to the session's parallelism when the input scan has
    fewer partitions than cores — a small parquet file arrives as ONE
    partition, serializing every compute-heavy derivation built on it
    (tokenize/shingle/hash lambdas run 32x slower than they should on
    local[32]). At 100 TB the scan has thousands of partitions and this is a
    no-op; the shuffle it inserts at small scale moves only the raw rows.

    The partition-count PROBE (df.rdd) compiles a throwaway physical plan —
    ~35-50 ms per call, paid by nearly every data operator. Within one
    session the same analyzed plan over the same immutable files always
    yields the same scan split, so the count is memoized per
    (applicationId, plan semantic hash) — cached metadata about the layout,
    never data."""
    sc = df.sparkSession.sparkContext
    target = parallelism or sc.defaultParallelism
    try:
        key = (
            sc.applicationId,
            df._jdf.queryExecution().analyzed().semanticHash(),
        )
    except Exception:
        key = None
    n = _SPREAD_NPART_CACHE.get(key) if key is not None else None
    if n is None:
        n = df.rdd.getNumPartitions()
        if key is not None:
            _SPREAD_NPART_CACHE[key] = n
    if n < target:
        return df.repartition(target)
    return df


def ensure_pyfiles(spark: SparkSession) -> None:
    """Ship the engine package to executor Python workers — the programmatic
    equivalent of `spark-submit --py-files engine.zip` (north_rule launch
    mode). Required for any pandas-UDF / applyInPandasWithState operator when
    the driver process isn't rooted at the repo (cloudpickle serializes
    module-level functions by reference)."""
    sc = spark.sparkContext
    if getattr(sc, "_spatialflink_pyfiles", False):
        return
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    base = os.path.join(tempfile.gettempdir(), "spatialflink_spark_pkg")
    zip_path = shutil.make_archive(base, "zip", os.path.dirname(pkg_dir),
                                   os.path.basename(pkg_dir))
    sc.addPyFile(zip_path)
    sc._spatialflink_pyfiles = True


def local_table(spark: SparkSession, rows: Iterable[tuple], ddl: str) -> DataFrame:
    """A tiny driver-side table (query points, cell sets, probe spans) as a
    JVM-local relation: it plans as a LocalTableScan, so broadcasting or
    joining it starts no task. `spark.createDataFrame(<list>, ddl)` instead
    parallelizes a Python RDD, and every query over it then starts a Python
    worker task per partition just to read a few dozen rows — ~0.2 s of CPU
    each on a 4-vCPU host, mostly the worker's `importlib.invalidate_caches()`
    re-reading the pyspark.zip directory once per zipimporter.

    The rows cross to the JVM as one Arrow batch (a pyarrow Table converts
    whatever the session's Arrow setting), and the schema is exactly the
    DDL's: names, types and nullability. A SQL VALUES relation would also be
    JVM-local, but makes every column non-nullable."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(ddl)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    cols = [
        pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow_schema)
    ]
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow_schema), schema)
