"""SparkSession factory tuned for the validation engine.

Local-mode knobs mirror the reference's ``--threads`` bounded concurrency
(reference src/cli.rs:186-192: default = available cores): Spark's analog is
executor cores + ``spark.sql.shuffle.partitions``. AQE is always on — it is
the runtime half of the skew story (the compile-time half is explicit
salting, see operators/uniqueness.py).
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _default_driver_memory() -> str:
    """Half of MemTotal, 1g-16g (the heap shares the host with off-heap
    buffers and Python workers); 16g where /proc/meminfo is missing."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(f.readline().split()[1])  # first line: MemTotal
    except (OSError, ValueError, IndexError):
        return "16g"
    return f"{max(1024, min(16 * 1024, kb // 2048))}m"


def get_spark(
    app_name: str = "validate_xml_rust_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) else ``*``.
    ``shuffle_partitions`` defaults to the core count — the "set it to
    ~cores for local" rule; on a real cluster this would be sized to
    2-3x total executor cores. The driver heap is ``$SPARK_DRIVER_MEMORY``
    else half the host's RAM (``_default_driver_memory``).
    """
    if cpus is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cpus = int(env) if env else None
    master = f"local[{cpus}]" if cpus else "local[*]"
    n_shuffle = shuffle_partitions or cpus or (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Prefer shuffled-hash over sort-merge when the planner's size
        # conditions hold (guide §3.1/§9): skips the per-partition sorts;
        # the planner still falls back to SMJ when neither side is safely
        # buildable, so spill behavior at scale is unchanged. Measured
        # ~35% off the minhash exact-Jaccard verify joins at 100k docs.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        # Generated-class cache (static; default 100). CodegenMetrics counts
        # on perfbench: cold iterations compile 101-118 classes (curate) and
        # 84 (validate); warm curate iterations recompile 43-89 at 100
        # entries (0.3-0.7 s), 0 at 1000 (5 once in 4 iterations); warm
        # validate iterations compile 0-6 at either size.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, schema: str, columns: dict[str, list] | None = None
) -> DataFrame:
    """Driver-side values as a frame over a JVM LocalRelation: ``columns``
    maps each column of the DDL ``schema`` to its values (None: no rows).
    It goes through one pyarrow Table; a list, or a pandas frame with zero
    rows, becomes a pickled RDD that a Python-worker job converts (~0.25 s
    per call)."""
    if columns is None:
        columns = {f.name: [] for f in StructType.fromDDL(schema).fields}
    return spark.createDataFrame(pa.table(columns), schema)
