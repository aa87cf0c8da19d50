"""SparkSession factory tuned for this engine.

Local-mode defaults mirror the scale posture described in SURVEY.md §7:
AQE on (runtime re-plan, skew-join, partition coalescing), shuffle
partitions sized to cores rather than the 200 default, Arrow enabled for
the Pandas-UDF escape hatches, and UTC session time so results compare
bit-for-bit with the DuckDB oracle (DuckDB timestamps are UTC-naive).

On a real cluster the same builder applies minus ``master``. The configs
here are per-job, except the driver heap, which is sized from the machine
the driver runs on (``default_driver_memory``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DRIVER_MEM_CAP_MB = 16 * 1024
_DRIVER_MEM_FALLBACK_MB = 1024


def physical_ram_bytes() -> int | None:
    """Physical RAM of this machine, or None where it cannot be read."""
    try:
        return os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (AttributeError, OSError, ValueError):
        return None


def default_driver_memory(ram_bytes: int | None) -> str:
    """Half of ``ram_bytes``, capped at 16g; 1g when RAM is unknown.

    The reference budgets 50 % of *available* RAM (SURVEY.md §6); physical
    RAM is used here so the default does not change from run to run.
    """
    if ram_bytes is None or ram_bytes <= 0:
        return f"{_DRIVER_MEM_FALLBACK_MB}m"
    return f"{min(_DRIVER_MEM_CAP_MB, ram_bytes // 2 // 2**20)}m"


def driver_memory() -> str:
    """``spark.driver.memory`` before any extra conf: $SPARK_GRAFT_DRIVER_MEM
    when set, else ``default_driver_memory`` of this machine's RAM."""
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(
        physical_ram_bytes()
    )


def get_spark(
    app_name: str = "ngff_zarr_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. Shuffle
    partitions default to the core count: at local scale fewer, bigger
    partitions beat the 200-partition default; at cluster scale callers
    override (rule of thumb: 2-3x total executor cores, bounded by
    ~128MB-per-partition of shuffle data).

    ``spark.driver.memory`` defaults to half of physical RAM, capped at
    16g, or 1g when RAM cannot be read: the reference's memory budget
    (SURVEY.md §6, ``config.memory_target``). In local mode the driver
    JVM runs every task, so its heap must fit the machine.
    $SPARK_GRAFT_DRIVER_MEM overrides the default; $SPARK_GRAFT_EXTRA_CONF
    and then ``extra_conf`` override both.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # events.parquet carries TIMESTAMP(NANOS), which Spark's parquet
        # reader rejects by default; read nanos as long session-wide so
        # no query function has to mutate shared conf mid-session.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    # environment passthrough for scale-dependent tuning (r19): a
    # cluster deployment overrides per-job settings without code edits,
    # e.g. SPARK_GRAFT_EXTRA_CONF='{"spark.sql.shuffle.partitions":"2000"}'.
    # Applied before caller extra_conf so explicit callers still win.
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if env_conf:
        import json as _json

        for k, v in _json.loads(env_conf).items():
            builder = builder.config(k, str(v))
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_tables(spark: SparkSession, sf_dir: str, tables: list[str] | None = None):
    """Register the driver-provided star-schema parquet tables as temp views.

    Returns a dict of DataFrames. Reads are plain parquet scans so
    Catalyst gets pushdown + pruning for free.
    """
    names = tables or [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    out = {}
    for name in names:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
