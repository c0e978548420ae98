"""SparkSession factory.

Single place where every entry point (tests, bench, ``__spark_entry__``)
gets a session, with the knobs that matter at 100 TB set once:

- AQE on (runtime re-plan: coalesce shuffle partitions, skew-join split,
  broadcast conversion) — replaces the reference's hand-set warehouse
  sizing (``config.py:84-125`` connection bootstrap).
- UTC session timezone so timestamp semantics match the DuckDB oracle
  (DuckDB timestamps are UTC-naive).
- Arrow enabled for any pandas interchange (the slow path, but when we
  take it, it's vectorized).
- shuffle partitions sized to the local core count; on a real cluster
  AQE coalescing makes the initial number far less critical.
- Python workers fork from the engine's daemon (``_pydaemon``), which
  stops every Python task from re-reading ``pyspark.zip`` (~0.2 s of
  worker CPU per task on CPython < 3.13); the package's parent dir goes
  on the workers' PYTHONPATH so the daemon resolves from any cwd.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .conf import DEFAULT_CONFIG, EngineConfig

_PYDAEMON = f"{__package__}._pydaemon"
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_session(config: EngineConfig | None = None) -> SparkSession:
    """Create (or fetch) the engine SparkSession."""
    cfg = config or DEFAULT_CONFIG
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = f"local[{cpus}]" if cpus else cfg.master
    builder = (
        SparkSession.builder.master(master)
        .appName(cfg.app_name)
        .config("spark.sql.shuffle.partitions", str(cfg.shuffle_partitions))
        .config("spark.sql.session.timeZone", cfg.session_timezone)
        .config("spark.sql.adaptive.enabled", str(cfg.adaptive_enabled).lower())
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", cfg.max_partition_bytes)
        # events.parquet carries TIMESTAMP(NANOS) which the vectorized reader
        # rejects; read as long and convert in the catalog (catalog.load_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.warehouse.dir", cfg.warehouse_dir)
        .config("spark.driver.memory", os.environ.get("OSETL_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "32m")
        # the worker daemon (see module docstring) resolves through the
        # workers' PYTHONPATH, not through the JVM's working directory
        .config("spark.python.daemon.module", _PYDAEMON)
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    # object-store / filesystem config (conf.EngineConfig.hadoop_conf):
    # spark.hadoop.* prefixed entries land on the Hadoop configuration
    # every FileSystem-resolving path op uses (s3a endpoints, creds
    # providers, viewfs mount tables)
    for key, val in cfg.hadoop_conf.items():
        builder = builder.config(f"spark.hadoop.{key}", val)
    for key, val in cfg.extra.items():
        builder = builder.config(key, val)
    return builder.getOrCreate()


def tune_session(spark: SparkSession, config: EngineConfig | None = None) -> SparkSession:
    """Apply the engine's runtime-settable conf to an externally provided
    session (the driver passes its own ``spark`` to ``entry()``).

    Static conf (master, memory) can't change post-start; these can and
    they are the ones correctness depends on (timezone ↔ oracle parity).
    The Python worker daemon module and the workers' PYTHONPATH are
    static conf too, so a caller-supplied session (``__spark_entry__``)
    keeps ``pyspark.daemon`` and its per-task ``pyspark.zip`` re-reads.
    """
    cfg = config or DEFAULT_CONFIG
    spark.conf.set("spark.sql.session.timeZone", cfg.session_timezone)
    spark.conf.set("spark.sql.adaptive.enabled", str(cfg.adaptive_enabled).lower())
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.shuffle.partitions", str(cfg.shuffle_partitions))
    return spark
