"""Catalog: fixture tables and temp-view registration.

The reference's "catalog" is an external-table registration in Snowflake
(``dags/ingest_bundesliga_match_scores.py:198-206``) plus a key-value
metadata table locating the data (``settings.txt:20-21``).  Here the
catalog surface is Spark temp views over Parquet — schema-on-read,
non-materialized, exactly the external-table semantics — and the fixture
loader is the one place that knows the driver's table list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
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
)

# Small dimension tables: always broadcast-join candidates at any scale.
DIM_TABLES = frozenset({"region", "nation", "supplier"})


# (sf_dir, table, file-fingerprint) → parquet file schema.  Without an
# explicit schema, every spark.read.parquet call re-reads footers to infer one
# — ~80-120 ms of driver time per call on local fixtures, and at deployment
# scale a footer GET round-trip per query per table.  The schema is a pure
# property of the files, so it is inferred once and replayed through
# ``reader.schema(...)``.  The cache key includes a cheap stat-based
# fingerprint of the path (name/mtime/size, recursing one level for
# directory-shaped datasets) so a REWRITTEN path — perturb tooling reusing a
# temp dir, a fixture drop changing a physical type — is re-inferred instead
# of read with a stale schema that could error or silently null-cast columns.
# Non-local schemes (s3a://, hdfs://) aren't os.stat-able; they skip the cache
# rather than risk staleness — which also answers the BASELINE.md round-4
# note's deployment concern: against an object store the footer read IS a GET
# round trip per load, and the right fix there is not a driver-side mtime
# cache but an explicit schema from the table catalog/metastore (pass it via
# ``reader.schema`` upstream, as a production deployment would), keeping this
# cache a local-fixture optimization only.  Only the SCHEMA is cached, never
# the DataFrame:
# each call must still build a fresh relation with fresh attribute IDs so two
# loads of the same table remain distinguishable join sides, exactly as two
# raw ``read.parquet`` calls were.
_SCHEMA_CACHE: dict = {}


def _local_fingerprint(path: str):
    """(mtime_ns, size) fingerprint of a local parquet file or one-level
    directory dataset; None when the path isn't local-stat-able (remote
    scheme), which disables caching for it."""
    import os

    p = path
    if "://" in p:
        if not p.startswith("file://"):
            return None
        p = p[len("file://"):]
    try:
        st = os.stat(p)
        if not os.path.isdir(p):
            return (st.st_mtime_ns, st.st_size)
        parts = [("", st.st_mtime_ns, 0)]
        with os.scandir(p) as it:
            for e in it:
                est = e.stat()
                parts.append((e.name, est.st_mtime_ns, est.st_size))
        return tuple(sorted(parts))
    except OSError:
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table (columnar Parquet scan; Catalyst handles
    projection/filter pushdown from whatever the caller composes on top).
    Schema inference is memoized per (dir, table) — see ``_SCHEMA_CACHE``.

    ``events.ts`` has shipped in two physical forms across fixture drops:
    TIMESTAMP(NANOS) (which Spark's parquet reader only admits as
    nanosecond longs under ``spark.sql.legacy.parquet.nanosAsLong``) and
    TIMESTAMP_NTZ.  Both are normalized here to a session-TZ TIMESTAMP:
    the nanos path truncates exactly like DuckDB's ns→µs cast, and the
    NTZ→TIMESTAMP cast is wall-clock-preserving under the UTC session
    timezone ``tune_session`` pins, so oracle queries (which CAST ts to
    DuckDB's naive TIMESTAMP) see identical values either way.  Watermarks
    and streaming event time also require TIMESTAMP, not NTZ.
    """
    path = f"{sf_dir}/{name}.parquet"
    fp = _local_fingerprint(path)
    if fp is None:
        df = spark.read.parquet(path)
    else:
        key = (sf_dir, name, fp)
        schema = _SCHEMA_CACHE.get(key)
        if schema is None:
            schema = spark.read.parquet(path).schema
            if len(_SCHEMA_CACHE) > 4096:  # rewritten paths retire old keys
                _SCHEMA_CACHE.clear()
            _SCHEMA_CACHE[key] = schema
        df = spark.read.schema(schema).parquet(path)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table_compute(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan for CPU-bound kernels (minhash signatures, pairwise Jaccard,
    edit distance, vector math): when the file yields fewer splits than
    cores — a small table stored as one row group — a round-robin
    ``repartition`` fans the rows across the cluster so the per-row
    kernel, not the scan, sets the parallelism.

    At scale this is a no-op by construction: a 100 TB table scans as
    thousands of splits, trips the ``>= parallelism`` check, and never
    pays the shuffle.  Only a scan too small to split (where the shuffle
    is trivially cheap, but the serial CPU cost is not) gets widened —
    measured 4-7× on the sf0.1 dedup family on local[32].
    """
    df = load_table(spark, sf_dir, name)
    target = spark.sparkContext.defaultParallelism
    if _scan_splits(spark, sf_dir, name, df) < target:
        return df.repartition(target)
    return df


# (sf_dir, table, file-fingerprint, parallelism, maxPartitionBytes) →
# scan split count.  ``df.rdd.getNumPartitions()`` converts the plan to
# an RDD (~50 ms of driver time) and its answer is a pure property of
# the files and the two confs in the key, so it is probed once per
# table per session instead of once per query — the same staleness
# discipline as ``_SCHEMA_CACHE`` (fingerprint in the key; remote
# schemes skip the cache).
_SPLIT_CACHE: dict = {}


def _scan_splits(spark: SparkSession, sf_dir: str, name: str, df: DataFrame) -> int:
    fp = _local_fingerprint(f"{sf_dir}/{name}.parquet")
    if fp is None:
        return df.rdd.getNumPartitions()
    confs = []
    # every conf that feeds FilePartition packing (ADVICE r14: a
    # mid-session change to any of them could otherwise return a stale
    # split count — perf-only, but cheap to key correctly)
    for ck in (
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.files.openCostInBytes",
        "spark.sql.files.minPartitionNum",
        "spark.sql.leafNodeDefaultParallelism",
    ):
        try:
            # no fallback arg: Spark VALIDATES a fallback string against
            # the conf's type, so get(key, "") raises on byte-typed confs
            confs.append(spark.conf.get(ck))
        except Exception:
            confs.append("")
    key = (
        sf_dir,
        name,
        fp,
        spark.sparkContext.defaultParallelism,
        tuple(confs),
    )
    n = _SPLIT_CACHE.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        if len(_SPLIT_CACHE) > 4096:
            _SPLIT_CACHE.clear()
        _SPLIT_CACHE[key] = n
    return n


def scoped_view(spark: SparkSession, sf_dir: str, table: str, tag: str) -> str:
    """Register a fixture table as a temp view NAMED PER FIXTURE DIR.

    A fixed view name is session-global mutable state: two concurrent
    callers with different fixture dirs would silently read each
    other's data through the shared catalog (tests/test_concurrency.py
    guards the pattern).  The md5-suffixed name is deterministic per
    (tag, sf_dir), so repeat invocations reuse the registration and
    distinct dirs never collide."""
    import hashlib

    name = f"{tag}_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}"
    load_table(spark, sf_dir, table).createOrReplaceTempView(name)
    return name
