"""Loader for the harness test tables (TPC-H-ish star schema + events +
documents + embeddings), one parquet file per table.

Mirrors the reference's source-acquisition step (ETL_DAG.py:33-42
``get_csv_paths`` + ETL_DAG.py:162-164 reads) but as lazy Spark scans:
nothing is materialized, so Catalyst prunes columns and pushes filters
into the parquet reader for whatever query consumes the table.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Schema cache for the static harness tables (r15, VERDICT r14 #1):
# every bare ``spark.read.parquet`` launches a schema-INFERENCE job
# (footer read through the scheduler) costing ~0.2 s per call on
# local[32] — the single largest per-query fixed cost of the bench's
# sub-2 s tail (~300 load calls per pass). Remembering the inferred
# StructType per (path, stat, nanos-flag) and passing it back via
# ``spark.read.schema(...)`` makes every later read of the same
# unchanged path job-free (~0.04 s). This is METADATA, not data: no
# rows, results, or intermediates are reused; the schema is re-derived
# per process and invalidated by the file's mtime/size (every part
# file's, for a directory dataset), and the nanosAsLong flag is part of
# the key because it changes what Spark infers for TIMESTAMP(NANOS)
# columns.
_SCHEMA_CACHE: dict[tuple, object] = {}


def _stat_key(path: str):
    """(mtime, size) of ``path``; for a directory dataset also every
    file under it, because a part file rewritten in place changes
    neither the directory's mtime nor its size."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    key = (st.st_mtime_ns, st.st_size)
    if not stat.S_ISDIR(st.st_mode):
        return key
    files = []
    for root, _dirs, names in os.walk(path):
        for name in names:
            full = os.path.join(root, name)
            try:
                fst = os.stat(full)
            except OSError:  # removed while listing: the key differs anyway
                continue
            files.append((os.path.relpath(full, path), fst.st_size, fst.st_mtime_ns))
    return (key, tuple(sorted(files)))


def read_parquet_cached_schema(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` with the inference job amortized: first
    read of a path infers (and remembers) the schema; subsequent reads
    of the unchanged path skip the inference job entirely."""
    key = (
        os.path.abspath(path),
        _stat_key(path),
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"),
    )
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    return read_parquet_cached_schema(spark, os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every test table as a lazy DataFrame keyed by name."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def event_ts_encoding(path: str) -> str:
    """Sniff how ``ts`` is physically encoded in an event parquet file
    (or directory of part files) from the parquet footer alone — one
    metadata read, no Spark session state touched.

    Returns ``'ns'`` (TIMESTAMP(NANOS) — Spark needs the legacy
    int64 read), ``'us'``/``'ms'``/``'s'`` (standard parquet timestamp
    Spark reads natively), or ``'i64'`` (plain int64, interpreted as raw
    epoch nanoseconds — constructed test fixtures and legacy copies).
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = path
    if os.path.isdir(p):
        parts = sorted(
            f
            for f in os.listdir(p)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        if not parts:
            raise FileNotFoundError(f"no parquet part files under {p}")
        p = os.path.join(p, parts[0])
    t = pq.read_schema(p).field("ts").type
    if pa.types.is_timestamp(t):
        return t.unit
    if pa.types.is_int64(t):
        return "i64"
    raise TypeError(f"unsupported events.ts physical type {t} in {p}")


_EPOCH_NTZ = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def with_event_time(df: DataFrame) -> DataFrame:
    """Append the engine's two canonical event-time columns, derived
    from whatever type ``ts`` resolved to, never from the session
    timezone:

    - ``ts_ns``   — bigint epoch nanoseconds (exact integer arithmetic:
      gaps, buckets; integer math is engine-portable and
      order-independent)
    - ``ts_utc``  — TIMESTAMP_NTZ wall-clock at microsecond precision.

    Handles ``bigint`` (raw nanos), ``timestamp_ntz`` (wall-clock µs,
    the common parquet encoding), and ``timestamp`` (session-tz-tagged;
    ``unix_micros`` extracts the tz-independent instant).
    """
    from pyspark.sql import functions as F

    t = dict(df.dtypes)["ts"]
    if t == "bigint":
        return df.withColumn("ts_ns", F.col("ts")).withColumn(
            "ts_utc",
            F.expr(f"timestampadd(MICROSECOND, ts DIV 1000, {_EPOCH_NTZ})"),
        )
    if t == "timestamp_ntz":
        return df.withColumn(
            "ts_ns",
            F.expr(f"timestampdiff(MICROSECOND, {_EPOCH_NTZ}, ts) * CAST(1000 AS BIGINT)"),
        ).withColumn("ts_utc", F.col("ts"))
    if t == "timestamp":
        return df.withColumn(
            "ts_ns", F.expr("unix_micros(ts) * CAST(1000 AS BIGINT)")
        ).withColumn(
            "ts_utc",
            F.expr(f"timestampadd(MICROSECOND, unix_micros(ts), {_EPOCH_NTZ})"),
        )
    raise TypeError(f"events.ts resolved to unsupported Spark type {t!r}")


def _enable_legacy_nanos(spark: SparkSession) -> None:
    """Spark has no native TIMESTAMP(NANOS) reader; the legacy flag
    makes it read the column as raw int64 nanos. Only called once a
    footer sniff has proven the file really is nanos-encoded, so µs/ms
    data never triggers a session-conf mutation."""
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def read_events_batch(spark: SparkSession, path: str) -> DataFrame:
    """Batch-read any events parquet file/directory, normalizing event
    time via :func:`with_event_time` regardless of the physical ``ts``
    encoding (nanos, µs, ms, or raw int64)."""
    if event_ts_encoding(path) == "ns":
        _enable_legacy_nanos(spark)
    return with_event_time(read_parquet_cached_schema(spark, path))


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with usable timestamps (``ts_ns`` + ``ts_utc``), adaptive
    to the physical parquet encoding the harness happens to write
    (TIMESTAMP(NANOS) in early rounds, timestamp[us] since round 4)."""
    return read_events_batch(spark, os.path.join(sf_dir, "events.parquet"))
