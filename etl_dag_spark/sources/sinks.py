"""Batch sinks.

Mirrors the reference's truncate-and-load into Snowflake
(ETL_DAG.py:210-229: ``TRUNCATE TABLE`` + ``write_pandas``) with
idempotent overwrite semantics. ``mode("overwrite")`` on a parquet
directory IS truncate-and-load; with ``partition_by`` plus dynamic
partition overwrite, a rerun replaces only the partitions it produced —
the idempotency pattern that matters when a daily DAG backfills one day
of a 100 TB table instead of rewriting all of it.

:func:`overwrite_parquet_split` loads the two sides of a boolean split
(valid rows and rejects) from ONE pass over the input: a partitioned
write to a staging directory, then a FileSystem rename publishes the
accepted side, and the caller writes the rejected side from its small
staged copy instead of reading the input a second time.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame


def overwrite_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
) -> None:
    """Truncate-and-load a parquet dataset.

    ``partition_by``: directory partitioning → partition pruning for
    readers filtering on those columns. Bucketed writes need a metastore
    table: see :func:`overwrite_bucketed_table`.
    """
    writer = df.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


@contextmanager
def overwrite_parquet_split(
    df: DataFrame, flag: str, staging: str, accepted: str
) -> Iterator[DataFrame]:
    """Truncate-and-load the rows of ``df`` where the boolean column
    ``flag`` is true into ``accepted``, and yield the other rows for the
    caller to write; neither side keeps ``flag``. ``df`` is read once.

    Protocol (Hadoop ``FileSystem`` calls, so any URI scheme works;
    ``staging`` must be on ``accepted``'s file system, since a rename
    publishes):

    1. one write of ``df`` partitioned by ``flag`` into ``staging``, with
       a STATIC overwrite, so a staging directory left by a crashed run
       (a stale ``flag=false`` partition included) is replaced whole;
    2. ``staging/flag=true`` replaces ``accepted`` by a rename, plus a
       ``_SUCCESS`` marker; without accepted rows, ``accepted`` gets an
       empty dataset with the schema;
    3. the yielded frame reads ``staging/flag=false`` with the staged
       schema (no inference job), or is empty when no row was rejected;
    4. ``staging`` is deleted once the caller's block exits.

    Empty sides are ``limit(0)`` frames: the optimizer turns them into
    empty local relations, so writing one reads no input.
    """
    spark = df.sparkSession
    Path = spark._jvm.org.apache.hadoop.fs.Path
    stage = Path(staging)
    fs = stage.getFileSystem(spark._jsc.hadoopConfiguration())
    try:
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "static")
            .partitionBy(flag)
            .parquet(staging)
        )
        empty = df.drop(flag).limit(0)
        side = Path(stage, f"{flag}=true")
        if fs.exists(side):
            target = Path(accepted)
            fs.delete(target, True)
            fs.mkdirs(target.getParent())
            if not fs.rename(side, target):
                raise OSError(f"could not publish {staging} as {accepted}")
            fs.create(Path(target, "_SUCCESS"), True).close()
        else:
            overwrite_parquet(empty, accepted)
        side = Path(stage, f"{flag}=false")
        if fs.exists(side):
            yield spark.read.schema(empty.schema).parquet(side.toString())
        else:
            yield empty
    finally:
        fs.delete(stage, True)


def overwrite_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    truncate: bool = True,
    batchsize: int = 10_000,
    num_partitions: int | None = None,
    options: dict[str, str] | None = None,
) -> None:
    """Truncate-and-load into an external warehouse over JDBC — the
    generic form of the reference's terminal step (ETL_DAG.py:206-229:
    ``TRUNCATE TABLE`` per target followed by ``write_pandas``).

    ``mode("overwrite")`` + ``truncate=true`` makes the JDBC source issue
    ``TRUNCATE TABLE`` instead of ``DROP``/``CREATE`` — the table's DDL,
    grants, and indexes survive, exactly like the reference's explicit
    TRUNCATE. Each Spark partition then streams batched INSERTs over its
    own connection, so the load parallelism is ``num_partitions`` (the
    distributed equivalent of the reference's single ``write_pandas``
    call — and the reason to cap it: a 1000-partition DataFrame would
    open 1000 warehouse connections; ``num_partitions`` coalesces the
    write to a connection budget the warehouse can take).

    ``options`` passes through driver-specific settings (``driver``,
    ``user``, ``password``, ``isolationLevel``, ...). Credentials should
    come from the environment via :func:`etl_dag_spark.plans.etl_pipeline
    .require_config`, mirroring ETL_DAG.py:44-58.
    """
    writer = (
        df.write.format("jdbc")
        .mode("overwrite")
        .option("url", url)
        .option("dbtable", table)
        .option("truncate", "true" if truncate else "false")
        .option("batchsize", str(batchsize))
    )
    if num_partitions is not None:
        writer = writer.option("numPartitions", str(num_partitions))
    for key, value in (options or {}).items():
        writer = writer.option(key, value)
    writer.save()


def overwrite_bucketed_table(
    df: DataFrame, table: str, n_buckets: int, bucket_col: str, sort_col: str | None = None
) -> None:
    """Bucketed saveAsTable: pre-shuffles once at write time so every
    subsequent join/aggregation on ``bucket_col`` is shuffle-free."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.format("parquet").saveAsTable(table)
