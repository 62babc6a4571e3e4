"""Parquet table loaders for the driver-generated synthetic tables.

All scans go through ``spark.read.parquet`` so Catalyst applies column
pruning + predicate pushdown; callers should ``select``/``filter`` as
early as possible and let the optimizer push into the scan. At cluster
scale these would be partitioned/bucketed external tables; locally they
are single parquet files.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from codegraph_spark.serving import file_stamp, shared_obj

TABLE_NAMES = [
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


def _read(spark: SparkSession, path: str, name: str) -> DataFrame:
    if name != "events":
        return spark.read.parquet(path)
    # events.ts is parquet TIMESTAMP(NANOS) — Spark has no nanosecond
    # timestamp type, so read the raw int64 and truncate to micros
    # (integer division: a double cast would lose precision at 1e18).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy plan over ``<sf_dir>/<name>.parquet``, memoized in the
    serving store as a catalog stand-in: ``spark.read.parquet``
    re-reads the footer and re-infers the schema on every call,
    where a registered external table resolves it from the metastore.
    Only the unresolved plan is kept — every action still scans
    parquet — and the file's ``(mtime_ns, size)`` stamp rebuilds it
    after an in-session rewrite. Non-local paths are never memoized."""
    if name not in TABLE_NAMES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    stamp = file_stamp(path)
    if stamp is None:
        return _read(spark, path, name)
    return shared_obj(
        spark, (sf_dir, "plan", name), lambda: _read(spark, path, name), stamp=stamp
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition ``df`` across the session's parallelism ONLY
    when the scan arrives under-partitioned (r12, guide §2.5 input
    skew): the driver's single-file/single-row-group corpus cannot be
    split at the scan, so a per-row-heavy projection downstream would
    run on one core of N. On a real multi-file layout the partition
    count already meets the parallelism and this is literally a no-op —
    no extra exchange is paid at 100 TB (an unconditional repartition
    would re-shuffle the whole corpus there). The partition probe reads
    the physical scan layout, no job runs."""
    return _spread(df, keys, df.sparkSession.sparkContext.defaultParallelism)


@functools.lru_cache(maxsize=128)
def _spread(df: DataFrame, keys: tuple[str, ...], par: int) -> DataFrame:
    """The partition probe costs a physical planning pass;
    inputs are load_table's memoized plans, so one probe per (table,
    keys) per session suffices. DataFrames hash by identity, so the
    key pins its frame and an id can never be recycled."""
    return df if df.rdd.getNumPartitions() >= par else df.repartition(par, *keys)
