"""The one place the benchmark names the lake's API.

Workloads call these functions only, so when the lake's write and read
variants are folded into fewer entry points, this file changes and the
workloads do not.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dbimport_spark import txnlog
from dbimport_spark.sources.lakecdc import register_lake_cdc

ORDER_KEY = "o_orderkey"


def create(spark, path: str, seed_df) -> int:
    """New table with change data enabled, seeded with ``seed_df``."""
    txnlog.txn_set_property(path, "cdf.enabled", "true")
    return txnlog.txn_append(spark, seed_df, path)


def upsert(spark, path: str, df) -> int:
    return txnlog.txn_upsert(spark, df, path, [ORDER_KEY])


def append(spark, path: str, df) -> int:
    return txnlog.txn_append(spark, df, path)


def delete_keys(spark, path: str, keys: list[int]) -> int:
    return txnlog.txn_delete_dv(spark, F.col(ORDER_KEY).isin(keys), path)


def snapshot(spark, path: str, version: int | None = None):
    return txnlog.read_snapshot(spark, path, version)


def version(path: str) -> int:
    return txnlog.current_version(path)


def change_feed(spark, path: str):
    """Row-level change stream of the table (``_change_type`` is
    ``insert`` or ``delete``; an update is a delete+insert pair)."""
    register_lake_cdc(spark)
    return (
        spark.readStream.format("lake_cdc")
        .option("path", path)
        .option("readChangeFeed", "true")
        .load()
    )
