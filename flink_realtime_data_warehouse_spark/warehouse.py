"""Warehouse facade: one object tying the layers together.

A user of the reference runs Flink jobs that feed Phoenix + Kafka and
then queries those stores. Here the same lifecycle is: run the
streaming jobs into a lake directory, then ``register()`` every
DWD/DIM table as a SQL view and query with ``spark.sql`` — the
DWS/ADS layer is plain Spark SQL over those views (SURVEY.md §2.5).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from flink_realtime_data_warehouse_spark.streaming.sinks import DimStore
from flink_realtime_data_warehouse_spark.streaming.table_format import FORMAT


class Warehouse:
    """Lake-directory-backed warehouse: DWD tables + DIM store + SQL views."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.dwd_root = os.path.join(root, "dwd")
        self.dim_store = DimStore(spark, os.path.join(root, "dim"))
        os.makedirs(self.dwd_root, exist_ok=True)

    def dwd_tables(self) -> list[str]:
        return sorted(
            d
            for d in (os.listdir(self.dwd_root) if os.path.isdir(self.dwd_root) else [])
            if os.path.isdir(os.path.join(self.dwd_root, d))
        )

    def read_dwd(self, name: str) -> DataFrame:
        """A DWD table: a store of the table-format seam (the split
        writes of ``base_log_job``) through ``FORMAT``, anything else
        (the Spark file-sink ``dirty_log``) as plain parquet."""
        path = os.path.join(self.dwd_root, name)
        if FORMAT.exists(path):
            return FORMAT.read(self.spark, path)
        return self.spark.read.parquet(path)

    def register(self) -> list[str]:
        """Register every DWD table and DIM table as a temp view; returns names."""
        names = []
        for t in self.dwd_tables():
            self.read_dwd(t).createOrReplaceTempView(t)
            names.append(t)
        for t in self.dim_store.tables():
            self.dim_store.read(t).createOrReplaceTempView(t)
            names.append(t)
        return names

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)
