"""Catalog abstraction: Iceberg tables when the runtime has the Iceberg
Spark extension, plain parquet paths otherwise (SURVEY.md §7 risk item —
the sandbox ships no Iceberg jars, so pytest never depends on them).

The production deployment registers the docs / spans_out / lineage tables
in an Iceberg catalog with:

    docs       PARTITIONED BY (bucket(1024, doc_id))   -- the write-time
               doc_id striping that makes extraction shuffle-free
    spans_out  PARTITIONED BY (part_id)                -- idempotent
               partition-overwrite checkpointing
    lineage    PARTITIONED BY (part_id)                -- typed
               schema.LINEAGE rows; a part_id with a row is done

`Catalog` keeps that shape behind read_table/write_table so the engine
code is identical in both modes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg catalog is configured on this session."""
    try:
        exts = spark.conf.get("spark.sql.extensions", "") or ""
        return "IcebergSparkSessionExtensions" in exts
    except Exception:
        return False


class Catalog:
    """Uniform table IO: `name` maps to `<catalog>.<db>.<name>` under
    Iceberg or `<root>/<name>` parquet directories otherwise."""

    def __init__(self, spark: SparkSession, root: str, database: str = "local.db"):
        self.spark = spark
        self.root = root
        self.database = database
        self.use_iceberg = iceberg_available(spark)

    def _ident(self, name: str) -> str:
        return f"{self.database}.{name}"

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def read_table(self, name: str) -> DataFrame:
        if self.use_iceberg:
            return self.spark.read.table(self._ident(name))
        return self.spark.read.parquet(self._path(name))

    def write_table(
        self, df: DataFrame, name: str, partition_by: str | None = None,
        overwrite_partitions: bool = False,
    ) -> None:
        if self.use_iceberg:
            writer = df.writeTo(self._ident(name))
            if overwrite_partitions:
                writer.overwritePartitions()
            else:
                writer.createOrReplace()
            return
        w = df.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic" if overwrite_partitions else "static"
        )
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(self._path(name))

    def write_bucketed(
        self, df: DataFrame, name: str, key: str = "doc_id", n_buckets: int = 8
    ) -> None:
        """Write `df` bucketed by `key` — the layout that makes every
        later equi-join/aggregation on `key` SHUFFLE-FREE: two tables
        bucketed the same way sort-merge-join by reading matching
        buckets co-located, no Exchange on either side (verified at the
        physical-plan level by test_bucketed_join_no_shuffle). At 10^12
        docs this is the difference between a join that moves 100 TB
        over the network and one that moves nothing.

        Iceberg mode: `PARTITIONED BY (bucket(n, key))` via writeTo —
        Iceberg's storage-partitioned joins give the same elision.
        Parquet mode: bucketBy + sortBy into the session warehouse
        (bucket metadata lives in the catalog, so this is saveAsTable,
        not a bare path write); one repartition by `key` first keeps one
        file per bucket so the sort order is also reusable."""
        if self.use_iceberg:
            from pyspark.sql.functions import bucket, col

            (
                df.writeTo(self._ident(name))
                .partitionedBy(bucket(n_buckets, col(key)))
                .createOrReplace()
            )
            return
        (
            df.repartition(n_buckets, key)
            .write.mode("overwrite")
            .bucketBy(n_buckets, key)
            .sortBy(key)
            .option("path", self._path(name))
            .saveAsTable(name)
        )

    def read_bucketed(self, name: str) -> DataFrame:
        """Bucketed tables resolve through the session catalog (the
        bucket spec is table metadata, invisible to a bare path read)."""
        if self.use_iceberg:
            return self.spark.read.table(self._ident(name))
        return self.spark.read.table(name)

    def table_exists(self, name: str) -> bool:
        if self.use_iceberg:
            return self.spark.catalog.tableExists(self._ident(name))
        try:
            self.spark.read.parquet(self._path(name)).schema
            return True
        except Exception:
            return False
