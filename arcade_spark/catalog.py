"""Catalog abstraction over the encoded-table layout (SURVEY.md §7).

The engine's on-disk layout (blocks/ + manifest/ per out_dir) is an
Iceberg-*style* table: immutable data files + an atomic metadata commit
per partition. This module gives it a table-like API and — when a real
Iceberg runtime is on the classpath — registers the same data through
the Iceberg catalog instead, so engine logic never changes between the
sandbox (plain parquet dirs) and a production cluster
(``iceberg-spark-runtime`` + a hadoop/hive/REST catalog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def has_iceberg(spark: SparkSession) -> bool:
    """True iff an Iceberg SparkCatalog is usable in this session."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def iceberg_ddl(full_name: str, schema, partition_col: str) -> str:
    """Iceberg CREATE TABLE for a Spark schema, partitioned for
    partition-pruned reads on the encode partition id."""
    cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)
    return (
        f"CREATE TABLE IF NOT EXISTS {full_name} ({cols}) USING iceberg "
        f"PARTITIONED BY ({partition_col})"
    )


class EncodedTable:
    """Handle to one encoded table (an encode out_dir)."""

    def __init__(self, spark: SparkSession, out_dir: str):
        self.spark = spark
        self.out_dir = out_dir

    # -- metadata ----------------------------------------------------
    @property
    def columns(self) -> list[tuple[str, str]]:
        from arcade_spark.partread import Manifest

        return list(Manifest.read(self.out_dir).cols)

    def manifest(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.out_dir}/manifest")

    def blocks(self, columns: list[str] | None = None) -> DataFrame:
        from pyspark.sql import functions as F

        df = self.spark.read.parquet(f"{self.out_dir}/blocks")
        if columns is not None:
            df = df.filter(F.col("column").isin(columns))
        return df

    def stats(self) -> dict:
        from pyspark.sql import functions as F

        row = self.manifest().agg(
            F.sum("n_rows").alias("rows"),
            F.sum("raw_bytes").alias("raw"),
            F.sum("encoded_bytes").alias("enc"),
            F.count("*").alias("parts"),
        ).collect()[0]
        return {
            "rows": row["rows"],
            "raw_bytes": row["raw"],
            "encoded_bytes": row["enc"],
            "ratio": row["enc"] / row["raw"] if row["raw"] else None,
            "partitions": row["parts"],
        }

    # -- reads -------------------------------------------------------
    def scan(self, columns: list[str] | None = None) -> DataFrame:
        from arcade_spark.decode import scan

        return scan(self.spark, self.out_dir, columns)

    def equi_filter(self, column: str, value, project=None, count_only=False) -> DataFrame:
        from arcade_spark.readops import equi_filter

        return equi_filter(self.spark, self.out_dir, column, value, project, count_only)

    def random_access(self, row_ids: list[int], project=None) -> DataFrame:
        from arcade_spark.readops import random_access

        return random_access(self.spark, self.out_dir, row_ids, project)

    # -- SQL surface ---------------------------------------------------
    def register(self, name: str) -> None:
        """Expose `<name>_blocks`, `<name>_manifest`, and the decoded
        `<name>` as temp views so the metadata is SQL-queryable (the
        reference's headers are opaque bytes; ours are rows)."""
        self.blocks().createOrReplaceTempView(f"{name}_blocks")
        self.manifest().createOrReplaceTempView(f"{name}_manifest")
        self.scan().createOrReplaceTempView(name)

    def register_iceberg(
        self, name: str, catalog: str = "spark_catalog", dry_run: bool = False
    ) -> list[str]:
        """Register the encoded blocks + manifest as real Iceberg
        tables: ``CREATE TABLE ... USING iceberg PARTITIONED BY
        (part_id)`` then ``writeTo(...).append()``. Returns the DDL
        statements issued. Requires ``iceberg-spark-runtime`` on the
        classpath (has_iceberg); raises RuntimeError with launch
        guidance otherwise. ``dry_run`` builds and returns the DDL
        without touching the session — the sandbox has no Iceberg jars,
        so tests pin the API surface through it."""
        if not dry_run and not has_iceberg(self.spark):
            raise RuntimeError(
                "Iceberg runtime not on the classpath: launch with "
                "--packages org.apache.iceberg:iceberg-spark-runtime-"
                "<spark_ver>_<scala_ver>:<iceberg_ver> and a "
                "spark.sql.catalog.<name> configuration, then call "
                "register_iceberg() again (register() gives temp views "
                "without Iceberg)"
            )
        ddls = []
        for suffix, df in (("blocks", self.blocks()), ("manifest", self.manifest())):
            full = f"{catalog}.{name}_{suffix}"
            ddl = iceberg_ddl(full, df.schema, "part_id")
            ddls.append(ddl)
            if not dry_run:
                self.spark.sql(ddl)
                df.writeTo(full).append()
        return ddls


def load(spark: SparkSession, out_dir: str) -> EncodedTable:
    return EncodedTable(spark, out_dir)
