"""Table-format abstraction: Iceberg when the runtime is present, plain
parquet + JSON manifest otherwise (SURVEY.md §7.4 decision 1).

The north rule stores clips in Iceberg tables; this sandbox has no
iceberg-spark-runtime jar and no network to fetch one (SURVEY.md §0), so
the tested backend is parquet+manifest (StageCheckpoint provides the
snapshot/lineage/resume semantics). On a real cluster, constructing the
session with iceberg_session_builder() flips every table read in the
engine to Iceberg with no other code change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the classpath."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def iceberg_session_builder(builder, warehouse: str,
                            catalog: str = "cds"):
    """Add Iceberg catalog configs to a SparkSession builder (no-op use in
    this sandbox; the production entry point for the north rule's
    `spark-submit --py-files` launch)."""
    return (builder
            .config("spark.sql.extensions",
                    "org.apache.iceberg.spark.extensions"
                    ".IcebergSparkSessionExtensions")
            .config(f"spark.sql.catalog.{catalog}",
                    "org.apache.iceberg.spark.SparkCatalog")
            .config(f"spark.sql.catalog.{catalog}.type", "hadoop")
            .config(f"spark.sql.catalog.{catalog}.warehouse", warehouse))


def read_table(spark: SparkSession, location: str) -> DataFrame:
    """Read a clips/feature table: `catalog.db.table` (Iceberg) or a
    filesystem path (parquet)."""
    if "/" not in location and "." in location and \
            iceberg_available(spark):
        return spark.read.format("iceberg").load(location)
    return spark.read.parquet(location)

