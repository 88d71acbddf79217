"""Parquet table catalog over a scale-factor directory.

The driver fixtures (TESTDATA.md) are one parquet file per table. At
100 TB each table would be a partitioned parquet/Delta dataset; the
loader below stays identical because `spark.read.parquet` takes a
directory and Catalyst does partition pruning + filter pushdown — only
the path changes.
"""

from __future__ import annotations

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

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        # events.ts has shipped as both TIMESTAMP(NANOS) and timestamp[us]
        # across fixture generations. nanosAsLong (harmless for non-NANOS
        # columns, must be set before the read) makes a NANOS column load as
        # bigint; branch on the loaded dtype instead of assuming an encoding.
        # Either way the result is session-tz TIMESTAMP at microsecond
        # precision — matching DuckDB's TIMESTAMP read of the same file
        # (session tz is UTC, so NTZ->LTZ is value-identical).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F

        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            # integer `div` (not `/`): ns exceed double's 53-bit mantissa
            return df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        if ts_type != "timestamp":
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the Spark SQL surface)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
