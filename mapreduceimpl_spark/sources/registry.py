"""Table registry for the fixture star schema + LLM-pipeline tables.

The reference's "source registration" is a deduplicated file-name list
handed to the master (``mp/master.go:205-226``); its only scan is a
line-oriented text scan (``test.go:16-25``).  Here sources are columnar
parquet scans with real schemas — predicate pushdown and column pruning
reach the reader for free — and the registry doubles as the SQL catalog
(``register_views`` creates temp views so ``spark.sql`` works on every
table).

Scale posture: at 100 TB these would be partitioned/bucketed external
tables; the registry keeps path handling in one place so swapping
``/root/testdata/sf0.1`` for ``s3://.../warehouse`` is a one-line change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Every table the driver pre-registers for the DuckDB oracle.
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

# Small dimension tables a planner should broadcast in star joins.
DIM_TABLES = ("region", "nation", "customer", "supplier", "part")

# (applicationId, sf_dir, table) -> DataFrame.  DataFrames are immutable
# lazy plans, so reuse is safe; keying by applicationId drops entries of
# stopped sessions.  Saves re-reading parquet footers when a harness
# runs dozens of catalog queries against the same tables.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one fixture table (reference parity: S1/S7).

    ``events.ts`` has shipped as parquet TIMESTAMP(NANOS) (rounds 1-3)
    and as TIMESTAMP(MICROS, isAdjustedToUTC=false) (round 4+); both
    are normalized here to the session-zone TimestampType the rest of
    the engine assumes: NANOS arrives as BIGINT nanos (via
    ``spark.sql.legacy.parquet.nanosAsLong``) and is truncated to
    micros; MICROS arrives as TIMESTAMP_NTZ and is reinterpreted in
    the UTC session zone — bit-identical to what DuckDB reads from the
    same file either way.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    if name == "events":
        # dynamic session conf — set defensively so the loader also
        # works under a SparkSession not built by get_spark()
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("CAST(ts DIV 1000 AS BIGINT)"))
            )
        elif ts_type == "timestamp_ntz":
            # same wall-clock instant: session zone is pinned to UTC
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    _TABLE_CACHE[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for ``spark.sql``."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    header: bool = True,
    sep: str = ",",
) -> DataFrame:
    """CSV source (SURVEY §2.1 S7).  Always pass an explicit schema in
    production — inference reads the data twice and guesses types."""
    reader = spark.read.option("header", header).option("sep", sep)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """JSON-lines source (SURVEY §2.1 S7); explicit schema preferred."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_text_lines(spark: SparkSession, *paths: str) -> DataFrame:
    """Line-oriented text scan — the reference's native source.

    ``spark.read.text`` yields ``DataFrame[value: string]``, one row per
    line, matching the reference's ``bufio.Scanner`` loop
    (``test.go:16-25``) with multi-path registration
    (``mp/master.go:205-226``) built in.
    """
    return spark.read.text(list(paths))
