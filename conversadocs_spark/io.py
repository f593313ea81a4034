"""Table catalog for the driver-generated parquet fixtures.

Tables (TESTDATA.md / FIXTURES.md): region nation customer supplier part
orders lineitem events documents embeddings — one parquet file each under
/root/testdata/sf{0.001,0.01,0.1}/.

All reads go through ``table()`` so filters/projections written against
the returned DataFrame are pushed into the parquet scan by Catalyst
(check: .explain shows PushedFilters / ReadSchema).
"""

from __future__ import annotations

import os

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

#: dimension tables small enough to broadcast at any scale factor
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. Lazy: no job runs until an action.

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark 4 rejects
    outright (PARQUET_TYPE_ILLEGAL). We read it as a long (legacy conf,
    runtime-settable) and truncate ns -> us, matching DuckDB's own
    ns -> us truncation so oracle comparisons agree.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return df
    return spark.read.parquet(path)

