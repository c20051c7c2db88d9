"""Driver test-table loaders (/root/testdata/sf*/... parquet).

The only wrinkle: ``events.parquet``'s ``ts`` physical type has varied
across driver data generations — TIMESTAMP(NANOS) (which Spark 4
rejects by default) in some, TIMESTAMP(MICROS) in others.  The loader
handles both: it reads with ``spark.sql.legacy.parquet.nanosAsLong``
enabled and normalizes whatever comes back (raw nano longs, or a
timestamp/timestamp_ntz) to a proper TimestampType column at
microsecond precision — Spark's native resolution — so every consumer
sees one stable schema.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table; normalizes events.ts to TimestampType."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            df = spark.read.parquet(path)
        finally:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            # TIMESTAMP(NANOS) read as raw longs.  Integer division:
            # epoch-nanos exceed double's 2^53 mantissa, so `/ 1000`
            # through double rounds ±1 µs; `div` stays in long.
            return df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        # MICROS generation: arrives as timestamp/timestamp_ntz; cast
        # to TimestampType (session TZ is pinned UTC, so wall-clock
        # values are unchanged) for one stable schema either way.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.parquet(path)


def local_session(app: str = "dwc-validator-spark", cpus: int | None = None) -> SparkSession:
    """Session for local testing; on a real cluster, callers bring their
    own session and these configs come from spark-submit."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        # pin the session TZ: date rendering/extraction must not depend
        # on the machine zone (oracles compute on naive timestamps)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "4g"))
        # Static conf, so it must be set before the session exists.
        # Generated-class working set per op: ~155 for corpus_crawl
        # (minhash_dedup_keepers + crawl_ingest_check), 37 for
        # dwca_validate, 24 for stream_validate.  At the default of
        # 100 the crawl op evicts every class before it reuses it and
        # recompiles ~152 of them with Janino on every repeat.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .getOrCreate()
    )
