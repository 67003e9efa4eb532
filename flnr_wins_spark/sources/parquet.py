"""Parquet sources/sinks — the engine's ingestion and publish layer.

Reference equivalents (SURVEY.md §2a):
  * S5 remote export+download (``src/wins_transform_staging.py:122-134``) —
    here ingestion is simply a parquet read; no export/transfer dance.
  * S7 table copy / CTAS (``:132``) -> ``df.write.parquet``.
  * S8 container copy for publish (``:285``) -> per-table overwrite write.
  * S10 idempotent delete-before-recreate (``:137-140``) -> ``mode="overwrite"``.

Scale notes: reads are lazy and partition-parallel; Catalyst pushes filters
and prunes columns down to the scan. Writes repartition only when asked —
callers control output file counts explicitly (at 100 TB the default
per-shuffle-partition files are usually right; small dimension publishes pass
``coalesce=1``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table. ``<sf_dir>/<name>.parquet`` (TESTDATA.md).

    Parquet TIMESTAMP(NANOS) columns (events.ts) are not natively readable by
    Spark — they come in as nanosecond longs (legacy.parquet.nanosAsLong) and
    are normalized here to TIMESTAMP_NTZ at microsecond precision, matching
    what other engines (DuckDB/Arrow) see after ns->us truncation.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # the ns->NTZ normalization below renders wall-clock via the session
        # timezone; pin it so a caller-built session (e.g. the driver's own,
        # machine-TZ default) converts identically to ours
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # immutable conf in some deployments; session.py sets it at build
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        # floor-div to microseconds, then NTZ via UTC (session tz is UTC).
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    """Load several tables into a dict — the analog of the reference's
    download loop (``src/wins_transform_staging.py:118-135``) consolidating
    feature classes into one working gdb."""
    from flnr_wins_spark.schemas import TEST_TABLES

    return {n: read_table(spark, sf_dir, n) for n in (names or TEST_TABLES)}


def publish(df: DataFrame, path: str, mode: str = "overwrite", coalesce: int | None = None) -> None:
    """Publish a result table (reference: copy upload gdb to staging area,
    ``src/wins_transform_staging.py:280-286``). Overwrite gives the
    delete-and-recreate idempotence of ``:283-285``, but not atomically: the
    old table is deleted before the new one is written, so a write that fails
    partway leaves ``path`` empty or partial (ROADMAP open item 4)."""
    if coalesce:
        df = df.coalesce(coalesce)
    df.write.mode(mode).parquet(path)
