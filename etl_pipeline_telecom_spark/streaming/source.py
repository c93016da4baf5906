"""Streaming file source for the ``events`` fixture.

A file-based stream is the idiomatic replay/backfill source in Spark:
point ``readStream`` at a directory and every new file becomes a
micro-batch (bounded by ``maxFilesPerTrigger``). At 100 TB this is the
same pattern used against a landing bucket — the source lists new files,
so per-batch work scales with arriving data, not the table's history.

``events.ts`` has shipped in two physical forms across fixture
generations (see ``sources.readers.load_table``): TIMESTAMP(NANOS)
(epoch-nanos long under ``spark.sql.legacy.parquet.nanosAsLong``) and
TIMESTAMP(MICROS, isAdjustedToUTC=false) (TIMESTAMP_NTZ). A streaming
reader must declare its schema up front, so we sniff the dtype with a
driver-side batch schema probe of the same directory (footer-only, no
scan; resolved once per fingerprint of the files the glob matches, see
``sources.readers.parquet_schema``) and pick the matching schema +
conversion. Either way the stream carries a session-TZ (UTC) TIMESTAMP
with the file's wall clock.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

from ..sources.readers import parquet_schema


def _resolve_table_layout(directory: str, glob: str) -> tuple[str, str]:
    """Support BOTH physical layouts of a parquet table.

    The driver fixtures ship ``events.parquet`` as a single FILE (glob
    matches it directly), but any Spark-written table — including the
    scale-probe's synthesized fixtures and every production layout — is
    a DIRECTORY of part files with that name. ``pathGlobFilter`` matches
    file names only, so a literal glob naming a directory matched
    nothing and the stream read died with UNABLE_TO_INFER_SCHEMA
    (caught by the first sf1 bench run). A directory named exactly like
    the literal glob becomes the read root with a part-file glob."""
    if "*" not in glob and os.path.isdir(os.path.join(directory, glob)):
        return os.path.join(directory, glob), "*.parquet"
    return directory, glob


def _events_ts_kind(spark: SparkSession, directory: str, glob: str) -> str:
    """'nanos_long' | 'ntz' | 'ltz' — from a footer-only batch schema probe."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    t = parquet_schema(spark, directory, glob)["ts"].dataType
    if isinstance(t, LongType):
        return "nanos_long"
    if isinstance(t, TimestampNTZType):
        return "ntz"
    return "ltz"


def read_events_stream(
    spark: SparkSession,
    directory: str,
    *,
    glob: str = "*.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream the events table from a directory of parquet files.

    ``max_files_per_trigger=1`` replays one file per micro-batch — the
    test harness uses that to exercise watermark advancement across
    batches exactly as a production stream would see it.
    """
    directory, glob = _resolve_table_layout(directory, glob)
    kind = _events_ts_kind(spark, directory, glob)
    ts_type = {"nanos_long": "long", "ntz": "timestamp_ntz", "ltz": "timestamp"}[kind]
    schema = f"event_id long, ts {ts_type}, user_id long, event_type string, value double, props string"
    reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    df = reader.parquet(directory)
    if kind == "nanos_long":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif kind == "ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
