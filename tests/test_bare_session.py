"""The engine must work on a caller-provided SparkSession without our
factory's config — a caller may construct its own session (``bare_spark``
in conftest)."""

from __future__ import annotations

from etl_pipeline_telecom_spark.sources import load_table
from etl_pipeline_telecom_spark.streaming import read_events_stream
from etl_pipeline_telecom_spark.streaming.jobs import run_available_now


def test_events_load_on_bare_session(bare_spark, sf_dir):
    ev = load_table(bare_spark, sf_dir, "events")
    assert ev.schema["ts"].dataType.simpleString() == "timestamp"
    assert ev.count() > 0


def test_events_stream_on_bare_session(bare_spark, sf_dir):
    stream = read_events_stream(bare_spark, sf_dir, glob="events.parquet")
    out, _ = run_available_now(
        stream.groupBy("event_type").count(), output_mode="complete"
    )
    assert out.count() == 5
