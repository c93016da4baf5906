"""Parquet scan entry point: ``sources.readers.read_parquet`` resolves each
path's schema once per file fingerprint and schema conf set.

Pins that a repeated ``load_table`` starts no Spark job, that a rewritten
file is re-inferred, that each call still returns a fresh relation (self-
joins), that ``events.ts`` lands as a UTC timestamp from either physical
form on a session without the nanos conf, and that the schema confs and a
probe's glob scope the cache key.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etl_pipeline_telecom_spark.sources import load_table, parquet_schema

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs_started(spark, fn) -> int:
    """Spark jobs started while ``fn()`` runs, from the status tracker."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()
    group = "test_readers"
    sc.setJobGroup(group, "count jobs")
    try:
        bus.waitUntilEmpty(10_000)
        before = set(tracker.getJobIdsForGroup(group))
        fn()
        bus.waitUntilEmpty(10_000)
        return len(set(tracker.getJobIdsForGroup(group)) - before)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_second_load_table_starts_no_job(spark, sf_dir, tmp_path):
    shutil.copy(os.path.join(sf_dir, "orders.parquet"), tmp_path / "orders.parquet")
    first = _jobs_started(spark, lambda: load_table(spark, str(tmp_path), "orders"))
    second = _jobs_started(spark, lambda: load_table(spark, str(tmp_path), "orders"))
    assert first >= 1, "the uncached load must run schema inference"
    assert second == 0


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a", "b"]
    pq.write_table(pa.table({"c": [10.5, 20.5], "d": ["p", "q"], "e": [7, 8]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["c", "d", "e"]
    assert sorted(df.collect()) == [(10.5, "p", 7), (20.5, "q", 8)]


def test_self_join_matches_uncached_read(spark, sf_dir):
    def self_join(a, b):
        return a.join(b, a["o_orderkey"] == b["o_orderkey"]).select(
            a["o_orderkey"], a["o_custkey"], b["o_totalprice"]
        )

    cached = self_join(load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "orders"))
    path = os.path.join(sf_dir, "orders.parquet")
    plain = self_join(spark.read.parquet(path), spark.read.parquet(path))
    rows = sorted(cached.collect())
    assert rows == sorted(plain.collect())
    assert len(rows) == spark.read.parquet(path).count()


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_events_ts_is_utc_timestamp_on_bare_session(spark, bare_spark, sf_dir, tmp_path, unit):
    """Both shipped forms of ``events.ts`` (TIMESTAMP(MICROS) naive and
    TIMESTAMP(NANOS)) land as a UTC timestamp with the file's wall clock,
    even after the other session cached the path's schema."""
    t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    t = t.set_column(t.schema.get_field_index("ts"), "ts", t["ts"].cast(pa.timestamp(unit)))
    pq.write_table(t, tmp_path / "events.parquet")
    want = sorted(
        None if v is None else v.strftime("%Y-%m-%d %H:%M:%S.%f").rstrip("0").rstrip(".")
        for v in t["ts"].cast(pa.timestamp("us")).to_pylist()
    )

    load_table(spark, str(tmp_path), "events")  # warm the cache from the full session
    ev = load_table(bare_spark, str(tmp_path), "events")
    assert ev.schema["ts"].dataType.simpleString() == "timestamp"
    got = sorted(r[0] for r in ev.select(F.col("ts").cast("string")).collect())
    assert got == want


def test_schema_conf_is_part_of_the_key(spark, bare_spark, tmp_path):
    """A schema cached under ``nanosAsLong=true`` (ts as long) is not served
    to a session without it: that session re-infers, and Spark rejects the
    NANOS column as it would without the cache."""
    pq.write_table(pa.table({"ts": pa.array([1, 2], pa.timestamp("ns"))}), tmp_path / "n.parquet")
    path = str(tmp_path / "n.parquet")
    assert parquet_schema(spark, path)["ts"].dataType.simpleString() == "bigint"
    bare_spark.conf.set(NANOS_CONF, "false")
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL|Illegal Parquet type"):
        parquet_schema(bare_spark, path)


def test_glob_probe_fingerprints_only_matched_files(spark, tmp_path):
    """A ``pathGlobFilter`` probe (the streaming readers' schema sniff) is
    re-inferred when a matched file changes, not when another file does."""
    pq.write_table(pa.table({"a": [1]}), tmp_path / "events.parquet")
    pq.write_table(pa.table({"x": [1]}), tmp_path / "other.parquet")
    probe = lambda: parquet_schema(spark, str(tmp_path), "events.parquet")  # noqa: E731
    assert probe().names == ["a"]
    pq.write_table(pa.table({"y": [1, 2, 3]}), tmp_path / "other.parquet")
    assert _jobs_started(spark, probe) == 0
    pq.write_table(pa.table({"b": ["z"], "c": [2.5]}), tmp_path / "events.parquet")
    assert probe().names == ["b", "c"]
