"""Scan operators (SURVEY.md §2.1: S1–S4).

The reference reads CSV with inferred schemas at every stage
(``scripts/extract.py:12``, ``scripts/transform.py:14``) and a Postgres
table via PostgREST (``etl_analysis.ipynb cell4:6-10``). Here:

- CSV scans take an explicit ``StructType`` (deterministic types; schema
  inference is a convenience flag, never the engine default) — S1.
- Parquet is the primary columnar format for the synthetic fixture tables;
  Catalyst pushes filters and prunes columns into the scan for free. Every
  parquet scan without reader options (``mergeSchema``, ``basePath``) goes
  through ``read_parquet``, which resolves a path's schema once per file
  fingerprint and then reads with that explicit schema, so building a
  query starts no footer-inference job. The cached schema is re-inferred
  when any of these changes: the set of files under the path (or matched
  by a ``pathGlobFilter`` glob), a file's inode, size or mtime (so a
  rewritten or replaced file is seen), or one of the session confs that
  change inferred parquet types (``_SCHEMA_CONFS``). The scan itself still
  reads and type-checks every footer when it runs.
- JDBC scan/count (S2/S4) replaces the REST fetch; note the reference's
  PostgREST read silently truncates at 1000 rows (SURVEY.md §4.3.7) — a
  bug we deliberately do not reproduce. In an environment with no JDBC
  driver jar, the live Postgres path is ``sources.pgcopy`` (a Spark 4
  Python DataSource over psql COPY — tested against a real local server
  in ``tests/test_pgcopy_live.py``).
- ``load_with_fallback`` mirrors the notebook's source-resolution chain
  (S3, ``etl_analysis.ipynb cell6:1-17``): try primary, fall back, else
  raise.

At 100 TB the scan is where most time goes: keep reads declarative so
partition pruning / predicate pushdown reach the file source, and never
``collect()`` a scan to re-parallelize it.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable
from fnmatch import fnmatchcase

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

FIXTURE_TABLES = (
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


# Session confs that change the types parquet schema inference produces.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

# (abspath, glob) -> ((fingerprint, confs), schema); one entry per path.
# Process-wide on purpose: the key holds everything the inferred schema
# depends on, so sessions can share entries. Two threads missing together
# both infer and both store a schema valid for their key; no lock needed.
_SCHEMAS: dict[tuple[str, str | None], tuple[tuple, StructType]] = {}


def _fingerprint(root: str, glob: str | None) -> tuple:
    """``(relpath, st_ino, st_size, st_mtime_ns)`` of every local file under
    ``root`` whose name matches ``glob`` (every file when ``glob`` is None)."""
    if os.path.isfile(root):
        walk: Iterable = [(os.path.dirname(root), [], [os.path.basename(root)])]
    else:
        walk = os.walk(root)
    out = []
    for d, dirs, files in walk:
        dirs.sort()
        for f in sorted(files):
            if glob is None or fnmatchcase(f, glob):
                p = os.path.join(d, f)
                st = os.stat(p)
                out.append((os.path.relpath(p, root), st.st_ino, st.st_size, st.st_mtime_ns))
    return tuple(out)


def parquet_schema(spark: SparkSession, path: str, glob: str | None = None) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, run once per file
    fingerprint and schema conf set. ``glob`` is the read's
    ``pathGlobFilter``; only the files it matches are fingerprinted."""
    root = os.path.abspath(path)
    key = (_fingerprint(root, glob), tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS))
    hit = _SCHEMAS.get((root, glob))
    if hit is not None and hit[0] == key:
        return hit[1]
    reader = spark.read if glob is None else spark.read.option("pathGlobFilter", glob)
    schema = reader.parquet(path).schema
    _SCHEMAS[(root, glob)] = (key, schema)
    return schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Columnar scan with the path's resolved schema (``parquet_schema``);
    pushdown + pruning handled by the parquet source. Each call returns a
    fresh relation, so self-joins get distinct expression IDs."""
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    *,
    header: bool = True,
    infer: bool = False,
) -> DataFrame:
    """CSV scan (S1). Prefer an explicit schema; ``infer`` only for ad-hoc use."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic fixture table from an sf directory.

    ``events.ts`` has shipped in two physical forms across fixture
    generations, and both must land as a session-TZ (UTC) TIMESTAMP whose
    wall clock matches DuckDB's ``CAST(ts AS TIMESTAMP)``:

    - TIMESTAMP(NANOS): with ``spark.sql.legacy.parquet.nanosAsLong`` it
      arrives as epoch-nanos long; integer ``div`` (not double division,
      which loses bits above 2⁵³) → microsecond timestamp.
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as
      TIMESTAMP_NTZ; a plain cast re-tags the naive value as UTC (the
      session zone), preserving the wall clock exactly.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    if name == "events":
        # defensive: the engine's own session factory sets this, but the
        # DRIVER may hand us a session without it, and TIMESTAMP(NANOS)
        # parquet throws PARQUET_TYPE_ILLEGAL otherwise; it is runtime-settable
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: Iterable[str] = FIXTURE_TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """JDBC table scan (S2). Full-table, no page truncation.

    Replaces the reference's PostgREST fetch (``etl_analysis.ipynb
    cell4:6-10``) which silently capped at 1000 rows.
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def jdbc_count(spark: SparkSession, url: str, table: str, properties: dict[str, str] | None = None) -> int:
    """Count-only remote scan (S4, ``scripts/validate.py:26-44``).

    Pushes ``SELECT count(*)`` to the database instead of shipping rows.
    """
    q = f"(SELECT count(*) AS n FROM {table}) AS cnt"
    return read_jdbc(spark, url, q, properties).collect()[0][0]


def load_with_fallback(loaders: list[Callable[[], DataFrame]]) -> DataFrame:
    """Source resolution chain (S3, ``etl_analysis.ipynb cell6:1-17``).

    Try each loader in order; first success wins. Driver-side control
    flow — the loaders themselves stay lazy DataFrames.
    """
    errors: list[str] = []
    for loader in loaders:
        try:
            return loader()
        except Exception as exc:  # noqa: BLE001 — mirror reference's broad fallback
            errors.append(f"{loader}: {exc}")
    raise RuntimeError("all sources failed: " + "; ".join(errors))


def stage_events_jsonl(sf_dir: str) -> str:
    """Export events.parquet to a newline-delimited JSON file under /tmp.

    The staged file is the INPUT for the x4 JSONL-source query: the
    engine must ingest JSONL (the lingua franca of LLM corpus drops)
    through ``spark.read.json`` with an explicit schema and land
    byte-identical values to the parquet original — which is exactly
    what the x4 oracle checks by aggregating the parquet directly.

    Determinism: rows sorted by event_id; doubles via json.dumps (repr
    shortest-roundtrip — parses back to the identical float64);
    timestamps as 'yyyy-MM-dd HH:mm:ss.SSSSSS' naive-UTC strings; cached
    by source mtime and published with an atomic rename (the
    replay_dir_with_sentinels discipline).
    """
    import hashlib
    import json as _json
    import time as _time

    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, "events.parquet")
    key = hashlib.md5(f"{os.path.abspath(src)}:{os.path.getmtime(src)}".encode()).hexdigest()[:10]
    out_dir = f"/tmp/spark_graft_x4_jsonl_{key}"
    out = os.path.join(out_dir, "events.jsonl")
    if os.path.isfile(out):
        return out
    work = f"{out_dir}.stage-{os.getpid()}-{_time.monotonic_ns()}"
    os.makedirs(work)
    import pyarrow as pa
    import pyarrow.compute as pc

    t = pq.read_table(src)
    # either fixture generation (ns or us unit) → µs datetimes
    ts_us = pc.cast(t["ts"], pa.timestamp("us")).to_pylist()
    cols = {name: t[name].to_pylist() for name in ("event_id", "user_id", "event_type", "value", "props")}
    cols["ts"] = ts_us
    rows = sorted(zip(*(cols[c] for c in ("event_id", "ts", "user_id", "event_type", "value", "props"))))
    with open(os.path.join(work, "events.jsonl"), "w") as f:
        for eid, ts, uid, etype, value, props in rows:
            f.write(
                _json.dumps(
                    {
                        "event_id": eid,
                        "ts": None if ts is None else ts.strftime("%Y-%m-%d %H:%M:%S.%f"),
                        "user_id": uid,
                        "event_type": etype,
                        "value": value,
                        "props": props,
                    }
                )
                + "\n"
            )
    try:
        os.rename(work, out_dir)
    except OSError:
        import shutil

        shutil.rmtree(work, ignore_errors=True)
    return out
