"""Sink operators (SURVEY.md §2.2: K1–K5).

The reference writes single CSV files per stage (``scripts/extract.py:16``,
``scripts/transform.py:77``), one JSON array summary (``etl_analysis.ipynb
cell9:13-14``), and batches 200-row inserts into Postgres with retry/backoff
and a local-CSV fallback (``scripts/load.py:95-230``).

Spark-first mapping:
- single-file CSV/JSON shapes need ``coalesce(1)`` — acceptable only at a
  final small sink, never mid-plan (it would serialize the whole job).
- partitioned parquet is the engine-native sink for anything big.
- the hand-rolled 200-row batching + NaN→NULL of K4 is exactly what
  ``df.write.jdbc(..., properties={"batchsize": "200"})`` does natively.
- K5's fallback routing is a driver-side try/except around the two sinks.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame

from .readers import read_parquet


def _stage_key(src: str, tag: str) -> str:
    """Cache key for a staged layout derived from ``src``.

    Keyed on (abspath, size, mtime_ns, tag): an in-place rewrite that
    lands within coarse-mtime granularity still changes size or mtime_ns
    in practice, so a stale staged layout is not silently reused (the
    plain-getmtime key could be fooled by a same-second rewrite).
    """
    import hashlib

    st = os.stat(src)
    return hashlib.md5(
        f"{os.path.abspath(src)}:{st.st_size}:{st.st_mtime_ns}:{tag}".encode()
    ).hexdigest()[:10]


def _sweep_stale_stage_work(family_prefix: str, *, max_age_sec: float = 3600.0) -> None:
    """Remove orphan ``<family>*.stage-*`` work dirs left by a crashed
    staging run (any cache key — old keys orphan their work too). Only
    sweeps dirs older than ``max_age_sec`` so a CONCURRENT stager's live
    work dir is never pulled out from under it (the pid+monotonic suffix
    makes names unique per attempt)."""
    import time

    for work in glob.glob(f"{family_prefix}*.stage-*"):
        try:
            if time.time() - os.path.getmtime(work) > max_age_sec:
                shutil.rmtree(work, ignore_errors=True)
        except OSError:
            pass


def _publish_stage(work: str, out_dir: str) -> str:
    """Atomic rename publish; loser of a concurrent race cleans up."""
    try:
        os.rename(work, out_dir)
    except OSError:
        shutil.rmtree(work, ignore_errors=True)
    return out_dir


def write_parquet(df: DataFrame, path: str, *, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def _promote_single_part(tmp_dir: str, dest: str, ext: str) -> None:
    parts = sorted(glob.glob(os.path.join(tmp_dir, f"part-*{ext}")))
    if len(parts) != 1:
        raise RuntimeError(f"expected exactly one part file in {tmp_dir}, got {parts}")
    os.makedirs(os.path.dirname(dest) or ".", exist_ok=True)
    shutil.move(parts[0], dest)
    shutil.rmtree(tmp_dir)


def write_single_csv(df: DataFrame, dest: str) -> str:
    """K1 — single-file CSV with header, matching pandas ``to_csv(index=False)``.

    Writes via a temp dir then promotes the lone part file so the artifact
    is one plain ``.csv`` like the reference's stage outputs.
    """
    tmp = dest + ".__tmp__"
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(tmp)
    _promote_single_part(tmp, dest, ".csv")
    return dest


def write_single_json(df: DataFrame, dest: str, *, indent: int = 2) -> str:
    """K2 — one JSON *array* file (reference shape: ``json.dump(rows, indent=2)``).

    The reference emits a single array-of-records, not JSONL, so the final
    assembly is driver-side over a collected (small) result.
    """
    import json

    rows = [r.asDict(recursive=True) for r in df.collect()]
    os.makedirs(os.path.dirname(dest) or ".", exist_ok=True)
    with open(dest, "w") as fh:
        json.dump(rows, fh, indent=indent, default=str)
    return dest


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    *,
    mode: str = "append",
    batchsize: int = 200,
    properties: dict[str, str] | None = None,
) -> None:
    """K3+K4 — JDBC sink with batched inserts.

    ``batchsize=200`` mirrors the reference's batch size
    (``scripts/load.py:95,161``); NaN→NULL and DDL-on-overwrite come free
    from the JDBC writer. Retry/backoff is delegated to the JDBC driver /
    Spark task retries rather than re-implemented per batch. Jar-less
    environments: ``sources.pgcopy`` is the live-tested COPY-based sink.
    """
    props = {"batchsize": str(batchsize), **(properties or {})}
    writer = df.write.mode(mode)
    for k, v in props.items():
        writer = writer.option(k, v)
    writer.option("url", url).option("dbtable", table).format("jdbc").save()


def write_with_fallback(df: DataFrame, primary, fallback) -> str:
    """K5 — attempt the remote sink, fall back to the local one.

    Mirrors ``scripts/load.py:151-158,186-193``: missing credentials or a
    remote schema error routes the same DataFrame to a local CSV copy.
    ``primary``/``fallback`` are callables taking the DataFrame.
    """
    try:
        primary(df)
        return "primary"
    except Exception:  # noqa: BLE001 — mirror reference's broad fallback
        fallback(df)
        return "fallback"


def stage_partitioned_events(spark, sf_dir: str) -> str:
    """Materialize events as a date-PARTITIONED parquet layout under /tmp.

    The p5 catalog query reads this sink back with a partition filter —
    the write side of the §7 layout story (bucketing.py covers joins;
    this covers the partition-pruned scan every time-partitioned fact
    table lives by). Cached by source (size, mtime_ns); atomic rename
    publish (the replay_dir_with_sentinels discipline).
    """
    import time

    from pyspark.sql import functions as F

    from .readers import load_table

    src = os.path.join(sf_dir, "events.parquet")
    out_dir = f"/tmp/spark_graft_p5_part_{_stage_key(src, 'p5')}"
    _sweep_stale_stage_work("/tmp/spark_graft_p5_part_")
    if os.path.isdir(out_dir):
        return out_dir
    work = f"{out_dir}.stage-{os.getpid()}-{time.monotonic_ns()}"
    (
        load_table(spark, sf_dir, "events")
        .withColumn("event_date", F.to_date("ts"))
        .write.partitionBy("event_date")
        .parquet(work)
    )
    return _publish_stage(work, out_dir)


def stage_bucketed_events(spark, sf_dir: str, n_buckets: int = 24) -> str:
    """Materialize events as an md5-bucketed parquet layout (one file per
    bucket directory) under /tmp — the physical input for p7's compaction
    planner.

    Bucket = portable md5-mod of event_id (NOT Spark's murmur hash(), so
    a DuckDB oracle can recompute membership); ``repartition(bucket)``
    guarantees each bucket's rows land in exactly ONE task → one part
    file per directory — the file-count invariant p7's audit reads back
    through ``_metadata``. Cached by source (size, mtime_ns); atomic
    rename publish (the stage_partitioned_events discipline).
    """
    import time

    from pyspark.sql import functions as F

    from .readers import load_table

    src = os.path.join(sf_dir, "events.parquet")
    out_dir = f"/tmp/spark_graft_p7_bucket_{_stage_key(src, f'p7:{n_buckets}')}"
    _sweep_stale_stage_work("/tmp/spark_graft_p7_bucket_")
    if os.path.isdir(out_dir):
        return out_dir
    bucket = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % n_buckets
    )
    work = f"{out_dir}.stage-{os.getpid()}-{time.monotonic_ns()}"
    (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "value", bucket.alias("bucket"))
        .repartition("bucket")
        .write.partitionBy("bucket")
        .parquet(work)
    )
    return _publish_stage(work, out_dir)


def stage_two_generation_events(spark, sf_dir: str) -> str:
    """Materialize events as TWO parquet generations with an EVOLVED
    schema under one partitioned layout (gen=1, gen=2) — dq7's fixture.

    gen=1 (even event_ids) carries the original columns; gen=2 (odd
    event_ids) adds ``quality_tier`` — the additive-column evolution
    every long-lived feed goes through. A ``mergeSchema`` read of the
    parent must surface the new column with NULLs for gen-1 rows.
    Cached by source (size, mtime_ns); atomic rename publish.
    """
    import time

    from pyspark.sql import functions as F

    from .readers import load_table

    src = os.path.join(sf_dir, "events.parquet")
    out_dir = f"/tmp/spark_graft_dq7_gen_{_stage_key(src, 'dq7')}"
    _sweep_stale_stage_work("/tmp/spark_graft_dq7_gen_")
    if os.path.isdir(out_dir):
        return out_dir
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    tier = F.when(F.col("value") >= 50.0, "hi").otherwise("lo")
    work = f"{out_dir}.stage-{os.getpid()}-{time.monotonic_ns()}"
    ev.where(F.col("event_id") % 2 == 0).write.parquet(os.path.join(work, "gen=1"))
    (
        ev.where(F.col("event_id") % 2 == 1)
        .withColumn("quality_tier", tier)
        .write.parquet(os.path.join(work, "gen=2"))
    )
    return _publish_stage(work, out_dir)


def zorder_value(bx, by, bits: int = 8):
    """Morton/Z-value of two ``bits``-wide integer columns: interleave
    x into even and y into odd bit positions. Pure Column expression
    (literal shift widths), so it codegens — no UDF."""
    from functools import reduce

    from pyspark.sql import functions as F

    terms = []
    for i in range(bits):
        terms.append(F.shiftleft(F.shiftright(bx, i).bitwiseAND(F.lit(1)), 2 * i))
        terms.append(F.shiftleft(F.shiftright(by, i).bitwiseAND(F.lit(1)), 2 * i + 1))
    return reduce(lambda a, b: a + b, terms)


def stage_zorder_events(spark, sf_dir: str, *, layout: str) -> str:
    """Materialize events under one of two 16-file physical layouts — the
    p8 clustering comparison fixture:

    - ``zorder``: file = top 4 bits of the 16-bit Z-value over the
      256-bin (ts, user_id) grid → a 4×4 quadrant tiling of BOTH dims.
    - ``linear``: file = top 4 bits of the ts bin alone → 16 contiguous
      time slices (what p6-style 1-D range sharding produces).

    Bin edges come from the global min/max computed IN-PLAN (broadcast
    one-row agg — no driver collect) with pure integer arithmetic, so a
    DuckDB oracle reassigns every row to its file analytically.
    ``repartition(file)`` keeps each file directory to ONE part file —
    the 1:1 invariant p8's ``_metadata`` audit verifies (p7 discipline).
    Cached by source (size, mtime_ns); atomic rename publish.
    """
    import time

    from pyspark.sql import functions as F

    from .readers import load_table

    assert layout in ("zorder", "linear")
    src = os.path.join(sf_dir, "events.parquet")
    out_dir = f"/tmp/spark_graft_p8_{layout}_{_stage_key(src, f'p8:{layout}')}"
    _sweep_stale_stage_work(f"/tmp/spark_graft_p8_{layout}_")
    if os.path.isdir(out_dir):
        return out_dir
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("event_id", F.unix_micros("ts").alias("t"), "user_id")
    )
    extent = ev.agg(
        F.min("t").alias("min_t"),
        F.max("t").alias("max_t"),
        F.min("user_id").alias("min_u"),
        F.max("user_id").alias("max_u"),
    )
    # integer-exact binning (bigint `div`, not double `/`): a double
    # quotient is only exact below 2^53 — micros since epoch × 256 is not
    bx = F.expr("CAST((t - min_t) * 256 div (max_t - min_t + 1) AS INT)")
    by = F.expr("CAST((user_id - min_u) * 256 div (max_u - min_u + 1) AS INT)")
    binned = ev.crossJoin(F.broadcast(extent))
    if layout == "zorder":
        fcol = F.shiftright(zorder_value(bx, by, 8), 12)
    else:
        fcol = F.shiftright(bx, 4)
    work = f"{out_dir}.stage-{os.getpid()}-{time.monotonic_ns()}"
    (
        binned.select("event_id", "t", "user_id", fcol.cast("int").alias("zfile"))
        .repartition("zfile")
        .write.partitionBy("zfile")
        .parquet(work)
    )
    return _publish_stage(work, out_dir)


def compact_bucketed_layout(
    spark, sf_dir: str, n_buckets: int = 16, n_bins: int = 4
) -> str:
    """EXECUTE a small-file compaction (the lakehouse OPTIMIZE step p7
    only plans): bin-pack the ``n_buckets``-file staged layout into
    ``n_bins`` compacted files and rewrite each bin with ONE task.

    Binning is m5's next-fit in deterministic hash order: buckets line
    up by id (already md5-derived), a bucket joins the bin its
    running-row START falls in (budget = ceil(total / n_bins); a
    straddling bucket stays where it starts). The 16-row plan is a
    bounded driver collect (vocab/centroid discipline); the REWRITE is
    scan → coalesce(1) → write per bin — coalesce only narrows, so
    payload rows NEVER shuffle (asserted at plan level in
    tests/test_r10_ops.py). Cached by source (size, mtime_ns); atomic
    rename publish.
    """
    import time

    from pyspark.sql import functions as F

    src = os.path.join(sf_dir, "events.parquet")
    staged = stage_bucketed_events(spark, sf_dir, n_buckets)
    out_dir = (
        f"/tmp/spark_graft_p10_compact_{_stage_key(src, f'p10:{n_buckets}:{n_bins}')}"
    )
    _sweep_stale_stage_work("/tmp/spark_graft_p10_compact_")
    if os.path.isdir(out_dir):
        return out_dir
    per = (
        read_parquet(spark, staged)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bucket")
        .collect()  # n_buckets rows — metadata-scale, never corpus rows
    )
    total = sum(r.n for r in per)
    if total == 0:
        # an empty staged source has nothing to pack — fail loud instead
        # of a bare ZeroDivisionError on the budget division (ADVICE r10)
        raise ValueError(f"compact_bucketed_layout: staged source {staged} is empty")
    budget = -(-total // n_bins)  # ceil
    cum = 0
    bins: dict[int, list[int]] = {}
    for r in per:
        bins.setdefault(cum // budget, []).append(int(r.bucket))
        cum += int(r.n)
    work = f"{out_dir}.stage-{os.getpid()}-{time.monotonic_ns()}"
    for bin_id, buckets in sorted(bins.items()):
        paths = [os.path.join(staged, f"bucket={k}") for k in buckets]
        member = spark.read.option("basePath", staged).parquet(*paths)
        member.coalesce(1).write.parquet(os.path.join(work, f"bin={bin_id}"))
    return _publish_stage(work, out_dir)


def stage_fragmented_events(spark, sf_dir: str, n_buckets: int = 16) -> str:
    """Materialize events as an md5-bucketed layout with DETERMINISTIC
    per-bucket fragmentation — p11's fixture: bucket ``k`` splits into
    ``1 + k % 4`` fragment files (an independent md5 window picks the
    fragment), modelling the uneven small-file debris streaming ingest
    leaves behind (some buckets compact-worthy, some already fine).

    Bucket and fragment are both portable md5-mods of event_id (hex
    windows 1-8 and 9-16 — independent digits of one digest), so a
    DuckDB oracle recomputes membership and the EXPECTED file counts
    analytically. ``repartition("bucket", "frag")`` puts each (bucket,
    frag) key in exactly ONE task → one part file per leaf directory →
    file count per bucket == its distinct-frag count. Cached by source
    (size, mtime_ns); atomic rename publish.
    """
    import time

    from pyspark.sql import functions as F

    from .readers import load_table

    src = os.path.join(sf_dir, "events.parquet")
    out_dir = f"/tmp/spark_graft_p11_frag_{_stage_key(src, f'p11:{n_buckets}')}"
    _sweep_stale_stage_work("/tmp/spark_graft_p11_frag_")
    if os.path.isdir(out_dir):
        return out_dir
    h = F.md5(F.col("event_id").cast("string"))
    bucket = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % n_buckets
    frag = F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint") % (
        F.lit(1) + bucket % 4
    )
    work = f"{out_dir}.stage-{os.getpid()}-{time.monotonic_ns()}"
    (
        load_table(spark, sf_dir, "events")
        .select(
            "event_id", "user_id", "event_type", "value",
            bucket.alias("bucket"), frag.alias("frag"),
        )
        .repartition("bucket", "frag")
        .write.partitionBy("bucket", "frag")
        .parquet(work)
    )
    return _publish_stage(work, out_dir)


def incremental_compact_fragments(
    spark, sf_dir: str, n_buckets: int = 16, max_files: int = 2
) -> str:
    """EXECUTE an INCREMENTAL compaction over the fragmented layout — the
    production form of p10's full-layout OPTIMIZE: only buckets whose
    small-file count EXCEEDS ``max_files`` are rewritten (scan members →
    ``coalesce(1)`` → write, one task per bucket — coalesce only narrows,
    payload rows never shuffle); buckets already within the file budget
    are NOT touched, and the output layout contains ONLY the rewritten
    buckets (the add-file half of a Delta-style OPTIMIZE commit; the
    untouched buckets keep serving their original files).

    The qualifying set comes from a bounded driver collect (n_buckets
    rows of (bucket, n_files) metadata — the p10/vocab discipline).
    Cached by source (size, mtime_ns); atomic rename publish.
    """
    import time

    from pyspark.sql import functions as F

    src = os.path.join(sf_dir, "events.parquet")
    staged = stage_fragmented_events(spark, sf_dir, n_buckets)
    out_dir = (
        f"/tmp/spark_graft_p11_compact_{_stage_key(src, f'p11c:{n_buckets}:{max_files}')}"
    )
    _sweep_stale_stage_work("/tmp/spark_graft_p11_compact_")
    if os.path.isdir(out_dir):
        return out_dir
    per = (
        read_parquet(spark, staged)
        # file_path, not file_name: one task writing two leaf dirs reuses
        # the same part-file basename in both
        .select("bucket", F.col("_metadata.file_path").alias("f"))
        .groupBy("bucket")
        .agg(F.countDistinct("f").alias("n_files"))
        .collect()  # n_buckets rows — metadata-scale, never corpus rows
    )
    qualifying = sorted(int(r.bucket) for r in per if r.n_files > max_files)
    work = f"{out_dir}.stage-{os.getpid()}-{time.monotonic_ns()}"
    os.makedirs(work, exist_ok=True)  # zero qualifying buckets → an
    # empty-but-published layout, not a missing dir
    for k in qualifying:
        member = spark.read.option("basePath", staged).parquet(
            os.path.join(staged, f"bucket={k}")
        )
        (
            member.drop("frag")
            .coalesce(1)
            .write.parquet(os.path.join(work, f"bucket={k}"))
        )
    return _publish_stage(work, out_dir)


def stage_versioned_events(
    spark, sf_dir: str, n_buckets: int = 16, max_files: int = 2
) -> str:
    """Build a MANIFEST-VERSIONED table over the p11 layouts — the
    snapshot/time-travel fixture (p12): version 1 is the fragmented
    staged layout, version 2 is the state after the incremental
    compaction COMMIT (rewritten buckets serve their compacted file,
    compliant buckets keep serving their original fragment files — the
    add/remove-file halves of a Delta/Iceberg commit expressed as two
    JSON file lists).

    Each manifest entry records (bucket, path, root, size, mtime_ns);
    the stat fields are the PHYSICAL snapshot pin: a later version may
    only ADD files and STOP REFERENCING old ones — never rewrite them —
    so re-stat'ing version 1's entries after the compaction must match
    byte-for-byte (:func:`snapshot_files_intact`). Cached by source
    (size, mtime_ns); atomic rename publish."""
    import json
    import time

    src = os.path.join(sf_dir, "events.parquet")
    staged = stage_fragmented_events(spark, sf_dir, n_buckets)
    compacted = incremental_compact_fragments(spark, sf_dir, n_buckets, max_files)
    out_dir = (
        f"/tmp/spark_graft_p12_manifest_{_stage_key(src, f'p12:{n_buckets}:{max_files}')}"
    )
    _sweep_stale_stage_work("/tmp/spark_graft_p12_manifest_")
    if os.path.isdir(out_dir):
        return out_dir

    def entries(root: str) -> dict[int, list[dict]]:
        per: dict[int, list[dict]] = {}
        for p in sorted(glob.glob(os.path.join(root, "bucket=*", "**", "*.parquet"), recursive=True)):
            k = int(p.split("bucket=")[1].split(os.sep)[0])
            st = os.stat(p)
            per.setdefault(k, []).append(
                {
                    "bucket": k,
                    "path": p,
                    "root": root,
                    "size": st.st_size,
                    "mtime_ns": st.st_mtime_ns,
                }
            )
        return per

    v1 = entries(staged)
    v2_src = entries(compacted)  # rewritten buckets only
    v2 = {k: v2_src.get(k, files) for k, files in v1.items()}
    work = f"{out_dir}.stage-{os.getpid()}-{time.monotonic_ns()}"
    os.makedirs(work)
    for ver, per in ((1, v1), (2, v2)):
        with open(os.path.join(work, f"v{ver}.json"), "w") as f:
            json.dump(
                {"version": ver, "files": [e for k in sorted(per) for e in per[k]]},
                f,
                indent=1,
            )
    return _publish_stage(work, out_dir)


def _load_manifest(manifest_dir: str, version: int) -> list[dict]:
    import json

    path = os.path.join(manifest_dir, f"v{version}.json")
    if not os.path.exists(path):
        have = sorted(
            int(p.rsplit("v", 1)[1].split(".")[0])
            for p in glob.glob(os.path.join(manifest_dir, "v*.json"))
        )
        raise ValueError(
            f"snapshot version {version} does not exist (available: {have})"
        )
    with open(path) as f:
        return json.load(f)["files"]


def read_snapshot(spark, manifest_dir: str, version: int):
    """Time-travel read: load EXACTLY the files version N's manifest
    references — never a directory listing, so files added by later
    commits are invisible and files a later commit stopped referencing
    are still served (the Delta/Iceberg snapshot-isolation read path).
    Files are grouped by layout root so partition-column recovery
    (``basePath``) works per layout; the unioned columns are the common
    payload + bucket."""
    from functools import reduce

    from pyspark.sql import functions as F

    files = _load_manifest(manifest_dir, version)
    roots: dict[str, list[str]] = {}
    for e in files:
        roots.setdefault(e["root"], []).append(e["path"])
    parts = [
        spark.read.option("basePath", root)
        .parquet(*sorted(paths))
        .select(
            "event_id", "user_id", "event_type", "value",
            F.col("bucket").cast("bigint").alias("bucket"),
            F.col("_metadata.file_path").alias("file_path"),
        )
        for root, paths in sorted(roots.items())
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)


def snapshot_files_intact(manifest_dir: str, version: int) -> bool:
    """Physical snapshot pin: every file version N references still
    exists with the SAME size and mtime_ns the manifest recorded —
    i.e. no later operation rewrote a committed snapshot file. Bounded
    metadata work (one stat per referenced file)."""
    for e in _load_manifest(manifest_dir, version):
        try:
            st = os.stat(e["path"])
        except OSError:
            return False
        if st.st_size != e["size"] or st.st_mtime_ns != e["mtime_ns"]:
            return False
    return True


_CDF_INSERT_OFFSET = 1_000_000_000_000  # re-key for insert clones: far above
# any synthesized event_id (the 100× probe strides event_id by 1e8 per copy
# → max ≈ 1e10), so clone ids never collide with base ids at ANY fixture
# scale, and the md5 bucket of the new id is independent of the old one


def stage_cdf_commit(spark, sf_dir: str, n_buckets: int = 16) -> str:
    """Manifest-versioned CHANGE-DATA-FEED fixture (p13): version 1 is a
    clean md5-bucketed events layout (one part file per bucket); version 2
    is ONE DML commit applying three deterministic row-level operations —
    deletes (``event_id % 97 == 0``), updates (``value ← coalesce(value,0)+1``
    where ``event_id % 103 == 0`` and not deleted; delete wins the overlap),
    and inserts (clones of ``event_id % 101 == 0`` rows re-keyed to
    ``event_id + _CDF_INSERT_OFFSET``, landing in the bucket of their NEW
    key). The commit follows the Delta/Iceberg file contract: it REWRITES
    exactly the buckets containing a delete or update (surviving rows with
    updates applied, under the commit root), APPENDS the insert files, and
    never touches a committed file — untouched buckets keep serving their
    version-1 file, which is what makes the p13 diff file-pruned. Manifests
    v1/v2 use p12's entry schema (bucket, path, root, size, mtime_ns), so
    :func:`read_snapshot` and :func:`snapshot_files_intact` work unchanged.
    Cached by source (size, mtime_ns); atomic rename publish."""
    import json
    import time

    from pyspark.sql import functions as F

    from .readers import load_table

    src = os.path.join(sf_dir, "events.parquet")
    out_dir = f"/tmp/spark_graft_p13_cdf_{_stage_key(src, f'p13:{n_buckets}')}"
    _sweep_stale_stage_work("/tmp/spark_graft_p13_cdf_")
    if os.path.isdir(out_dir):
        return out_dir

    def bucket_of(c):
        return F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast(
            "bigint"
        ) % n_buckets

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value",
        bucket_of(F.col("event_id")).alias("bucket"),
    )
    work = f"{out_dir}.stage-{os.getpid()}-{time.monotonic_ns()}"
    base_root = os.path.join(work, "base")
    # one task per bucket → exactly one part file per bucket directory
    ev.repartition("bucket").write.partitionBy("bucket").parquet(base_root)

    is_del = F.col("event_id") % 97 == 0
    is_upd = (F.col("event_id") % 103 == 0) & ~is_del
    # affected buckets: metadata-scale collect (≤ n_buckets rows)
    affected = sorted(
        r.bucket
        for r in ev.where(is_del | is_upd).select("bucket").distinct().collect()
    )
    rw_root = os.path.join(work, "rewrite")
    (
        ev.where(F.col("bucket").isin(affected) & ~is_del)
        .withColumn(
            "value",
            F.when(is_upd, F.coalesce(F.col("value"), F.lit(0.0)) + 1.0).otherwise(
                F.col("value")
            ),
        )
        .repartition("bucket")
        .write.partitionBy("bucket")
        .parquet(rw_root)
    )
    app_root = os.path.join(work, "append")
    new_id = F.col("event_id") + F.lit(_CDF_INSERT_OFFSET)
    (
        ev.where(F.col("event_id") % 101 == 0)
        .select(
            new_id.alias("event_id"), "user_id", "event_type", "value",
            bucket_of(new_id).alias("bucket"),
        )
        .repartition("bucket")
        .write.partitionBy("bucket")
        .parquet(app_root)
    )

    def entries(root: str) -> list[dict]:
        out = []
        for p in sorted(
            glob.glob(os.path.join(root, "bucket=*", "**", "*.parquet"), recursive=True)
        ):
            st = os.stat(p)
            out.append(
                {
                    "bucket": int(p.split("bucket=")[1].split(os.sep)[0]),
                    "path": p,
                    "root": root,
                    "size": st.st_size,
                    "mtime_ns": st.st_mtime_ns,
                }
            )
        return out

    v1 = entries(base_root)
    v2 = [e for e in v1 if e["bucket"] not in set(affected)] + entries(
        rw_root
    ) + entries(app_root)
    # entries were stat'ed inside the work dir; the atomic publish RENAMES
    # work → out_dir (file stats survive a dir rename), so the recorded
    # paths/roots must point at the published location
    # v2 SHARES the carried-over entry dicts with v1 — guard so each
    # object is rewritten exactly once
    for files in (v1, v2):
        for e in files:
            if e["path"].startswith(work):
                e["path"] = out_dir + e["path"][len(work):]
            if e["root"].startswith(work):
                e["root"] = out_dir + e["root"][len(work):]
    for ver, files in ((1, v1), (2, v2)):
        with open(os.path.join(work, f"v{ver}.json"), "w") as f:
            json.dump({"version": ver, "files": files}, f, indent=1)
    return _publish_stage(work, out_dir)


def read_manifest_files(spark, entries: list[dict]):
    """Read EXACTLY the given manifest entries (p13's delta-file reader):
    files grouped by layout root so ``basePath`` partition-column recovery
    works per layout — the same read path as :func:`read_snapshot`, over
    an arbitrary file subset instead of a whole version."""
    from functools import reduce

    from pyspark.sql import functions as F

    roots: dict[str, list[str]] = {}
    for e in entries:
        roots.setdefault(e["root"], []).append(e["path"])
    parts = [
        spark.read.option("basePath", root)
        .parquet(*sorted(paths))
        .select(
            "event_id", "user_id", "event_type", "value",
            F.col("bucket").cast("bigint").alias("bucket"),
        )
        for root, paths in sorted(roots.items())
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)


def mv_milli(col):
    """The p14 MV's per-row integer value surrogate: ``floor(value*1000)``
    as bigint. Per-row IEEE double multiply + floor is bit-deterministic
    across engines (Spark and DuckDB run the identical two ops), and the
    bigint SUM is exact — so the maintained view and the analytic oracle
    agree to the last bit, with no float-accumulation-order hazard."""
    from pyspark.sql import functions as F

    return F.floor(F.coalesce(col, F.lit(0.0)) * 1000).cast("bigint")


def stage_mv_base(spark, manifest_dir: str, version: int = 1) -> str:
    """Materialize the version-N aggregate of a :func:`stage_cdf_commit`
    layout — the "materialized view checkpoint" a lakehouse stores NEXT TO
    the snapshot it was computed from. p14 maintains it forward through
    the v1→v2 change feed without ever rescanning version-N data files;
    this stager is the one full scan, paid once at MV creation time (the
    d12 persisted-index discipline: build cost lives in the fixture, the
    query measures the maintenance path). Grain: per ``event_type`` —
    COUNT(*) and SUM(floor(value*1000)), the two self-maintainable
    aggregates (MIN/MAX/COUNT DISTINCT would need auxiliary state and are
    deliberately out of the MV contract). Cached by the version manifest's
    (size, mtime_ns); atomic rename publish."""
    import time

    from pyspark.sql import functions as F

    manifest_file = os.path.join(manifest_dir, f"v{version}.json")
    out_dir = (
        f"/tmp/spark_graft_p14_mv_{_stage_key(manifest_file, f'p14:{version}')}"
    )
    _sweep_stale_stage_work("/tmp/spark_graft_p14_mv_")
    if os.path.isdir(out_dir):
        return out_dir
    work = f"{out_dir}.stage-{os.getpid()}-{time.monotonic_ns()}"
    mv = (
        read_snapshot(spark, manifest_dir, version)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(mv_milli(F.col("value"))).cast("bigint").alias("v_milli_sum"),
        )
    )
    # MV grain is event_type (a handful of groups): one part file
    mv.coalesce(1).write.parquet(work)
    return _publish_stage(work, out_dir)
