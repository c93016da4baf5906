"""End-to-end training-corpus operators: near-dup clustering (connected
components) and the composed C4-style cleaning pipeline.

``d8_neardup_clusters`` is the dedup endgame: LSH gives PAIRS, but
removal needs CLUSTERS (A~B, B~C ⇒ {A,B,C} keep one). Components are
computed by iterative min-label propagation — each round is one join +
one groupBy-min, lineage cut with ``localCheckpoint`` so the plan stays
flat; rounds needed = graph diameter (near-dup graphs are shallow).
Iterative graph state can't be expressed in one SQL statement, so the
oracle is a pytest union-find over the same pairs instead of DuckDB
(driver records the rows-only check).

``pipe1_corpus_clean`` chains the §7 text operators the way a real
pre-training cleanup would: language filter → quality threshold →
exact-dedup to the canonical copy. One declarative plan: Catalyst fuses
the filters into the scan and the only shuffle is the fingerprint
window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import REGISTRY, register
from ..functions.text import quality_score, token_pairs, tokens
from ..sources import load_table, read_parquet
from .dedup import _DUP_OFFSET, corpus_with_dups, d5_lsh_jaccard_dedup
from .similarity import v5_lsh_bucketed_neardup
from .text import (
    _LANG_MARKERS,
    _SQL_RAW_TOKENS,
    _SQL_STOP_LIST,
    _SQL_TOKENS,
    _sql_lang_score,
    _t28_gopher_label,
)

# d5's full oracle SQL (registered before this module imports) — d8's oracle
# clusters exactly the pairs d5 emits, so reuse its text verbatim
_SQL_D5_PAIRS = REGISTRY["d5_lsh_jaccard_dedup"].sql

# exactly t2_quality_score's oracle expression (plans/text.py) — one source
# of truth for the quality formula on the SQL side
_SQL_QUALITY = f"""ROUND(0.4 * LEAST(len({_SQL_TOKENS}) / 50.0, 1.0)
                + 0.3 * LEAST(CAST(len(list_filter({_SQL_TOKENS}, t -> t IN ({_SQL_STOP_LIST}))) AS DOUBLE)
                              / len({_SQL_TOKENS}) * 5.0, 1.0)
                + 0.3 * (CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) / len(text)), 6)"""


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., 'Connected Components in MapReduce
    and Beyond'): every node links its LARGER neighbors to the minimum of
    its closed neighborhood. One groupBy-min + one join; output edges are
    (hi, lo)-normalized by construction (v > u >= m)."""
    bidir = edges.union(edges.select(F.col("lo").alias("hi"), F.col("hi").alias("lo")))
    mins = bidir.groupBy("hi").agg(
        F.least(F.min("lo"), F.col("hi")).alias("m")
    ).select(F.col("hi").alias("c"), "m")
    return (
        bidir.where(F.col("lo") > F.col("hi"))  # larger neighbors of c=hi
        .join(mins, F.col("hi") == F.col("c"))
        .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
        .where(F.col("hi") != F.col("lo"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: every node links its SMALLER neighbors (and
    itself) to the minimum of that set. Input/output (hi, lo)-normalized."""
    mins = edges.groupBy("hi").agg(F.min("lo").alias("m"))
    relink = (
        edges.join(mins, "hi")
        .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
        .where(F.col("hi") != F.col("lo"))
    )
    center = mins.select(F.col("hi"), F.col("m").alias("lo"))
    return relink.union(center).distinct()


def connected_components(pairs: DataFrame, stats: dict | None = None) -> DataFrame:
    """(doc_id, rep) for every node in ``pairs`` — rep = component minimum.

    Alternating large-star/small-star (Kiveris et al. 2014) instead of
    min-label propagation: rounds are O(log n) in the worst case instead
    of O(component diameter), so a 100 TB near-dup graph with a long
    chain (or one giant component) converges in a handful of rounds — the
    VERDICT r6 item-4 bound. Each round is two groupBy-mins + two joins
    on narrow (hi, lo) bigint pairs; lineage is cut with localCheckpoint
    per round so the plan stays O(1). Convergence = the edge set is a
    fixed point of both stars (checked with a one-action anti-join probe
    on the normalized sets, which the stars keep (hi, lo)-sorted).

    ``stats``, if given, receives {"rounds": n} — the scale probe asserts
    the round count stays flat as the graph grows (the whole point of the
    star alternation vs diameter-bound propagation)."""
    edges = (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("hi"),
            F.least("doc_a", "doc_b").alias("lo"),
        )
        .where(F.col("hi") != F.col("lo"))
        .distinct()
        .localCheckpoint()
    )
    rounds = 0
    for _ in range(64):  # alternation converges in O(log n) rounds; 64 is
        # a runaway backstop far above any real graph (2^64 nodes)
        rounds += 1
        stepped = _small_star(_large_star(edges)).localCheckpoint()
        changed = (
            stepped.join(edges, ["hi", "lo"], "left_anti")
            .union(edges.join(stepped, ["hi", "lo"], "left_anti"))
            .limit(1)
            .count()
        )
        edges = stepped
        if changed == 0:
            # a fixed point of SS∘LS must actually be disjoint stars
            # (leaves have one center; no node is both leaf and center) —
            # probed once, at convergence only
            multi = (
                edges.groupBy("hi").agg(F.count_distinct("lo").alias("k"))
                .where(F.col("k") > 1).limit(1).count()
            )
            both = (
                edges.alias("a")
                .join(edges.alias("b"), F.col("a.lo") == F.col("b.hi"))
                .limit(1)
                .count()
            )
            if multi == 0 and both == 0:
                break
    else:
        raise RuntimeError("connected_components: star alternation did not converge")
    if stats is not None:
        stats["rounds"] = rounds
    # fixed point = disjoint stars centered at component minima
    leaves = edges.select(F.col("hi").alias("doc_id"), F.col("lo").alias("rep"))
    centers = edges.select(F.col("lo").alias("doc_id"), F.col("lo").alias("rep")).distinct()
    return leaves.union(centers).distinct()


@register(
    "d8_neardup_clusters",
    f"""WITH RECURSIVE
        pairs AS (SELECT doc_a, doc_b FROM ({_SQL_D5_PAIRS})),
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                  UNION
                  SELECT doc_b AS src, doc_a AS dst FROM pairs),
        reach(src, dst) AS (
          SELECT src, src FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst)
        SELECT src AS doc_id, MIN(dst) AS rep FROM reach GROUP BY src""",
    tags=("dedup", "clustering", "iterative"),
    doc="Connected components over LSH near-dup pairs via alternating "
    "large-star/small-star rounds (Kiveris et al.) — O(log n) rounds, not "
    "O(diameter) like plain min-label propagation; rep = min doc_id of "
    "the component. The oracle is a recursive transitive closure (DuckDB "
    "WITH RECURSIVE) over the same d5 pairs — sound at oracle scale where "
    "closure size is bounded by the small clone-cluster components; Spark "
    "runs the star fixpoint that scales instead",
)
def d8_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return connected_components(d5_lsh_jaccard_dedup(spark, sf_dir).select("doc_a", "doc_b"))


@register(
    "pipe1_corpus_clean",
    f"""WITH corpus AS (
         SELECT doc_id, lang, text FROM documents
         UNION ALL
         SELECT doc_id + {_DUP_OFFSET} AS doc_id, lang, text FROM documents
         WHERE doc_id % 10 = 0
       ), scored AS (
         SELECT doc_id, lang, md5(lower(trim(text))) AS fp,
                {_SQL_QUALITY} AS quality
         FROM corpus
       ), kept AS (
         SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS canonical
         FROM scored
         WHERE quality >= 0.5 AND lang IN ('en','es','de','fr')
       )
       SELECT doc_id, lang, quality FROM kept WHERE doc_id = canonical""",
    tags=("pipeline", "text", "dedup"),
    doc="Composed cleanup: language filter → quality threshold → exact-dedup "
    "canonical selection, as one declarative plan (single window shuffle)",
)
def pipe1_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    # dup re-insertion in ONE scan (r16, guide §6): the union form read
    # documents.parquet twice — the dup branch's modulo predicate cannot
    # prune parquet row groups, so the second scan re-decoded the full
    # text column for 10% of rows kept. One Generate over a 1-or-2
    # element offset array emits the same rows from a single scan
    # (each offset is added to doc_id; text/lang flow through), and the
    # lang IN (...) pushdown is preserved on the one scan.
    corpus = docs.select(
        "doc_id",
        "lang",
        "text",
        F.explode(
            F.when(
                F.col("doc_id") % 10 == 0,
                F.array(F.lit(0).cast("long"), F.lit(_DUP_OFFSET).cast("long")),
            ).otherwise(F.array(F.lit(0).cast("long")))
        ).alias("off"),
    ).select(
        (F.col("doc_id") + F.col("off")).alias("doc_id"), "lang", "text"
    )
    scored = corpus.select(
        "doc_id",
        "lang",
        F.md5(F.lower(F.trim("text"))).alias("fp"),
        quality_score("text").alias("quality"),
    )
    kept = scored.where(
        (F.col("quality") >= 0.5) & F.col("lang").isin("en", "es", "de", "fr")
    ).withColumn("canonical", F.min("doc_id").over(Window.partitionBy("fp")))
    return kept.where(F.col("doc_id") == F.col("canonical")).select("doc_id", "lang", "quality")


@register(
    "p2_upsert_latest",
    """WITH s AS (
         SELECT user_id, event_type,
                event_id % 5 = 0 AS is_delta,
                ROW_NUMBER() OVER (PARTITION BY user_id, event_type, event_id % 5 = 0
                                   ORDER BY ts DESC, event_id DESC) AS rn,
                event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
         FROM events),
       b AS (SELECT * FROM s WHERE rn = 1 AND NOT is_delta),
       d AS (SELECT * FROM s WHERE rn = 1 AND is_delta)
       SELECT COALESCE(d.user_id, b.user_id) AS user_id,
              COALESCE(d.event_type, b.event_type) AS event_type,
              COALESCE(d.event_id, b.event_id) AS latest_event_id,
              COALESCE(d.ts_us, b.ts_us) AS latest_ts_us,
              COALESCE(d.value, b.value) AS latest_value,
              CASE WHEN d.user_id IS NOT NULL AND b.user_id IS NOT NULL THEN 'update'
                   WHEN d.user_id IS NOT NULL THEN 'insert'
                   ELSE 'keep' END AS op
       FROM b FULL JOIN d
         ON b.user_id = d.user_id AND b.event_type = d.event_type""",
    tags=("pipeline", "upsert", "merge", "headline"),
    doc="SCD-1 merge/upsert (latest-wins): a base snapshot (event_id%5<>0) "
    "merged with a delta batch (event_id%5=0) keyed on (user_id, "
    "event_type); the delta's latest row overrides the base's, and each "
    "output row is labeled update/insert/keep — the core of incremental "
    "corpus/state maintenance. The Spark plan is ONE shuffle: a single "
    "hash aggregate per key taking max(struct(ts_us, event_id, value)) "
    "conditionally over each side (struct ordering ≙ the oracle's ORDER "
    "BY ts DESC, event_id DESC tie-break; event_id uniqueness means the "
    "trailing value field never decides) — no windows, no join, no "
    "second shuffle, and at 100 TB it is exactly the partial-agg-"
    "pushdown merge pattern (map-side combine collapses each partition "
    "to ≤ keys rows before the exchange)",
)
def p2_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = F.struct(
        F.unix_micros("ts").alias("ts_us"),
        F.col("event_id").alias("event_id"),
        F.col("value").alias("value"),
    )
    is_delta = F.col("event_id") % 5 == 0
    g = ev.groupBy("user_id", "event_type").agg(
        F.max(F.when(is_delta, s)).alias("d"),
        F.max(F.when(~is_delta, s)).alias("b"),
    )
    latest = F.coalesce("d", "b")
    return g.select(
        "user_id",
        "event_type",
        latest["event_id"].alias("latest_event_id"),
        latest["ts_us"].alias("latest_ts_us"),
        latest["value"].alias("latest_value"),
        F.when(F.col("d").isNotNull() & F.col("b").isNotNull(), "update")
        .when(F.col("d").isNotNull(), "insert")
        .otherwise("keep")
        .alias("op"),
    )


@register(
    "p3_scd2_intervals",
    """SELECT user_id, event_id, value,
              epoch_us(CAST(ts AS TIMESTAMP)) AS valid_from_us,
              LEAD(epoch_us(CAST(ts AS TIMESTAMP)))
                OVER (PARTITION BY user_id
                      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS valid_to_us
       FROM events""",
    tags=("pipeline", "scd2", "upsert", "headline"),
    doc="SCD-2 history build: each user's event stream becomes versioned "
    "rows with [valid_from, valid_to) intervals — valid_to is the next "
    "version's timestamp (event_id tie-break), NULL marks the current row. "
    "The complement of p2's SCD-1 latest-wins merge: ONE shuffle (the "
    "user_id window partitioning), per-row state is a single lead() "
    "lookahead within the sorted partition — no self-join against the "
    "history, which is what makes the dimension rebuild feasible when "
    "the change stream is 100 TB",
)
def p3_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        "value",
        F.unix_micros("ts").alias("valid_from_us"),
        F.lead(F.unix_micros("ts")).over(w).alias("valid_to_us"),
    )


# sm3's cross-engine hash-mod split expression (semistructured.py) — one
# source of truth for split membership on the SQL side
from .semistructured import _HASH_MOD as _SQL_HASH_MOD  # noqa: E402


@register(
    "pipe2_ingest_gate",
    f"""WITH corpus AS (
         SELECT doc_id, lang, text, n_chars FROM documents
         UNION ALL
         SELECT doc_id + {_DUP_OFFSET} AS doc_id, lang, text, n_chars FROM documents
         WHERE doc_id % 10 = 0
       ), scored AS (
         SELECT doc_id, lang, n_chars, md5(lower(trim(text))) AS fp,
                {_SQL_QUALITY} AS quality
         FROM corpus
       ), kept AS (
         SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS canonical
         FROM scored
         WHERE quality >= 0.5 AND lang IN ('en','es','de','fr')
       ), adm AS (
         SELECT *, CASE WHEN {_SQL_HASH_MOD} < 90 THEN 'train'
                        WHEN {_SQL_HASH_MOD} < 95 THEN 'val'
                        ELSE 'test' END AS split
         FROM kept WHERE doc_id = canonical
       )
       SELECT split, lang, COUNT(*) AS n_admitted,
              CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
              MIN(quality) AS min_quality, MAX(quality) AS max_quality
       FROM adm GROUP BY split, lang""",
    tags=("pipeline", "text", "dedup", "split", "headline"),
    doc="End-to-end training-data ADMISSION gate: quality threshold → "
    "language allowlist → exact-dedup canonical selection → leakage-safe "
    "hash split → per-(split, lang) admission audit, all one declarative "
    "plan. Catalyst fuses the score+filters into the scan; the only wide "
    "ops are the fingerprint window and the final 15-key aggregate. The "
    "audit uses order-independent stats only (counts, exact integer char "
    "sums, min/max of the 6dp quality) so the verdict is hash-exact — "
    "never a float sum over admitted rows. This is the composition a "
    "100 TB ingest actually runs nightly; every stage is the catalog's "
    "individually-verified operator (t2/t3 gate, d1 dedup, sm3 split)",
)
def pipe2_ingest_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text", "n_chars")
    dups = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + _DUP_OFFSET).alias("doc_id"), "lang", "text", "n_chars"
    )
    corpus = docs.unionByName(dups)
    scored = corpus.select(
        "doc_id",
        "lang",
        "n_chars",
        F.md5(F.lower(F.trim("text"))).alias("fp"),
        quality_score("text").alias("quality"),
    )
    kept = scored.where(
        (F.col("quality") >= 0.5) & F.col("lang").isin("en", "es", "de", "fr")
    ).withColumn("canonical", F.min("doc_id").over(Window.partitionBy("fp")))
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    ) % 100
    split = F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    return (
        kept.where(F.col("doc_id") == F.col("canonical"))
        .select(split.alias("split"), "lang", "n_chars", "quality")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_admitted"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("quality").alias("min_quality"),
            F.max("quality").alias("max_quality"),
        )
    )


# shared with plans/streaming.py: st10's stateful streaming CDC apply
# must satisfy the exact same oracle as this batch form (the e1/e3
# batch-twin discipline)
P4_CDC_SQL = """WITH c AS (
         SELECT user_id, event_type, event_id, value,
                epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                (event_id % 10 = 9) AS is_del
         FROM events
       ), r AS (
         SELECT *,
                ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts_us DESC, event_id DESC) AS rn,
                COUNT(*) OVER (PARTITION BY user_id, event_type) AS n_ops,
                SUM(CASE WHEN is_del THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id, event_type) AS n_deletes
         FROM c)
       SELECT user_id, event_type,
              event_id AS live_event_id,
              ts_us AS live_ts_us,
              value AS live_value,
              CAST(n_ops AS BIGINT) AS n_ops,
              CAST(n_deletes AS BIGINT) AS n_deletes
       FROM r WHERE rn = 1 AND NOT is_del"""


@register(
    "p4_cdc_apply",
    P4_CDC_SQL,
    tags=("pipeline", "cdc", "merge", "upsert"),
    doc="CDC changelog apply with DELETE tombstones: the event stream is "
    "an ordered op log per (user_id, event_type) key (event_id%10=9 "
    "marks deletes, the rest upserts); the materialized table is the "
    "LAST op per key — absent if that op is a delete, resurrected if an "
    "upsert follows a delete — plus op/delete audit counts. Extends "
    "p2's SCD-1 merge with the delete/resurrection semantics a real "
    "change-data feed has. Spark plan is ONE shuffle: a single hash "
    "aggregate taking max(struct(ts_us, event_id, is_del, value)) — the "
    "struct order ≙ the oracle's ts DESC, event_id DESC (event_id "
    "uniqueness totalizes it) — then a post-agg tombstone filter; "
    "map-side partial agg collapses each partition to ≤ keys rows "
    "before the exchange, the MERGE-INTO shape that survives 100 TB",
)
def p4_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    is_del = F.col("event_id") % 10 == 9
    st = F.struct(
        F.unix_micros("ts").alias("ts_us"),
        F.col("event_id").alias("event_id"),
        is_del.alias("is_del"),
        F.col("value").alias("value"),
    )
    g = ev.groupBy("user_id", "event_type").agg(
        F.max(st).alias("last"),
        F.count(F.lit(1)).alias("n_ops"),
        F.sum(F.when(is_del, 1).otherwise(0)).cast("bigint").alias("n_deletes"),
    )
    return g.where(~F.col("last.is_del")).select(
        "user_id",
        "event_type",
        F.col("last.event_id").alias("live_event_id"),
        F.col("last.ts_us").alias("live_ts_us"),
        F.col("last.value").alias("live_value"),
        "n_ops",
        "n_deletes",
    )


@register(
    "pipe3_dataset_card",
    f"""WITH base AS (
         SELECT lang,
                md5(lower(trim(text))) AS fp,
                len({_SQL_TOKENS}) AS n_tok,
                {_SQL_QUALITY} AS quality
         FROM documents
       ), dup AS (
         SELECT lang, fp, COUNT(*) AS copies FROM base GROUP BY lang, fp
       )
       SELECT 'n_docs' AS metric, lang AS scope, COUNT(*)::BIGINT AS value
       FROM base GROUP BY lang
       UNION ALL
       SELECT 'n_tokens', lang, CAST(SUM(n_tok) AS BIGINT) FROM base GROUP BY lang
       UNION ALL
       SELECT 'n_dup_docs', lang, CAST(SUM(CASE WHEN copies > 1 THEN copies ELSE 0 END) AS BIGINT)
       FROM dup GROUP BY lang
       UNION ALL
       SELECT 'n_quality_pass', lang,
              SUM(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END)::BIGINT
       FROM base GROUP BY lang""",
    tags=("pipeline", "audit", "dataset-card", "headline"),
    doc="Dataset-card audit — the per-language release sheet an LLM "
    "data drop ships with: document counts, whitespace-token totals, "
    "documents involved in exact-duplicate groups, and quality-gate "
    "pass counts, emitted as long-format (metric, scope, value) rows "
    "so downstream cards append new metrics without schema changes. "
    "One pass computes fingerprint/tokens/quality per doc (Catalyst "
    "fuses all three into the scan), then four small aggregates reuse "
    "it; the dup metric counts MEMBERS of multi-copy fingerprint "
    "groups (copies>1), matching what a dedup pass would touch. All "
    "integer outputs — hash-exact by construction",
)
def pipe3_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import quality_score, token_count

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "lang",
        F.md5(F.lower(F.trim(F.col("text")))).alias("fp"),
        token_count("text").alias("n_tok"),
        quality_score("text").alias("quality"),
    )
    dup = base.groupBy("lang", "fp").agg(F.count(F.lit(1)).alias("copies"))

    def metric(name, df):
        return df.select(F.lit(name).alias("metric"), F.col("scope"), F.col("value"))

    n_docs = base.groupBy(F.col("lang").alias("scope")).agg(
        F.count(F.lit(1)).cast("bigint").alias("value")
    )
    n_tokens = base.groupBy(F.col("lang").alias("scope")).agg(
        F.sum("n_tok").cast("bigint").alias("value")
    )
    n_dup = dup.groupBy(F.col("lang").alias("scope")).agg(
        F.sum(F.when(F.col("copies") > 1, F.col("copies")).otherwise(0))
        .cast("bigint")
        .alias("value")
    )
    n_q = base.groupBy(F.col("lang").alias("scope")).agg(
        F.sum(F.when(F.col("quality") >= 0.5, 1).otherwise(0)).cast("bigint").alias("value")
    )
    return (
        metric("n_docs", n_docs)
        .unionByName(metric("n_tokens", n_tokens))
        .unionByName(metric("n_dup_docs", n_dup))
        .unionByName(metric("n_quality_pass", n_q))
    )


_P5_DATES = ("2024-01-05", "2024-01-06")


@register(
    "p5_partitioned_sink_audit",
    f"""SELECT CAST(ts AS DATE) AS event_date,
              COUNT(*) AS n_rows,
              CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
              COUNT(DISTINCT user_id) AS n_users
       FROM events
       WHERE ({' OR '.join(f"CAST(ts AS DATE) = DATE '{d}'" for d in _P5_DATES)})
       GROUP BY 1""",
    tags=("sink", "partitioning", "layout"),
    doc="Partitioned-sink round-trip: events are WRITTEN as a date-"
    "partitioned parquet layout (write.partitionBy — the K-family sink "
    "shape every time-partitioned fact table uses), then read back "
    "with a two-date partition filter; the audit aggregate must equal "
    "the same filter over the ORIGINAL unpartitioned parquet (the x4 "
    "source-fidelity discipline, applied to the sink). The read plan "
    "prunes to 2 of ~30 date directories — PartitionFilters, zero "
    "rows from other dates ever read — asserted at plan level in "
    "tests/test_r7_ops.py. At 100 TB this layout is what makes "
    "time-scoped reprocessing O(days touched), not O(corpus)",
)
def p5_partitioned_sink_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.writers import stage_partitioned_events

    path = stage_partitioned_events(spark, sf_dir)
    ev = read_parquet(spark, path)
    dates = [F.lit(d).cast("date") for d in _P5_DATES]
    return (
        ev.where(F.col("event_date").isin(*dates))
        .groupBy(F.col("event_date"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


_P6_SHARDS = 16


def _p6_shard_audit(batches):
    """One pass per range shard: row count, (ts, event_id) extremes, and
    the count of SORT violations — consecutive rows where the key does
    not strictly increase (event_id is unique, so `<=` on ties is a
    violation). State carries across Arrow batches within the shard."""
    import numpy as np
    import pandas as pd

    n = viol = 0
    mn = mx = None  # (t, eid) tuples
    last = None
    for pdf in batches:
        if not len(pdf):
            continue
        t = pdf["t"].to_numpy(dtype="int64")
        e = pdf["event_id"].to_numpy(dtype="int64")
        n += len(t)
        bad = (t[1:] < t[:-1]) | ((t[1:] == t[:-1]) & (e[1:] <= e[:-1]))
        viol += int(np.count_nonzero(bad))
        if last is not None and (t[0], e[0]) <= last:
            viol += 1
        first = (int(t[0]), int(e[0]))
        last = (int(t[-1]), int(e[-1]))
        mn = first if mn is None or first < mn else mn
        mx = last if mx is None or last > mx else mx
    if n:
        yield pd.DataFrame(
            [
                {
                    "n_rows": n,
                    "n_viol": viol,
                    "min_t": mn[0],
                    "min_eid": mn[1],
                    "max_t": mx[0],
                    "max_eid": mx[1],
                }
            ]
        )


@register(
    "p6_range_sharded_export",
    f"""SELECT LEAST({_P6_SHARDS}, COUNT(*)) AS n_shards,
              COUNT(*) AS n_rows,
              0 AS n_sort_violations,
              0 AS n_range_overlaps,
              MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS min_ts_us,
              MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS max_ts_us
       FROM events WHERE ts IS NOT NULL""",
    tags=("sink", "layout", "global-sort", "mapInPandas"),
    doc="Globally-sorted sharded export + self-audit — the layout a "
    "time-ordered training export (curriculum order, event replay, "
    "range-prunable runs) actually ships: repartitionByRange over "
    f"(ts, event_id) into {_P6_SHARDS} contiguous key ranges, "
    "sortWithinPartitions inside each — Spark's scalable two-phase "
    "global sort (sampled range boundaries, NO single-reducer sort). "
    "One mapInPandas pass then audits the PHYSICAL layout per shard "
    "(row count, key extremes, strict-monotonicity violations across "
    "Arrow-batch boundaries), and a 16-row window checks shard ranges "
    "are pairwise disjoint. Sampled boundaries make per-shard counts "
    "run-dependent, so the emitted audit collapses to the "
    "deterministic invariants: shard count = LEAST(16, n_rows) — with "
    "unique (ts, event_id) keys and small inputs fully sampled, the "
    "RangePartitioner provably creates one shard per distinct key up "
    "to the target (probed 2..100; the hypothesis test asserts it) — "
    "total rows (conservation), "
    "ZERO sort violations, ZERO range overlaps, and the global key "
    "extremes — which is exactly what the oracle can pin. A broken "
    "writer (skipped sort, overlapping boundaries) fails the hash "
    "gate; tests/test_r8_ops.py proves the negative case trips it",
)
def p6_range_sharded_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select(F.unix_micros("ts").alias("t"), "event_id")
    )
    sharded = ev.repartitionByRange(_P6_SHARDS, "t", "event_id").sortWithinPartitions(
        "t", "event_id"
    )
    per_shard = sharded.mapInPandas(
        _p6_shard_audit,
        schema="n_rows long, n_viol long, min_t long, min_eid long, max_t long, max_eid long",
    )
    w = Window.orderBy("min_t", "min_eid")  # 16 audit rows — driver-scale window
    prev_max = F.lag(F.struct("max_t", "max_eid")).over(w)
    flagged = per_shard.withColumn(
        "overlap",
        F.when(
            prev_max.isNotNull()
            & (prev_max >= F.struct(F.col("min_t"), F.col("min_eid"))),
            1,
        ).otherwise(0),
    )
    return flagged.agg(
        F.count(F.lit(1)).cast("int").alias("n_shards"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.sum("n_viol").cast("bigint").alias("n_sort_violations"),
        F.sum("overlap").cast("bigint").alias("n_range_overlaps"),
        F.min("min_t").alias("min_ts_us"),
        F.max("max_t").alias("max_ts_us"),
    )


_P7_BUCKETS = 24
_P7_BINS = 6


@register(
    "p7_compaction_plan",
    f"""WITH b AS (
         SELECT CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
                    % {_P7_BUCKETS} AS bucket
         FROM events),
       c AS (SELECT bucket, COUNT(*) AS n FROM b GROUP BY bucket),
       t AS (SELECT CAST(CEIL(SUM(n) / {_P7_BINS}.0) AS BIGINT) AS budget FROM c),
       r AS (
         SELECT bucket, n, budget,
                COALESCE(SUM(n) OVER (ORDER BY bucket
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS cum_before
         FROM c, t)
       SELECT CAST(FLOOR(cum_before / budget) AS BIGINT) AS bin_id,
              COUNT(*) AS n_buckets,
              CAST(COUNT(*) AS BIGINT) AS n_files,
              CAST(SUM(n) AS BIGINT) AS n_rows
       FROM r GROUP BY 1""",
    tags=("layout", "compaction", "metadata", "sink"),
    doc="Small-file compaction planning over a REAL physical layout: "
    f"events staged as {_P7_BUCKETS} md5-bucket directories (one part "
    "file each — sources/writers.stage_bucketed_events), read back "
    "through the parquet source's ``_metadata.file_name`` column, and "
    "planned into target-size compaction bins (m5's fixed-boundary "
    "binning: bin = floor(rows_before / budget), budget = total/6 "
    "computed in-plan and broadcast). n_files comes from the ACTUAL "
    "file listing — if the writer ever fragments a bucket into >1 file "
    "the Spark count diverges from the oracle's one-file-per-bucket "
    "expectation and the hash gate trips: the audit IS the invariant. "
    "The maintenance shape every streaming-ingest table needs at "
    "100 TB (compact small files before they kill the scan); listing "
    "and counts stay distributed — no driver-side file walking",
)
def p7_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.writers import stage_bucketed_events

    path = stage_bucketed_events(spark, sf_dir, _P7_BUCKETS)
    df = read_parquet(spark, path).select(
        "bucket", F.col("_metadata.file_name").alias("fname")
    )
    per_bucket = df.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("fname").alias("n_files"),
    )
    budget = per_bucket.agg(
        F.ceil(F.sum("n") / float(_P7_BINS)).cast("bigint").alias("budget")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    planned = (
        per_bucket.crossJoin(F.broadcast(budget))
        .withColumn("cum_before", F.coalesce(F.sum("n").over(w), F.lit(0)))
        .withColumn("bin_id", F.floor(F.col("cum_before") / F.col("budget")))
    )
    return planned.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("n_files").cast("bigint").alias("n_files"),
        F.sum("n").cast("bigint").alias("n_rows"),
    )


# v5's full oracle SQL — d17 clusters exactly the near-dup pairs v5
# emits, the d8-over-d5 pattern applied to the EMBEDDING near-dup graph.
# v5 stays imported at module top (python workers re-import this module
# to unpickle p6's mapInPandas function; without the import the registry
# is empty there — caught by the r8 full sweep), but the SQL lookup is
# routed through this function so it no longer depends on
# _load_all_plans ORDERING either (r8 verdict residual-nit c): the
# local import re-registers v5 on demand if this module is ever loaded
# first in a fresh process.
def _sql_v5_pairs() -> str:
    from . import similarity  # noqa: F401 — guarantees v5 is registered

    return REGISTRY["v5_lsh_bucketed_neardup"].sql


_SQL_V5_PAIRS = _sql_v5_pairs()


@register(
    "d17_semantic_dedup",
    f"""WITH RECURSIVE
        pairs AS (SELECT vec_a, vec_b FROM ({_SQL_V5_PAIRS})),
        edges AS (SELECT vec_a AS src, vec_b AS dst FROM pairs
                  UNION
                  SELECT vec_b AS src, vec_a AS dst FROM pairs),
        reach(src, dst) AS (
          SELECT src, src FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst),
        comp AS (SELECT src AS vec_id, MIN(dst) AS rep FROM reach GROUP BY src)
        SELECT rep AS canonical_vec_id,
               COUNT(*) AS n_members,
               COUNT(*) - 1 AS n_removed,
               CAST(MAX(vec_id) AS BIGINT) AS max_member_id
        FROM comp GROUP BY rep""",
    tags=("dedup", "semantic", "clustering", "similarity"),
    doc="SEMANTIC dedup keep-list — the embedding-space endgame d8 "
    "performs for text: v5's hyperplane-LSH near-dup pairs (cosine "
    ">= 0.4 within sign buckets) become clusters via the alternating "
    "large-star/small-star connected components (O(log n) rounds), and "
    "each cluster keeps its minimum vec_id as canonical — the removal "
    "manifest (canonical, member count, how many rows a dedup pass "
    "drops) a curation pipeline consumes. Pairs with transitive "
    "near-duplicity collapse into ONE cluster even when the endpoints "
    "themselves aren't pairwise similar — exactly why pair output "
    "alone (v4-v6) can't drive deletion. Oracle: the same pair SQL fed "
    "through a recursive label-reachability CTE (d8's pattern) — "
    "min-reachable-label ≡ component minimum. Scale: LSH bounds the "
    "pair generation, star-alternation bounds the rounds; no stage "
    "ever touches all-pairs",
)
def d17_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = v5_lsh_bucketed_neardup(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    comp = connected_components(pairs)
    return comp.groupBy(F.col("rep").alias("canonical_vec_id")).agg(
        F.count(F.lit(1)).alias("n_members"),
        (F.count(F.lit(1)) - 1).cast("bigint").alias("n_removed"),
        F.max("doc_id").cast("bigint").alias("max_member_id"),
    )


# ---------------------------------------------------------------------------
# p8: multi-column layout clustering (Z-order) vs 1-D range sharding
# ---------------------------------------------------------------------------

_P8_SQL_EV = """SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t, user_id
                FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL"""
_P8_SQL_Z16 = (
    "list_sum(list_transform(range(0, 8), i -> "
    "((bx >> i) & 1) * (1 << (2*i)) + ((by >> i) & 1) * (1 << (2*i + 1))))"
)


def _p8_per_file_audit(spark: SparkSession, sf_dir: str, layout: str) -> DataFrame:
    """Per-FILE extents of a staged layout, read back through the parquet
    source's ``_metadata.file_name`` — the audit sees what a min/max-
    pruning scanner would see, not what the planner intended. ``n_parts``
    pins the one-file-per-directory invariant (p7 discipline: a
    fragmenting writer changes the count and trips the hash gate)."""
    from ..sources.writers import stage_zorder_events

    path = stage_zorder_events(spark, sf_dir, layout=layout)
    df = read_parquet(spark, path).select(
        "t", "user_id", "zfile", F.col("_metadata.file_name").alias("fname")
    )
    return df.groupBy("zfile").agg(
        F.countDistinct("fname").alias("n_parts"),
        F.count(F.lit(1)).alias("n_rows"),
        F.min("t").alias("fmin_t"),
        F.max("t").alias("fmax_t"),
        F.min("user_id").alias("fmin_u"),
        F.max("user_id").alias("fmax_u"),
    ).withColumn("layout", F.lit(layout))


@register(
    "p8_zorder_layout",
    f"""WITH ev AS MATERIALIZED ({_P8_SQL_EV}),
        ext AS (SELECT MIN(t) AS min_t, MAX(t) AS max_t,
                       MIN(user_id) AS min_u, MAX(user_id) AS max_u FROM ev),
        b AS MATERIALIZED (
          SELECT t, user_id,
                 CAST((t - min_t) * 256 // (max_t - min_t + 1) AS INT) AS bx,
                 CAST((user_id - min_u) * 256 // (max_u - min_u + 1) AS INT) AS by
          FROM ev, ext),
        assigned AS MATERIALIZED (
          SELECT 'zorder' AS layout, ({_P8_SQL_Z16}) >> 12 AS zfile, t, user_id FROM b
          UNION ALL
          SELECT 'linear', bx >> 4, t, user_id FROM b),
        f AS MATERIALIZED (
          SELECT layout, zfile, COUNT(*) AS n_rows,
                 MIN(t) AS fmin_t, MAX(t) AS fmax_t,
                 MIN(user_id) AS fmin_u, MAX(user_id) AS fmax_u
          FROM assigned GROUP BY layout, zfile),
        box AS (SELECT min_t + (max_t - min_t) * 2 // 5 AS lo_t,
                       min_t + (max_t - min_t) * 3 // 5 AS hi_t,
                       min_u + (max_u - min_u) * 2 // 5 AS lo_u,
                       min_u + (max_u - min_u) * 3 // 5 AS hi_u
                FROM ext),
        preds(predicate, use_t, use_u) AS (
          VALUES ('t_box', 1, 0), ('u_box', 0, 1), ('both', 1, 1))
        SELECT layout, predicate,
               COUNT(*) AS n_files,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(CASE WHEN (use_t = 1 AND (fmax_t < lo_t OR fmin_t > hi_t))
                          OR (use_u = 1 AND (fmax_u < lo_u OR fmin_u > hi_u))
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped_files,
               CAST(SUM(CASE WHEN (use_t = 1 AND (fmax_t < lo_t OR fmin_t > hi_t))
                          OR (use_u = 1 AND (fmax_u < lo_u OR fmin_u > hi_u))
                        THEN n_rows ELSE 0 END) AS BIGINT) AS n_rows_skipped,
               CAST(SUM(n_rows) AS BIGINT) AS n_rows_total
        FROM f, box, preds
        GROUP BY layout, predicate""",
    tags=("layout", "zorder", "metadata", "pruning"),
    doc="Multi-column layout clustering: the same events staged under a "
    "Z-ORDER layout (16 files = top-4 bits of the Morton value over the "
    "256-bin (ts, user_id) grid → a 4×4 tiling of both dims) and under "
    "p6-style 1-D time sharding, then a per-file min/max audit (read "
    "back through `_metadata.file_name`, i.e. what a pruning scanner "
    "sees) grades FILE-SKIPPING for three canonical predicates: the "
    "central 20% range of t, of user_id, and their conjunction. "
    "Expected physics, which the oracle pins: the linear layout prunes "
    "t-predicates harder (its whole key budget backs one dim) but ZERO "
    "files for u-only predicates; Z-order prunes BOTH dims at ~50-75%, "
    "which wins any mixed workload — the reason Delta/Iceberg OPTIMIZE "
    "ZORDER exists. Everything is integer-exact (bigint div binning, "
    "bit-interleave as a codegen'd Column expression) so DuckDB "
    "reassigns rows analytically; the physical 1:1 file-per-directory "
    "invariant rides in n_parts. Scale: staging is one repartition on "
    "the file key (the real table-maintenance write), audits are "
    "map-side min/max per file — no row ever leaves its scan partition.",
)
def p8_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    audit = _p8_per_file_audit(spark, sf_dir, "zorder").unionByName(
        _p8_per_file_audit(spark, sf_dir, "linear")
    )
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(F.unix_micros("ts").alias("t"), "user_id")
    )
    box = ev.agg(
        F.min("t").alias("min_t"),
        F.max("t").alias("max_t"),
        F.min("user_id").alias("min_u"),
        F.max("user_id").alias("max_u"),
    ).select(
        F.expr("min_t + (max_t - min_t) * 2 div 5").alias("lo_t"),
        F.expr("min_t + (max_t - min_t) * 3 div 5").alias("hi_t"),
        F.expr("min_u + (max_u - min_u) * 2 div 5").alias("lo_u"),
        F.expr("min_u + (max_u - min_u) * 3 div 5").alias("hi_u"),
    )
    preds = spark.createDataFrame(
        [("t_box", 1, 0), ("u_box", 0, 1), ("both", 1, 1)],
        "predicate string, use_t int, use_u int",
    )
    skip = (
        (F.col("use_t") == 1)
        & ((F.col("fmax_t") < F.col("lo_t")) | (F.col("fmin_t") > F.col("hi_t")))
    ) | (
        (F.col("use_u") == 1)
        & ((F.col("fmax_u") < F.col("lo_u")) | (F.col("fmin_u") > F.col("hi_u")))
    )
    return (
        audit.crossJoin(F.broadcast(box))
        .crossJoin(F.broadcast(preds))
        .groupBy("layout", "predicate")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_parts").cast("bigint").alias("n_parts"),
            F.sum(F.when(skip, 1).otherwise(0)).alias("n_skipped_files"),
            F.sum(F.when(skip, F.col("n_rows")).otherwise(0)).alias("n_rows_skipped"),
            F.sum("n_rows").alias("n_rows_total"),
        )
    )


# ---------------------------------------------------------------------------
# p9: per-file bloom-filter index — point-lookup file skipping on a
# high-cardinality column, the case min/max pruning (p6/p8) cannot serve
# ---------------------------------------------------------------------------

_P9_K = 3             # hash functions per key
_P9_BITS_PER_KEY = 16  # m = next pow2 >= 16·keys → ~17% fill, ~0.5% fpp


def _p9_sql_pos(key: str, j: str, m: str) -> str:
    return (
        f"CAST(('0x' || substr(md5({key} || ':' || {j}), 1, 8)) AS BIGINT) % {m}"
    )


@register(
    "p9_bloom_file_index",
    f"""WITH ev AS MATERIALIZED ({_P8_SQL_EV}),
        ext AS (SELECT MIN(t) AS min_t, MAX(t) AS max_t FROM ev),
        assigned AS MATERIALIZED (
          SELECT CAST((t - min_t) * 256 // (max_t - min_t + 1) AS INT) >> 4
                   AS zfile,
                 event_id
          FROM ev, ext),
        fm AS (
          SELECT zfile,
                 CAST(power(2, length(bin(COUNT(DISTINCT event_id)
                      * {_P9_BITS_PER_KEY} - 1))) AS BIGINT) AS m
          FROM assigned GROUP BY zfile),
        bloom AS MATERIALIZED (
          SELECT DISTINCT a.zfile,
                 {_p9_sql_pos('a.event_id', 'j', 'f.m')} AS pos
          FROM (SELECT DISTINCT zfile, event_id FROM assigned) a
          JOIN fm f USING (zfile)
          CROSS JOIN UNNEST(range(0, {_P9_K})) AS r(j)),
        probes AS (
          SELECT event_id AS probe_id, 1 AS present
          FROM (SELECT DISTINCT event_id FROM ev ORDER BY event_id LIMIT 4)
          UNION ALL
          SELECT mx + k, 0
          FROM (SELECT MAX(event_id) AS mx FROM ev),
               UNNEST(range(1, 5)) AS r(k)),
        ppos AS (
          SELECT p.probe_id, p.present, f.zfile,
                 COUNT(DISTINCT {_p9_sql_pos('p.probe_id', 'j', 'f.m')})
                   AS n_pos
          FROM probes p CROSS JOIN fm f
          CROSS JOIN UNNEST(range(0, {_P9_K})) AS r(j)
          GROUP BY p.probe_id, p.present, f.zfile),
        hits AS (
          SELECT pp.probe_id, pp.present, pp.zfile
          FROM ppos pp
          JOIN (SELECT DISTINCT p.probe_id, f.zfile,
                       {_p9_sql_pos('p.probe_id', 'j', 'f.m')} AS pos
                FROM probes p CROSS JOIN fm f
                CROSS JOIN UNNEST(range(0, {_P9_K})) AS r(j)) q
            ON q.probe_id = pp.probe_id AND q.zfile = pp.zfile
          JOIN bloom b ON b.zfile = q.zfile AND b.pos = q.pos
          GROUP BY pp.probe_id, pp.present, pp.zfile, pp.n_pos
          HAVING COUNT(DISTINCT b.pos) = pp.n_pos),
        actual AS (
          SELECT p.probe_id, a.zfile
          FROM probes p JOIN (SELECT DISTINCT zfile, event_id FROM assigned) a
            ON a.event_id = p.probe_id
          GROUP BY p.probe_id, a.zfile)
        SELECT p.probe_id, p.present,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM fm) AS n_files,
               CAST(COUNT(DISTINCT h.zfile) AS BIGINT) AS n_bloom_hits,
               CAST(COUNT(DISTINCT a.zfile) AS BIGINT) AS n_actual,
               CAST(COUNT(DISTINCT h.zfile) - COUNT(DISTINCT a.zfile) AS BIGINT)
                 AS n_false_pos
        FROM probes p
        LEFT JOIN hits h ON h.probe_id = p.probe_id
        LEFT JOIN actual a ON a.probe_id = p.probe_id
        GROUP BY p.probe_id, p.present""",
    tags=("layout", "bloom", "metadata", "pruning"),
    doc="Per-file bloom-filter indexing — the point-lookup file-skipping "
    "story min/max pruning cannot serve (p8 measured it: a 1-D time "
    "layout skips ZERO files for key predicates on other columns; "
    "Delta/Parquet ship bloom indexes for exactly this). Over the p6-"
    "style 16-file time-sharded layout (p8's staged linear fixture, "
    "read back through `_metadata.file_name`), each file gets a SIZE-"
    "ADAPTIVE bloom: m = next power of two ≥ 16·(distinct keys in that "
    "file) via the bin-length floor-log2 trick (t24) — ~17% fill and "
    "~0.5%% fpp at ANY scale, the numItems/fpp sizing Delta does; k=3 "
    "md5-derived positions, all integer, so the DuckDB oracle rebuilds "
    "every bloom bit analytically. The audit probes 4 present keys (the "
    "4 smallest event ids — each lives in exactly the files that hold "
    "it) and 4 absent keys (past max), reporting per probe: files a "
    "bloom-indexed scanner reads (n_bloom_hits), files that truly "
    "contain the key (n_actual), and false-positive reads — present "
    "probes must hit all their true files (blooms have NO false "
    "negatives, hash-pinned), absent probes measure the fpp directly. "
    "Plan: bloom build = one distinct + a 3-way position explode with "
    "map-side combine (the position-SET form is the auditable twin of "
    "d13's 64-bit-word bit_or bitset — production serializes words, "
    "the audit keeps rows); probe sides are 8×16 bounded broadcasts. "
    "At 100 TB the only data-sized stage is the per-file distinct.",
)
def p9_bloom_file_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.writers import stage_zorder_events

    path = stage_zorder_events(spark, sf_dir, layout="linear")
    staged = read_parquet(spark, path).select("zfile", "event_id")
    keys = staged.distinct()
    fm = keys.groupBy("zfile").agg(
        F.expr(
            f"CAST(power(2, length(bin(COUNT(DISTINCT event_id)"
            f" * {_P9_BITS_PER_KEY} - 1))) AS BIGINT)"
        ).alias("m")
    )

    def pos(key_col: str) -> Column:
        return F.expr(
            f"CAST(conv(substring(md5(CAST({key_col} AS STRING) || ':' ||"
            f" CAST(j AS STRING)), 1, 8), 16, 10) AS BIGINT) % m"
        )

    js = F.explode(F.sequence(F.lit(0), F.lit(_P9_K - 1))).alias("j")
    bloom = (
        keys.join(F.broadcast(fm), "zfile")
        .select("zfile", "event_id", "m", js)
        .select("zfile", pos("event_id").alias("pos"))
        .distinct()
    )
    ev = staged.select("event_id")
    present = ev.distinct().orderBy("event_id").limit(4).select(
        F.col("event_id").alias("probe_id"), F.lit(1).alias("present")
    )
    absent = (
        ev.agg(F.max("event_id").alias("mx"))
        .select(F.explode(F.sequence(F.lit(1), F.lit(4))).alias("k"), "mx")
        .select((F.col("mx") + F.col("k")).alias("probe_id"), F.lit(0).alias("present"))
    )
    probes = present.unionByName(absent)
    ppos = (
        probes.crossJoin(F.broadcast(fm))
        .select("probe_id", "present", "zfile", "m", js)
        .select("probe_id", "present", "zfile", pos("probe_id").alias("pos"))
        .distinct()
    )
    need = ppos.groupBy("probe_id", "present", "zfile").agg(
        F.count(F.lit(1)).alias("n_pos")
    )
    matched = (
        ppos.join(bloom, ["zfile", "pos"])
        .groupBy("probe_id", "zfile")
        .agg(F.count(F.lit(1)).alias("n_hit_pos"))
    )
    hits = (
        need.join(matched, ["probe_id", "zfile"])
        .where(F.col("n_hit_pos") == F.col("n_pos"))
        .select("probe_id", "zfile")
    )
    actual = keys.join(
        F.broadcast(probes.select(F.col("probe_id").alias("event_id"))), "event_id"
    ).select(F.col("event_id").alias("probe_id"), "zfile").distinct()
    n_files = fm.agg(F.count(F.lit(1)).alias("n_files"))
    return (
        probes.join(hits.groupBy("probe_id").agg(
            F.countDistinct("zfile").alias("n_bloom_hits")), "probe_id", "left")
        .join(actual.groupBy("probe_id").agg(
            F.countDistinct("zfile").alias("n_actual")), "probe_id", "left")
        .crossJoin(F.broadcast(n_files))
        .select(
            "probe_id",
            "present",
            F.col("n_files").cast("long").alias("n_files"),
            F.coalesce("n_bloom_hits", F.lit(0)).cast("long").alias("n_bloom_hits"),
            F.coalesce("n_actual", F.lit(0)).cast("long").alias("n_actual"),
            (F.coalesce("n_bloom_hits", F.lit(0)) - F.coalesce("n_actual", F.lit(0)))
            .cast("long")
            .alias("n_false_pos"),
        )
    )


# ---------------------------------------------------------------------------
# p10: small-file compaction EXECUTION — p7 plans bins; p10 rewrites the
# layout and audits the physical result (the OPTIMIZE counterpart to
# p5/p6/p8/p9's layout family)
# ---------------------------------------------------------------------------

_P10_BUCKETS = 16
_P10_BINS = 4


@register(
    "p10_compaction_exec",
    f"""WITH b AS (
         SELECT CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
                    % {_P10_BUCKETS} AS bucket
         FROM events),
       c AS (SELECT bucket, COUNT(*) AS n FROM b GROUP BY bucket),
       t AS (SELECT CAST(CEIL(SUM(n) / {_P10_BINS}.0) AS BIGINT) AS budget FROM c),
       r AS (
         SELECT bucket, n, budget,
                COALESCE(SUM(n) OVER (ORDER BY bucket
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS cum_before
         FROM c, t)
       SELECT CAST(bucket AS BIGINT) AS bucket,
              CAST(FLOOR(cum_before / budget) AS BIGINT) AS bin_id,
              CAST(n AS BIGINT) AS n_rows_src,
              CAST(1 AS BIGINT) AS n_src_files,
              CAST(n AS BIGINT) AS n_rows_compacted,
              CAST(1 AS BIGINT) AS n_bins_touched,
              CAST(1 AS BIGINT) AS n_out_files_bin,
              TRUE AS conserved
       FROM r""",
    tags=("layout", "compaction", "sink", "metadata", "headline"),
    doc="Small-file compaction EXECUTED and audited — the lakehouse "
    f"OPTIMIZE step: the {_P10_BUCKETS}-file md5-bucketed staging "
    f"(sources/writers.stage_bucketed_events) is bin-packed into "
    f"{_P10_BINS} compacted files by m5's next-fit rule (deterministic "
    "hash order, budget = ceil(total/bins), a straddling bucket stays "
    "in the bin where its running-row start falls) and each bin is "
    "REWRITTEN by one task: scan member files -> coalesce(1) -> write "
    "— coalesce only narrows, payload rows never shuffle (plan-level "
    "pin in tests/test_r10_ops.py). The audit reads BOTH physical "
    "layouts back through ``_metadata.file_name`` and emits, per "
    "source file: its bin, source vs compacted row counts, source and "
    "output file counts, bins touched, and the conservation verdict — "
    "the oracle predicts every column analytically (md5-mod bucket "
    "counts + next-fit replay + the 1:1 file invariants), so a lost "
    "row, a fragmented output, or a bucket split across bins flips the "
    "hash gate. At 100 TB this is the maintenance pass that keeps "
    "streaming-ingest tables scannable; the driver holds only the "
    f"{_P10_BUCKETS}-row packing plan, and each bin rewrite streams "
    "through one task without a shuffle.",
)
def p10_compaction_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.writers import compact_bucketed_layout, stage_bucketed_events

    staged = stage_bucketed_events(spark, sf_dir, _P10_BUCKETS)
    compacted = compact_bucketed_layout(spark, sf_dir, _P10_BUCKETS, _P10_BINS)
    src = read_parquet(spark, staged).select(
        "bucket", F.col("_metadata.file_name").alias("fname")
    )
    per_src = src.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows_src"),
        F.countDistinct("fname").alias("n_src_files"),
    )
    comp = read_parquet(spark, compacted).select(
        "bin", "bucket", F.col("_metadata.file_name").alias("fname")
    )
    per_comp = comp.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows_compacted"),
        F.countDistinct("bin").alias("n_bins_touched"),
        F.max("bin").cast("bigint").alias("bin_id"),
    )
    per_bin_files = comp.groupBy(F.col("bin").cast("bigint").alias("bin_id")).agg(
        F.countDistinct("fname").alias("n_out_files_bin")
    )
    return (
        per_src.join(per_comp, "bucket")
        .join(per_bin_files, "bin_id")
        .select(
            F.col("bucket").cast("bigint").alias("bucket"),
            "bin_id",
            F.col("n_rows_src").cast("bigint").alias("n_rows_src"),
            F.col("n_src_files").cast("bigint").alias("n_src_files"),
            F.col("n_rows_compacted").cast("bigint").alias("n_rows_compacted"),
            F.col("n_bins_touched").cast("bigint").alias("n_bins_touched"),
            F.col("n_out_files_bin").cast("bigint").alias("n_out_files_bin"),
            (F.col("n_rows_src") == F.col("n_rows_compacted")).alias("conserved"),
        )
    )


# ---------------------------------------------------------------------------
# d21: SemDeDup-style embedding-cluster semantic dedup (Abbas et al. 2023,
# "SemDeDup"; the D4 recipe) — cluster the corpus into IVF cells, find
# semantic near-dups ONLY within a cell, keep one doc per semantic
# cluster. Composes v7's centroid assignment, v4/v6's per-cell GEMM, and
# d8's component discipline — never all-pairs.
# ---------------------------------------------------------------------------

_D21_TAU = 0.4  # intra-cell cosine threshold. SemDeDup runs ~0.95+ on real
# CLIP/LM embeddings; the fixture's quantized synthetic vectors max out
# near 0.49 within a cell, so the catalog pins the pipeline at a
# threshold that exercises it (13 pairs at sf0.01) — the dial, not the
# plumbing, is corpus-specific.
_D21_GEMM_BLOCK = 4096  # same bounded-tile discipline as similarity._GEMM_BLOCK


def _d21_cell_pairs(pdf):
    """Within ONE IVF cell: pairs with cosine >= _D21_TAU via tiled BLAS
    matmuls (the _gemm_pairs kernel with d21's threshold). Exact: the
    quantized vectors are integer-valued float64, so every dot is the
    same exact integer whichever tile computes it; rounding stays out of
    python entirely (d21 never emits the cosine — only the pair)."""
    import numpy as np
    import pandas as pd

    v = np.stack(pdf["qv"].to_numpy())
    ids = pdf["vec_id"].to_numpy()
    n = len(ids)
    nrm = np.sqrt(np.einsum("ij,ij->i", v, v))
    out = []
    for i0 in range(0, n, _D21_GEMM_BLOCK):
        vi, ni, idi = (x[i0 : i0 + _D21_GEMM_BLOCK] for x in (v, nrm, ids))
        for j0 in range(i0, n, _D21_GEMM_BLOCK):
            cos = (vi @ v[j0 : j0 + _D21_GEMM_BLOCK].T) / np.outer(
                ni, nrm[j0 : j0 + _D21_GEMM_BLOCK]
            )
            keep = cos >= _D21_TAU
            if i0 == j0:
                keep &= ~np.tri(*cos.shape, k=0, dtype=bool)
            ii, jj = np.nonzero(keep)
            if not len(ii):
                continue
            a, b = idi[ii], ids[j0 + jj]
            out.append(
                pd.DataFrame({"vec_a": np.minimum(a, b), "vec_b": np.maximum(a, b)})
            )
    if not out:
        return pd.DataFrame(
            {"vec_a": pd.Series(dtype="int64"), "vec_b": pd.Series(dtype="int64")}
        )
    return pd.concat(out, ignore_index=True)


def _sql_d21() -> str:
    from .similarity import _SQL_EMB, _SQL_V7_DIST

    return f"""WITH RECURSIVE
        q AS ({_SQL_EMB}),
        cent AS (
          SELECT label AS cid, list(cv ORDER BY dim) AS cvec
          FROM (SELECT label, dim, ROUND(SUM(val) / COUNT(*)) AS cv
                FROM (SELECT label, generate_subscripts(qv, 1) - 1 AS dim,
                             unnest(qv) AS val
                      FROM q)
                GROUP BY label, dim)
          GROUP BY label),
        dists AS (
          SELECT a.vec_id, a.qv, c.cid, {_SQL_V7_DIST} AS dist
          FROM q a CROSS JOIN cent c),
        assign AS MATERIALIZED (
          SELECT vec_id, qv, cid FROM (
            SELECT vec_id, qv, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
            FROM dists) WHERE rn = 1),
        prs AS MATERIALIZED (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
          FROM assign a JOIN assign b
            ON a.cid = b.cid AND a.vec_id < b.vec_id
          WHERE list_dot_product(a.qv, b.qv)
                / (sqrt(list_dot_product(a.qv, a.qv))
                   * sqrt(list_dot_product(b.qv, b.qv))) >= {_D21_TAU}),
        edges AS (SELECT vec_a AS src, vec_b AS dst FROM prs
                  UNION
                  SELECT vec_b AS src, vec_a AS dst FROM prs),
        reach(src, dst) AS (
          SELECT src, src FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst),
        cc AS (SELECT src AS vec_id, MIN(dst) AS rep FROM reach GROUP BY src),
        m AS (
          SELECT a.vec_id, a.cid, COALESCE(cc.rep, a.vec_id) AS rep
          FROM assign a LEFT JOIN cc USING (vec_id)),
        sz AS (SELECT rep, COUNT(*) AS n FROM m GROUP BY rep)
        SELECT m.vec_id,
               CAST(m.cid AS INT) AS cid,
               CAST(m.rep AS BIGINT) AS rep,
               CAST(sz.n AS BIGINT) AS cluster_size,
               (m.vec_id = m.rep) AS keep
        FROM m JOIN sz ON sz.rep = m.rep"""


@register(
    "d21_semantic_dedup",
    _sql_d21(),
    tags=("dedup", "similarity", "clustering", "iterative"),
    doc="SemDeDup-style semantic dedup (Abbas et al. 2023; the D4 "
    "pipeline): v7's IVF centroid assignment buckets the corpus into "
    "cells (one deterministic Lloyd's step, k-row broadcast), semantic "
    "near-dup pairs (cosine >= 0.4 on the quantized vectors — exact "
    "integer dots, bit-identical cross-engine) are found ONLY within a "
    "cell by one tiled BLAS gram per cell (v4/v6's applyInPandas "
    "kernel, bounded-tile memory), pairs resolve to components via the "
    "d8 large-star/small-star fixpoint, and keep = (vec_id == rep) — "
    "one survivor per semantic cluster, min-id deterministic. The "
    "CELL-BOUNDED guarantee is structural: scoring runs inside "
    "groupBy(cid).applyInPandas, so a cross-cell pair can never be "
    "scored (pinned in tests/test_r11_ops.py with a cross-cell "
    "near-identical pair that must stay unclustered); the only "
    "corpus-sized shuffles are the assignment window and the cell "
    "partition. At 100 TB the cell count k is the dial that bounds the "
    "intra-cell quadratic (SemDeDup runs ~100k clusters); the oracle "
    "replays centroid -> assignment -> intra-cell pairs -> recursive "
    "closure -> keep verdicts end-to-end.",
)
def d21_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import _quantized, _with_norm

    emb = _with_norm(_quantized(spark, sf_dir))
    exploded = emb.select("label", F.posexplode("qv").alias("dim", "val"))
    cent = (
        exploded.groupBy("label", "dim")
        .agg(F.round(F.sum("val") / F.count(F.lit(1))).alias("cv"))
        .groupBy(F.col("label").alias("cid"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cv"))), lambda s: s["cv"]
            ).alias("cvec")
        )
    )
    from .similarity import _dot

    dist = (
        _dot(F.col("qv"), F.col("qv"))
        - 2 * _dot(F.col("qv"), F.col("cvec"))
        + _dot(F.col("cvec"), F.col("cvec"))
    )
    dists = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id", "qv", "cid", dist.alias("dist")
    )
    w_assign = Window.partitionBy("vec_id").orderBy("dist", "cid")
    assign = (
        dists.withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") == 1)
        .select("vec_id", "qv", "cid")
    )
    assign = assign.localCheckpoint()  # feeds the GEMM, the component
    # fixpoint's base edges AND the final join — one materialization
    pairs = assign.groupBy("cid").applyInPandas(
        _d21_cell_pairs, schema="vec_a long, vec_b long"
    )
    cc = connected_components(
        pairs.select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
    ).select(F.col("doc_id").alias("vec_id"), F.col("rep").alias("cc_rep"))
    m = assign.select("vec_id", "cid").join(cc, "vec_id", "left").select(
        "vec_id", "cid", F.coalesce("cc_rep", "vec_id").alias("rep")
    )
    sz = m.groupBy("rep").agg(F.count(F.lit(1)).alias("n"))
    return m.join(sz, "rep").select(
        "vec_id",
        F.col("cid").cast("int").alias("cid"),
        F.col("rep").cast("bigint").alias("rep"),
        F.col("n").cast("bigint").alias("cluster_size"),
        (F.col("vec_id") == F.col("rep")).alias("keep"),
    )


# ---------------------------------------------------------------------------
# p11: INCREMENTAL compaction — p10 rewrites the whole layout; production
# OPTIMIZE touches only the bins whose small-file count exceeds the
# budget and leaves the rest physically untouched.
# ---------------------------------------------------------------------------

_P11_BUCKETS = 16
_P11_MAX_FILES = 2  # buckets with MORE part files than this are rewritten


@register(
    "p11_incremental_compact",
    f"""WITH h AS (SELECT md5(CAST(event_id AS VARCHAR)) AS m FROM events),
       b AS (SELECT CAST(('0x' || substr(m, 1, 8)) AS BIGINT) % {_P11_BUCKETS}
                        AS bucket,
                    CAST(('0x' || substr(m, 9, 8)) AS BIGINT) AS fh
             FROM h),
       f AS (SELECT bucket, fh % (1 + bucket % 4) AS frag FROM b),
       c AS (SELECT bucket, COUNT(*) AS n_rows,
                    COUNT(DISTINCT frag) AS n_frags
             FROM f GROUP BY bucket)
       SELECT CAST(bucket AS BIGINT) AS bucket,
              CAST(n_frags AS BIGINT) AS n_files_before,
              CAST(n_rows AS BIGINT) AS n_rows_before,
              (n_frags > {_P11_MAX_FILES}) AS rewritten,
              CAST(CASE WHEN n_frags > {_P11_MAX_FILES} THEN 1 ELSE 0 END
                   AS BIGINT) AS n_files_out,
              CAST(n_rows AS BIGINT) AS n_rows_after,
              TRUE AS conserved
       FROM c""",
    tags=("layout", "compaction", "sink", "metadata", "headline"),
    doc="INCREMENTAL small-file compaction executed and audited — the "
    "production form of p10's full-layout OPTIMIZE: the fragmented "
    f"staging (sources/writers.stage_fragmented_events: bucket k holds "
    f"1 + k %% 4 part files by construction) is selectively rewritten — "
    f"ONLY buckets with more than {_P11_MAX_FILES} files (scan members "
    "-> coalesce(1) -> write, one task per bucket, payload rows never "
    "shuffle — the p10 no-Exchange discipline, pinned at plan level in "
    "tests/test_r11_ops.py); compliant buckets are NOT rewritten and "
    "the output layout contains ONLY the rewritten buckets (the "
    "add-file half of a Delta OPTIMIZE commit). The audit reads BOTH "
    "physical layouts back through ``_metadata.file_name`` and emits "
    "per bucket: before file/row counts, the rewritten verdict AS "
    "OBSERVED (n_files_out > 0 — a spurious rewrite of a compliant "
    "bucket or a skipped qualifying bucket flips the hash gate), "
    "output file count, after rows (rewritten buckets re-counted from "
    "the compacted files; untouched buckets from their original — "
    "still-serving — files) and conservation; the oracle predicts "
    "every column analytically from the two independent md5 windows "
    "(bucket membership, per-bucket fragment counts, the threshold "
    "rule, 1-file-per-rewrite, row conservation). At 100 TB this is "
    "the maintenance pass that runs every few minutes on a streaming "
    "table — touching only debris keeps its cost proportional to NEW "
    "small files, not table size; the driver holds only the "
    f"{_P11_BUCKETS}-row (bucket, n_files) metadata frame.",
)
def p11_incremental_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..sources.writers import (
        incremental_compact_fragments,
        stage_fragmented_events,
    )

    staged = stage_fragmented_events(spark, sf_dir, _P11_BUCKETS)
    compacted = incremental_compact_fragments(
        spark, sf_dir, _P11_BUCKETS, _P11_MAX_FILES
    )
    # file_path, not file_name: one task writing two leaf dirs reuses the
    # same part-file BASENAME in both (same partition id + job UUID)
    src = read_parquet(spark, staged).select(
        "bucket", F.col("_metadata.file_path").alias("fname")
    )
    per_src = src.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows_before"),
        F.countDistinct("fname").alias("n_files_before"),
    )
    if any(e.startswith("bucket=") for e in os.listdir(compacted)):
        out = spark.read.option("basePath", compacted).parquet(compacted).select(
            "bucket", F.col("_metadata.file_path").alias("fname")
        )
        per_out = out.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("n_rows_out"),
            F.countDistinct("fname").alias("n_files_out_raw"),
        )
    else:  # zero qualifying buckets — audit still runs (local-FS listing
        # stands in for the table commit log a lakehouse would consult)
        per_out = spark.createDataFrame(
            [], "bucket bigint, n_rows_out bigint, n_files_out_raw bigint"
        )
    n_files_out = F.coalesce("n_files_out_raw", F.lit(0))
    n_rows_after = F.coalesce("n_rows_out", F.col("n_rows_before"))
    return per_src.join(per_out, "bucket", "left").select(
        F.col("bucket").cast("bigint").alias("bucket"),
        F.col("n_files_before").cast("bigint").alias("n_files_before"),
        F.col("n_rows_before").cast("bigint").alias("n_rows_before"),
        (n_files_out > 0).alias("rewritten"),
        n_files_out.cast("bigint").alias("n_files_out"),
        n_rows_after.cast("bigint").alias("n_rows_after"),
        (n_rows_after == F.col("n_rows_before")).alias("conserved"),
    )


# ---------------------------------------------------------------------------
# sm11: cluster-balanced domain mixing — the D4 follow-up (Tirumala et al.
# 2023: dedup, THEN rebalance the semantic space). sm5/sm9 mix by the
# fixture's language column; d21 now emits semantic CELLS, and sm11
# apportions the post-dedup sampling budget across those cells with a
# temperature that flattens the head (dense cells are mostly redundancy).
# ---------------------------------------------------------------------------

_SM11_SCALE = 1_000_000  # micro-scaled budget: one survivor = 10^6 units.
# SCALE DIAL (the sm9 discipline): largest-remainder computes budget*s,
# and with one dominant cell that is ~1e9 * S^1.5 (budget = 1e6*S, s <=
# 1000*sqrt(S)) — BIGINT holds it up to ~4.4e6 survivors, NOT the budget
# term's own ~9e12. Past that drop the micro scale a factor of 1000
# (quantization loss is ppm of a cell's quota there). Both engines
# overflow LOUDLY, never wrap: DuckDB raises on BIGINT multiply, and the
# session runs Spark 4's default ANSI mode (spark.sql.ansi.enabled=true,
# verified), so Multiply uses multiplyExact and raises ARITHMETIC_OVERFLOW.


def _sql_sm11() -> str:
    return f"""WITH d21 AS MATERIALIZED (SELECT cid, keep FROM ({_sql_d21()})),
        per AS (
          SELECT cid, COUNT(*) AS n_members,
                 SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS n_surv
          FROM d21 GROUP BY cid),
        tot AS (SELECT CAST(SUM(n_surv) AS BIGINT) * {_SM11_SCALE} AS b FROM per),
        w AS (
          SELECT cid, n_members, n_surv,
                 CAST(FLOOR(SQRT(CAST(n_surv AS DOUBLE)) * 1000) AS BIGINT) AS s
          FROM per),
        sw AS (SELECT *, SUM(s) OVER () AS s_tot FROM w),
        q AS (SELECT cid, n_members, n_surv, s, b,
                     (b * s) // s_tot AS base,
                     (b * s) % s_tot AS rem
              FROM sw, tot),
        d AS (SELECT *,
                     b - SUM(base) OVER () AS deficit,
                     ROW_NUMBER() OVER (ORDER BY rem DESC, cid) AS rr
              FROM q)
        SELECT CAST(cid AS INT) AS cid,
               CAST(n_members AS BIGINT) AS n_members,
               CAST(n_surv AS BIGINT) AS n_survivors,
               CAST(s AS BIGINT) AS weight_milli,
               CAST(b AS BIGINT) AS budget_micro,
               CAST(base + CASE WHEN rr <= deficit THEN 1 ELSE 0 END AS BIGINT)
                   AS quota_micro
        FROM d"""


@register(
    "sm11_cluster_balanced_mix",
    _sql_sm11(),
    tags=("sampling", "mixing", "similarity", "clustering", "iterative"),
    doc="Cluster-balanced domain mixing (VERDICT r11 item 5) — the D4 "
    "recipe's second half (Tirumala et al. 2023: semantic dedup, THEN "
    "rebalance): d21's IVF cells carry the corpus's semantic domains, "
    "and the post-dedup sampling budget (10^6 micro-units per surviving "
    "doc, so the budget equals the deduped corpus mass exactly) is "
    "apportioned across cells by temperature-0.5 weights — milli-scaled "
    "floor(sqrt(survivors)*1000), sm9's nested-sqrt discipline (sqrt is "
    "IEEE-identical cross-engine; pow() is not) — via LARGEST-REMAINDER: "
    "base = (B*s) div s_tot, the deficit goes +1 to the largest "
    "(rem DESC, cid) ranks. CONSERVATION LAWS (pinned in "
    "tests/test_r12_ops.py): sum(quota_micro) == budget_micro EXACTLY, "
    "and budget_micro == 10^6 * sum(n_survivors) — integer "
    "apportionment, no drifting float shares. Every downstream stage "
    "after d21 operates on the k-row per-cell frame (k = the IVF "
    "parameter): one hash agg, then k-row windows (the sm9/a23 "
    "bounded-window discipline — the 'no partition' windows are k-sized, "
    "never corpus-sized). The oracle replays d21's full recursive "
    "pipeline, then the apportionment. At 100 TB the only corpus-sized "
    "work is d21's own audited shape; sm11 adds metadata-scale "
    "arithmetic.",
)
def sm11_cluster_balanced_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d21 = d21_semantic_dedup(spark, sf_dir).select("cid", "keep")
    per = d21.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_surv"),
    )
    tot = per.agg(
        (F.sum("n_surv").cast("bigint") * _SM11_SCALE).alias("b")
    )
    w = per.withColumn(
        "s", F.floor(F.sqrt(F.col("n_surv").cast("double")) * 1000).cast("bigint")
    )
    wall = Window.partitionBy()  # k-row frame: bounded by the IVF cell count
    sw = w.withColumn("s_tot", F.sum("s").over(wall))
    q = (
        sw.crossJoin(F.broadcast(tot))
        .withColumn("base", F.expr("(b * s) div s_tot"))
        .withColumn("rem", (F.col("b") * F.col("s")) % F.col("s_tot"))
    )
    d = q.withColumn("deficit", F.col("b") - F.sum("base").over(wall)).withColumn(
        "rr", F.row_number().over(Window.orderBy(F.desc("rem"), "cid"))
    )
    return d.select(
        F.col("cid").cast("int").alias("cid"),
        F.col("n_members").cast("bigint").alias("n_members"),
        F.col("n_surv").cast("bigint").alias("n_survivors"),
        F.col("s").cast("bigint").alias("weight_milli"),
        F.col("b").cast("bigint").alias("budget_micro"),
        (F.col("base") + F.when(F.col("rr") <= F.col("deficit"), 1).otherwise(0))
        .cast("bigint")
        .alias("quota_micro"),
    )


# ---------------------------------------------------------------------------
# pipe4: the END-TO-END curation funnel (VERDICT r11 item 2) — the gate
# set is complete (langid, Gopher rules, perplexity, exact + fuzzy dedup,
# dup-aware weights); pipe4 composes them into the ONE operator a real
# curation run executes, with per-stage attrition counts as the auditable
# output — the FineWeb/CCNet "funnel table". Each stage applies to the
# SURVIVORS of the previous one (the perplexity LM trains on the
# gate-survivor corpus, the dedup pair graph is restricted to the
# perplexity survivors), so the numbers are the real sequential-run
# numbers, not per-gate marginals.
# ---------------------------------------------------------------------------

_PIPE4_MASS = 1_000_000  # micro-units of sampling mass per document
_PIPE4_LANGS = ("en", "es", "de", "fr")


def _pipe4_lang_keep() -> Column:
    """t3_langid's marker-vote prediction lands in the allowed set — the
    CCNet front gate (docs whose language can't be identified, or is out
    of scope, drop first). Mirrors t3 expression-for-expression (kept
    inline there so t3's registered plan never drifts under a refactor —
    the t28/t19 label-duplication rationale; doc-for-doc equality with
    t3's lang_pred is pinned in tests/test_r12_ops.py)."""
    t = tokens("text")
    s = {
        lang: F.size(F.filter(t, lambda tok: tok.isin(*markers)))
        for lang, markers in _LANG_MARKERS.items()
    }
    pred = (
        F.when(s["en"] + s["es"] + s["de"] + s["fr"] + s["zh"] == 0, "und")
        .when((s["en"] >= s["es"]) & (s["en"] >= s["de"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["zh"]), "en")
        .when((s["es"] >= s["de"]) & (s["es"] >= s["fr"]) & (s["es"] >= s["zh"]), "es")
        .when((s["de"] >= s["fr"]) & (s["de"] >= s["zh"]), "de")
        .when(s["fr"] >= s["zh"], "fr")
        .otherwise("zh")
    )
    return pred.isin(*_PIPE4_LANGS)


def _sql_pipe4() -> str:
    lang_case = f"""CASE WHEN s_en + s_es + s_de + s_fr + s_zh = 0 THEN 'und'
             WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
             WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
             WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
             WHEN s_fr >= s_zh THEN 'fr'
             ELSE 'zh' END IN ({", ".join(f"'{lang}'" for lang in _PIPE4_LANGS)})"""
    gopher = f"""(len(w) BETWEEN 20 AND 100000)
          AND (CAST(list_aggregate(list_transform(w, x -> len(x)), 'sum') AS DOUBLE)
                   / len(w) BETWEEN 3.0 AND 10.0)
          AND (FLOOR(CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                   * 1000000.0 / len(w)) >= 800000)
          AND (len(list_filter(w, x -> lower(x) IN ({_SQL_STOP_LIST}))) >= 2)
          AND (len(list_filter(w, x -> regexp_matches(x, '^[^A-Za-z0-9]+$'))) * 10 <= len(w))"""
    stages = [
        ("0", "'ingest'", "n0", "n0", "n0"),
        ("1", "'langid'", "n0", "n1", "n1"),
        ("2", "'gopher_rules'", "n1", "n2", "n2"),
        ("3", "'perplexity'", "n2", "n3", "n3"),
        ("4", "'exact_dedup'", "n3", "n4", "n4"),
        ("5", "'fuzzy_dedup'", "n4", "n5", "n5"),
        ("6", "'dupaware_weights'", "n5", "n5", "n4"),
    ]
    rows = "\n        UNION ALL ".join(
        f"SELECT CAST({o} AS INT) AS stage_ord, {s} AS stage, "
        f"CAST({i} AS BIGINT) AS docs_in, CAST({u} AS BIGINT) AS docs_out, "
        f"CAST({i} - {u} AS BIGINT) AS dropped, "
        f"CAST({m} * {_PIPE4_MASS} AS BIGINT) AS mass_micro FROM n"
        for o, s, i, u, m in stages
    )
    return f"""WITH RECURSIVE
        corpus AS MATERIALIZED (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + {_DUP_OFFSET} AS doc_id, text FROM documents
          WHERE doc_id % 10 = 0),
        fl AS MATERIALIZED (
          SELECT doc_id,
                 {lang_case} AS lang_keep,
                 {gopher} AS gk,
                 md5(lower(trim(text))) AS fp
          FROM (SELECT doc_id, text, {_SQL_RAW_TOKENS} AS w,
                       {_sql_lang_score('en')} AS s_en,
                       {_sql_lang_score('es')} AS s_es,
                       {_sql_lang_score('de')} AS s_de,
                       {_sql_lang_score('fr')} AS s_fr,
                       {_sql_lang_score('zh')} AS s_zh
                FROM corpus)),
        s1 AS (SELECT doc_id, gk, fp FROM fl WHERE lang_keep),
        s2 AS MATERIALIZED (SELECT doc_id, fp FROM s1 WHERE gk),
        big AS (
          SELECT doc_id, w1, w2
          FROM (SELECT doc_id,
                       unnest(list_transform(range(1, len(t)),
                              i -> {{'w1': t[i], 'w2': t[i + 1]}}),
                              recursive := true)
                FROM (SELECT c.doc_id, {_SQL_TOKENS} AS t
                      FROM corpus c JOIN s2 USING (doc_id)))),
        bc AS (SELECT w1, w2, COUNT(*) AS cnt FROM big GROUP BY w1, w2),
        ctx AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS cc FROM bc GROUP BY w1),
        scored AS (
          SELECT b.doc_id,
                 length(bin(c.cc)) - length(bin(k.cnt)) AS bits
          FROM big b
          JOIN bc k ON b.w1 = k.w1 AND b.w2 = k.w2
          JOIN ctx c ON b.w1 = c.w1),
        perdoc AS MATERIALIZED (
          SELECT doc_id, COUNT(*) AS nb, CAST(SUM(bits) AS BIGINT) AS sb
          FROM scored GROUP BY doc_id),
        cm AS (SELECT (CAST(SUM(sb) AS BIGINT) * 1000000)
                      // CAST(SUM(nb) AS BIGINT) AS corpus_micro
               FROM perdoc),
        s3 AS MATERIALIZED (
          SELECT s2.doc_id, s2.fp
          FROM s2 JOIN perdoc p USING (doc_id), cm
          WHERE (p.sb * 1000000) // p.nb <= cm.corpus_micro),
        s4 AS MATERIALIZED (
          SELECT doc_id FROM (
            SELECT doc_id, MIN(doc_id) OVER (PARTITION BY fp) AS canon FROM s3)
          WHERE doc_id = canon),
        prs AS MATERIALIZED (
          SELECT doc_a, doc_b FROM ({_SQL_D5_PAIRS})
          WHERE doc_a IN (SELECT doc_id FROM s4)
            AND doc_b IN (SELECT doc_id FROM s4)),
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM prs
                  UNION
                  SELECT doc_b AS src, doc_a AS dst FROM prs),
        reach(src, dst) AS (
          SELECT src, src FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst),
        ccl AS (SELECT src AS doc_id, MIN(dst) AS rep FROM reach GROUP BY src),
        s5 AS (
          SELECT s4.doc_id FROM s4 LEFT JOIN ccl USING (doc_id)
          WHERE COALESCE(ccl.rep, s4.doc_id) = s4.doc_id),
        n AS (SELECT (SELECT COUNT(*) FROM corpus) AS n0,
                     (SELECT COUNT(*) FROM s1) AS n1,
                     (SELECT COUNT(*) FROM s2) AS n2,
                     (SELECT COUNT(*) FROM s3) AS n3,
                     (SELECT COUNT(*) FROM s4) AS n4,
                     (SELECT COUNT(*) FROM s5) AS n5)
        {rows}"""


@register(
    "pipe4_curation_funnel",
    _sql_pipe4(),
    tags=("pipeline", "curation", "funnel", "text", "dedup", "iterative"),
    doc="END-TO-END curation funnel — the flagship composition proving the "
    "gate set composes (VERDICT r11 item 2): raw corpus (with the "
    "deterministic dup re-insertions) → language-ID (t3's marker vote, "
    "prediction must land in the allowed set — the CCNet front gate) → "
    "Gopher rule gate (t19's conjunctive verdict, expression-identical) "
    "→ perplexity gate (t24's bigram-LM above-corpus-mean cut, the LM "
    "TRAINED ON THE GATE SURVIVORS — the CCNet ordering: quality-gate "
    "first, then score with a model of the surviving distribution) → "
    "exact dedup (fingerprint canonical-min) → fuzzy dedup (d5's LSH "
    "pair surface RESTRICTED to the survivor set — per-doc signatures "
    "make restriction ≡ rerunning LSH on the subset — resolved by the "
    "d8 star fixpoint, keep = component rep) → dup-aware weights (each "
    "surviving rep carries its cluster's mass, so the funnel ends with "
    "the sm10 conservation law). Output: ONE row per stage with "
    "docs_in/docs_out/dropped/mass_micro — docs_in chains exactly from "
    "the previous stage's docs_out, dropped = in − out, and the weights "
    "stage's mass equals 10^6 × the fuzzy stage's docs_in (dedup "
    "removed DOCUMENTS but conserved MASS — the soft-dedup accounting; "
    "all pinned per-stage in tests/test_r12_ops.py with a crafted "
    "corpus where every stage drops a known doc). Plan: stages 1-2 and "
    "the fingerprint come from ONE corpus scan projection (cached "
    "narrow flags frame); the perplexity sub-pipeline is t24's audited "
    "shape over the survivor join, its 3-ints-per-doc frame cached "
    "(a25/t29); the pair graph reuses the globally-cached shingle "
    "table; every count is a 1-row aggregate and the funnel table is a "
    "stack() over their bounded crossJoin (e6/a16 aggregated-sides "
    "pattern). At 100 TB each stage is scan- or vocabulary-bound "
    "exactly like its standalone op; the funnel adds only count "
    "aggregates — and the attrition table is what the curation run "
    "publishes as its datasheet.",
)
def pipe4_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = corpus_with_dups(spark, sf_dir)
    flags = corpus.select(
        "doc_id",
        _pipe4_lang_keep().alias("lang_keep"),
        (_t28_gopher_label() == 1).alias("gk"),
        F.md5(F.lower(F.trim("text"))).alias("fp"),
    ).cache()  # one corpus-scan projection feeds s1/s2 and the exact-dedup
    # fingerprints — 2 bools + 1 hash per doc
    s1 = flags.where(F.col("lang_keep"))
    s2 = s1.where(F.col("gk")).select("doc_id", "fp")
    docs2 = corpus.join(s2.select("doc_id"), "doc_id")
    # t24's tokenize→lead→count plumbing, repeated inline like the lang
    # and gopher gates above (and like t29/t30's copies): extracting a
    # shared bigram helper would touch the registered t11/t24/t29/t30
    # plans' source, and the funnel's LM trains on the SURVIVOR subset,
    # so no registered op's frame can be reused directly anyway. The
    # doc-for-doc gate-agreement pins in tests/test_r12_ops.py keep the
    # gate copies honest; the bigram copy is pinned by the crafted
    # funnel's hand-computed surprisal drop.
    big = token_pairs(docs2, ["doc_id"], tokens("text"))
    bc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
    ctx = bc.groupBy("w1").agg(F.sum("cnt").cast("bigint").alias("cc"))
    bits = F.length(F.bin("cc")) - F.length(F.bin("cnt"))
    perdoc = (
        big.join(bc, ["w1", "w2"])
        .join(ctx, "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("nb"),
            F.sum(bits).cast("bigint").alias("sb"),
        )
        .cache()  # feeds the corpus-mean aggregate AND the keep filter
        # (a25/t29 multi-branch lesson); 3 ints per doc
    )
    cm = perdoc.agg(
        F.expr(
            "(CAST(SUM(sb) AS BIGINT) * 1000000) div CAST(SUM(nb) AS BIGINT)"
        ).alias("corpus_micro")
    )
    ppl_keep = (
        perdoc.crossJoin(F.broadcast(cm))
        .where(F.expr("(sb * 1000000) div nb") <= F.col("corpus_micro"))
        .select("doc_id")
    )
    s3 = s2.join(ppl_keep, "doc_id").cache()  # (doc_id, fp) survivors
    s4 = (
        s3.withColumn("canon", F.min("doc_id").over(Window.partitionBy("fp")))
        .where(F.col("doc_id") == F.col("canon"))
        .select("doc_id")
        .cache()  # feeds both pair-restriction semi-joins, the rep join
        # and its own count
    )
    pairs = d5_lsh_jaccard_dedup(spark, sf_dir).select("doc_a", "doc_b")
    pairs_s = (
        pairs.join(s4.select(F.col("doc_id").alias("doc_a")), "doc_a", "semi")
        .join(s4.select(F.col("doc_id").alias("doc_b")), "doc_b", "semi")
    )
    ccl = connected_components(pairs_s).select(
        "doc_id", F.col("rep").alias("cc_rep")
    )
    s5 = (
        s4.join(ccl, "doc_id", "left")
        .where(F.coalesce("cc_rep", "doc_id") == F.col("doc_id"))
        .select("doc_id")
    )

    def cnt(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("bigint").alias(name))

    n = (
        cnt(corpus, "n0")
        .crossJoin(F.broadcast(cnt(s1, "n1")))
        .crossJoin(F.broadcast(cnt(s2, "n2")))
        .crossJoin(F.broadcast(cnt(s3, "n3")))
        .crossJoin(F.broadcast(cnt(s4, "n4")))
        .crossJoin(F.broadcast(cnt(s5, "n5")))
    )
    m = _PIPE4_MASS
    funnel = n.selectExpr(
        f"""stack(7,
            0, 'ingest',           n0, n0, n0 * {m},
            1, 'langid',           n0, n1, n1 * {m},
            2, 'gopher_rules',     n1, n2, n2 * {m},
            3, 'perplexity',       n2, n3, n3 * {m},
            4, 'exact_dedup',      n3, n4, n4 * {m},
            5, 'fuzzy_dedup',      n4, n5, n5 * {m},
            6, 'dupaware_weights', n5, n5, n4 * {m}
        ) AS (stage_ord, stage, docs_in, docs_out, mass_micro)"""
    )
    return funnel.select(
        F.col("stage_ord").cast("int").alias("stage_ord"),
        "stage",
        F.col("docs_in").cast("bigint").alias("docs_in"),
        F.col("docs_out").cast("bigint").alias("docs_out"),
        (F.col("docs_in") - F.col("docs_out")).cast("bigint").alias("dropped"),
        F.col("mass_micro").cast("bigint").alias("mass_micro"),
    )


# ---------------------------------------------------------------------------
# pipe5: STREAMING incremental curation — pipe4's gate chain applied to an
# ARRIVING batch against PERSISTED dedup state (VERDICT r12 item 1)
# ---------------------------------------------------------------------------

_PIPE5_SLICES = 4


def _pipe5_flags(docs: DataFrame) -> DataFrame:
    """(doc_id, lang_keep, gk, fp) for ANY (doc_id, text) frame — pipe4's
    per-doc gate columns, reusable on a micro-batch inside foreachBatch."""
    return docs.select(
        "doc_id",
        _pipe4_lang_keep().alias("lang_keep"),
        (_t28_gopher_label() == 1).alias("gk"),
        F.md5(F.lower(F.trim("text"))).alias("fp"),
    )


def _pipe5_bigram_scores(docs2: DataFrame, bc: DataFrame, ctx: DataFrame) -> DataFrame:
    """(doc_id, nb, sb) — integer micro-bit surprisal of each doc's bigrams
    under a FROZEN (bc, ctx) bigram model (t24's tokenize→lead→join shape;
    inner join, so only model-seen bigrams score and a doc with zero seen
    bigrams gets no row — such docs fail the quality gate conservatively)."""
    # bigrams row-locally (adjacent_pairs — no doc-keyed window shuffle),
    # then occurrence → per-doc-bigram count collapse (the t24 rewrite):
    # the model joins + doc rollup run on distinct (doc, bigram) rows;
    # Σ c·bits ≡ Σ bits over occurrences exactly.
    big = token_pairs(docs2, ["doc_id"], tokens("text"))
    db = big.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    bits = F.length(F.bin("cc")) - F.length(F.bin("cnt"))
    return (
        db.join(bc, ["w1", "w2"])
        .join(ctx, "w1")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("nb"),
            F.sum(F.col("c") * bits).cast("bigint").alias("sb"),
        )
    )


def _pipe5_frozen_lm(spark: SparkSession, sf_dir: str):
    """The FROZEN quality model: a bigram LM trained ONCE on the BASE
    corpus's langid+gopher survivors, plus the corpus-mean micro-bit
    threshold over those same training docs (CCNet discipline: arrivals
    are scored by a model of the reference distribution — the model is
    a published artifact, never retrained per batch). Returns
    (bc, ctx, thr_df); the model joins are plain shuffles (the model is
    vocabulary-bounded, not corpus-bounded — AQE broadcasts it when it
    fits)."""
    corpus = corpus_with_dups(spark, sf_dir)
    base = corpus.where(~(F.col("doc_id") % 7 == 3))
    fl = _pipe5_flags(base)
    surv = base.join(
        fl.where(F.col("lang_keep") & F.col("gk")).select("doc_id"), "doc_id"
    )
    big = token_pairs(surv, ["doc_id"], tokens("text"))
    bc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
    ctx = bc.groupBy("w1").agg(F.sum("cnt").cast("bigint").alias("cc"))
    perdoc = _pipe5_bigram_scores(surv, bc, ctx)
    thr = perdoc.agg(
        F.expr(
            "(CAST(SUM(sb) AS BIGINT) * 1000000) div CAST(SUM(nb) AS BIGINT)"
        ).alias("thr_micro")
    )
    return bc, ctx, thr


def _pipe5_exact_survivors(g3s: DataFrame, prior_fps: DataFrame) -> DataFrame:
    """(doc_id, fp): drop slice docs whose fingerprint is already STORED
    (base corpus or a previously admitted arrival); within the slice keep
    the min-id doc per fingerprint group."""
    fresh = g3s.join(prior_fps, "fp", "left_anti")
    return (
        fresh.withColumn("canon", F.min("doc_id").over(Window.partitionBy("fp")))
        .where(F.col("doc_id") == F.col("canon"))
        .select("doc_id", "fp")
    )


def _pipe5_jaccard_pairs(cand: DataFrame, sh_a: DataFrame, sh_b: DataFrame) -> DataFrame:
    """(doc_a, doc_b) pairs from ``cand`` whose exact shingle Jaccard ≥ 0.5
    — d5/d11's verification shape (arrays attached per side, array_intersect);
    cost tracks the candidate count, never the corpus."""
    aa = sh_a.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    bb = sh_b.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    both = F.size(F.array_intersect("sh_a", "sh_b"))
    j = both.cast("double") / (F.size("sh_a") + F.size("sh_b") - both)
    return cand.join(aa, "doc_a").join(bb, "doc_b").where(j >= 0.5).select("doc_a", "doc_b")


def _pipe5_fuzzy_resolve(ex: DataFrame, edges: DataFrame, ext: DataFrame) -> DataFrame:
    """Admitted doc ids for one slice: connected components over the
    WITHIN-slice near-dup edges; every component touching a prior match
    (``ext``: docs with a stored near-twin) is dropped whole; surviving
    components admit their min-id rep (singletons admit themselves).
    A one-probe empty-edge fast path skips the star alternation when the
    slice has no internal pairs (the common case — most near-dup mass is
    batch-vs-stored, not intra-batch), saving ~6 driver-round jobs."""
    if edges.isEmpty():
        co = ex.select("doc_id").withColumn("rep", F.col("doc_id"))
    else:
        comp = connected_components(edges)
        co = (
            ex.select("doc_id")
            .join(comp, "doc_id", "left")
            .withColumn("rep", F.coalesce("rep", F.col("doc_id")))
        )
    anch = co.join(ext, "doc_id", "semi").select("rep").distinct()
    return (
        co.where(F.col("doc_id") == F.col("rep"))
        .join(anch, "rep", "left_anti")
        .select("doc_id")
    )


def _pipe5_replay_dir(sf_dir: str) -> str:
    """Stage the ARRIVING batch — corpus_with_dups docs with
    doc_id % 7 == 3, d11/d12's arrival convention, so the SAME persisted
    base band index serves both — as ``_PIPE5_SLICES`` parquet files with
    ascending mtimes (slice = (doc_id // 7) % 4, a deterministic rule the
    DuckDB oracle replays), so a maxFilesPerTrigger=1 stream delivers the
    batch as ordered micro-batches. Atomic publish via rename, keyed by
    source path+mtime (replay_table_slices' discipline, re-derived here so
    pipe5 never touches the streaming module's source hash)."""
    import hashlib
    import os
    import shutil
    import time as _time

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, "documents.parquet")
    # size + mtime_ns, not bare mtime: a regenerated fixture that lands
    # within coarse-mtime granularity (or a copy with preserved
    # timestamps) must not serve stale slices — writers._stage_key's
    # staleness contract (ADVICE r13)
    st = os.stat(src)
    key = hashlib.md5(
        f"{os.path.abspath(src)}:{st.st_size}:{st.st_mtime_ns}:{_PIPE5_SLICES}".encode()
    ).hexdigest()[:10]
    out_dir = os.path.join("/tmp", f"spark_graft_pipe5_replay_{key}")
    if os.path.isdir(out_dir):
        return out_dir
    work = f"{out_dir}.stage-{os.getpid()}-{_time.monotonic_ns()}"
    os.makedirs(work)
    t = pq.read_table(src, columns=["doc_id", "text"])
    ids = t.column("doc_id").to_numpy()
    dups = t.filter(pa.array(ids % 10 == 0))
    dups = dups.set_column(0, "doc_id", pc.add(dups.column("doc_id"), _DUP_OFFSET))
    cwd = pa.concat_tables([t, dups])
    cids = cwd.column("doc_id").to_numpy()
    batch = cwd.filter(pa.array(cids % 7 == 3))
    sl = (batch.column("doc_id").to_numpy() // 7) % _PIPE5_SLICES
    base_t = _time.time() - 3600
    for s in range(_PIPE5_SLICES):
        part = batch.filter(pa.array(sl == s)).sort_by("doc_id")
        path = os.path.join(work, f"{s:02d}_batch.parquet")
        pq.write_table(part, path)
        os.utime(path, (base_t + 10 * s, base_t + 10 * s))
    try:
        os.rename(work, out_dir)  # atomic publish
    except OSError:
        shutil.rmtree(work, ignore_errors=True)
    return out_dir


def _pipe5_model(spark: SparkSession, sf_dir: str):
    """Build the frozen LM ONCE per pipe5 run: bc/ctx cached (each is
    read by every micro-batch scorer AND the audit's scorer — r15 built
    the model twice per run, stream + audit, and the audit's uncached
    bc/ctx re-ran the corpus bigram aggregate once per consumer, ~4
    evaluations of the heaviest stage per run), thr collected once
    (1-row bounded collect, st7's bloom-bytes pattern)."""
    bc, ctx, thr_df = _pipe5_frozen_lm(spark, sf_dir)
    bc = bc.cache()
    ctx = ctx.cache()
    thr = thr_df.collect()[0]["thr_micro"]
    if thr is None:  # degenerate base corpus: no langid+gopher survivors
        # or no model-seen bigrams — fail HERE with the precondition named
        # instead of embedding 'None' into a filter expression that dies
        # later with an opaque parse error (ADVICE r13)
        raise ValueError(
            "pipe5: frozen-LM threshold is NULL — the base corpus produced "
            "no scoreable training survivors (langid+gopher gate left "
            "nothing, or no eval bigram hit a model bigram); pipe5 needs a "
            "non-degenerate base corpus to freeze a quality model from"
        )
    return bc, ctx, thr


def _pipe5_funnel_counts(frames: list[tuple[str, DataFrame]]) -> DataFrame:
    """ONE-row (n_<tag>, ...) frame counting each input — a single job
    over a tagged union instead of one BroadcastExchange build per count
    (the r15 form paid 5 broadcast jobs + 1 write per micro-batch, and
    ~20 broadcast builds inside the audit's single action)."""
    tagged = None
    for tag, df in frames:
        t = df.select(F.lit(tag).alias("t"))
        tagged = t if tagged is None else tagged.unionAll(t)
    return tagged.agg(
        *[
            F.count(F.when(F.col("t") == tag, 1)).cast("bigint").alias(tag)
            for tag, _ in frames
        ]
    )


def _pipe5_run_stream(spark: SparkSession, sf_dir: str, state_dir: str, model=None) -> None:
    """The production path: replay the arriving batch as micro-batches;
    each ``foreachBatch`` gates the slice against FROZEN base-side state
    (cached fp set + the bucket-sorted persisted band index + the frozen
    LM — at 100 TB all three are published artifacts a curation service
    reads, not per-batch recomputes) and APPENDS admitted docs to the
    delta store the next micro-batch probes. Base index files are never
    rewritten (p11's physical pin, asserted in tests)."""
    import os

    from .dedup import (
        _band_buckets,
        _signatures_from_shingled,
        corpus_shingled,
        persisted_band_index,
        shingled_from_docs,
    )

    replay = _pipe5_replay_dir(sf_dir)
    adm_path = os.path.join(state_dir, "admitted")
    cnt_path = os.path.join(state_dir, "counts")
    is_new = F.col("doc_id") % 7 == 3
    corpus = corpus_with_dups(spark, sf_dir)
    base_fps = (
        corpus.where(~is_new)
        .select(F.md5(F.lower(F.trim("text"))).alias("fp"))
        .distinct()
        .cache()
    )
    base_sh = corpus_shingled(spark, sf_dir).where(F.size("sh") > 0).where(~is_new)
    base_idx = persisted_band_index(spark, sf_dir)  # read-only; never rewritten
    own_model = model is None
    bc, ctx, thr = _pipe5_model(spark, sf_dir) if own_model else model
    empty = spark.createDataFrame(
        [], "slice_id int, doc_id bigint, fp string, sh array<string>"
    )
    empty.write.mode("overwrite").parquet(adm_path)

    slice_expr = F.expr(f"(doc_id div 7) % {_PIPE5_SLICES}").cast("int")

    def gate_batch(bdf: DataFrame, epoch_id: int) -> None:
        docs = bdf.select("doc_id", "text").cache()
        # slice id + arrival count: ONE 1-row bounded collect per batch
        head = docs.agg(
            F.count(F.lit(1)).alias("n0"), F.min(slice_expr).alias("s")
        ).collect()[0]
        if head["n0"] == 0:
            return
        s, n0 = int(head["s"]), int(head["n0"])
        fl = _pipe5_flags(docs).cache()
        g1 = fl.where("lang_keep")
        g2 = g1.where("gk").select("doc_id", "fp")
        scores = _pipe5_bigram_scores(docs.join(g2.select("doc_id"), "doc_id"), bc, ctx)
        g3 = g2.join(
            scores.where(F.expr(f"(sb * 1000000) div nb <= {thr}")).select("doc_id"),
            "doc_id",
        ).cache()
        state = read_parquet(spark, adm_path)
        prior_fps = base_fps.union(state.select("fp")).distinct()
        ex = _pipe5_exact_survivors(g3, prior_fps).cache()
        sh_b = shingled_from_docs(docs.join(ex.select("doc_id"), "doc_id")).cache()
        bands_b = _band_buckets(_signatures_from_shingled(sh_b)).cache()
        a, b = bands_b.alias("a"), bands_b.alias("b")
        cand_in = (
            a.join(b, ["band", "k1", "k2"])
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .distinct()
        )
        edges = _pipe5_jaccard_pairs(cand_in, sh_b, sh_b)
        delta_sh = state.select("doc_id", "sh")
        delta_bands = _band_buckets(_signatures_from_shingled(delta_sh)).selectExpr(
            "doc_id AS old_doc", "band", "k1", "k2"
        )
        # TWO probe joins, not one against a union: unioning the delta
        # onto the persisted index would discard the index's bucketed
        # layout and re-shuffle (or fully re-scan) the base side every
        # micro-batch — d12's zero-index-shuffle discipline only holds
        # when the bucketed join sees the index unmodified (ADVICE r13).
        # The tiny delta side takes its own join; results union after.
        cand_base = bands_b.join(base_idx, ["band", "k1", "k2"]).select(
            F.col("doc_id").alias("doc_a"), F.col("old_doc").alias("doc_b")
        )
        cand_delta = bands_b.join(delta_bands, ["band", "k1", "k2"]).select(
            F.col("doc_id").alias("doc_a"), F.col("old_doc").alias("doc_b")
        )
        cand_ext = cand_base.unionByName(cand_delta).distinct()
        prior_sh = base_sh.unionByName(delta_sh)
        ext = (
            _pipe5_jaccard_pairs(cand_ext, sh_b, prior_sh)
            .select(F.col("doc_a").alias("doc_id"))
            .distinct()
        )
        adm = _pipe5_fuzzy_resolve(ex, edges, ext).cache()
        try:
            (
                ex.join(adm, "doc_id", "semi")
                .join(sh_b, "doc_id")
                .select(F.lit(s).alias("slice_id"), "doc_id", "fp", "sh")
                .write.mode("append")
                .parquet(adm_path)
            )

            # the slice's funnel row, published in ONE job: a tagged
            # union of the (cached) stage frames into a single 1-row
            # aggregate — the r15 broadcast-crossJoin form paid one
            # BroadcastExchange build job per stage count (5 extra
            # driver round trips per micro-batch)
            (
                _pipe5_funnel_counts(
                    [("n1", g1), ("n2", g2), ("n3", g3), ("n4", ex), ("n5", adm)]
                )
                .select(
                    F.lit(s).alias("slice_id"),
                    F.lit(n0).cast("bigint").alias("n0"),
                    "n1", "n2", "n3", "n4", "n5",
                )
                .write.mode("append")
                .parquet(cnt_path)
            )
        finally:
            # per-batch caches die with the batch: both outputs are on
            # parquet by now, and in the long-running-ingest scenario this
            # operator models, leaked batch caches grow executor storage
            # linearly with batch count (ADVICE r13)
            for df in (docs, fl, g3, ex, sh_b, bands_b, adm):
                df.unpersist()

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
    )
    q = stream.writeStream.foreachBatch(gate_batch).trigger(availableNow=True).start()
    try:
        if not q.awaitTermination(600):
            # a hung/slow micro-batch must fail LOUDLY here — falling
            # through would audit partial delta state and return a
            # silently wrong funnel (ADVICE r13)
            q.stop()
            raise TimeoutError(
                "pipe5: availableNow stream did not finish within 600s — "
                "delta state is incomplete; refusing to audit it"
            )
    finally:
        # base_fps dies with the stream; the model caches are unpersisted
        # only when this call built them (when the caller passed a shared
        # model, the audit's lazy plan still reads those caches)
        base_fps.unpersist()
        if own_model:
            bc.unpersist()
            ctx.unpersist()


def _pipe5_audit(
    spark: SparkSession,
    sf_dir: str,
    state_dir: str,
    admitted_out: dict | None = None,
    model=None,
) -> DataFrame:
    """The batch recompute the driver's oracle verifies: re-derive every
    slice's funnel from the raw tables, with each slice's PRIOR sides
    (stored fingerprints / stored near-dup anchors) taken from the state
    the stream just wrote — any wrong admit/reject in any micro-batch
    shifts a downstream slice's counts and fails the oracle hash. Fuzzy
    edges come from d5's pair surface restricted per slice (per-doc
    signatures make restriction ≡ re-running LSH on the subset — dq9's
    argument), which is provably the same candidate set the stream's
    index probe generates. ``admitted_out`` (tests) receives each slice's
    recomputed admitted-id frame for set-equality pins against the state."""
    import os

    adm_state = (
        read_parquet(spark, os.path.join(state_dir, "admitted"))
        .select("slice_id", "doc_id")
        .cache()
    )
    corpus = corpus_with_dups(spark, sf_dir)
    is_new = F.col("doc_id") % 7 == 3
    batch = corpus.where(is_new).withColumn(
        "sl", F.expr(f"(doc_id div 7) % {_PIPE5_SLICES}")
    )
    fl = _pipe5_flags(corpus).cache()
    base_ids = corpus.where(~is_new).select("doc_id")
    # cached: read once per slice for the prior-fingerprint union (4×)
    base_fps = fl.join(base_ids, "doc_id").select("fp").distinct().cache()
    # the frozen model: reuse the run's cached bc/ctx + collected thr when
    # the caller passes them (pipe5 itself); a standalone audit (tests)
    # builds its own ONCE — cached, because bc feeds the scorer join and
    # ctx derives from bc, so uncached every consumer re-ran the corpus
    # bigram aggregate (~4 evaluations per audit in the r15 form).
    bc, ctx, thr = _pipe5_model(spark, sf_dir) if model is None else model
    bf = batch.join(fl, "doc_id").cache()
    g1 = bf.where("lang_keep")
    g2 = g1.where("gk")
    scores = _pipe5_bigram_scores(corpus.join(g2.select("doc_id"), "doc_id"), bc, ctx)
    g3 = (
        g2.join(scores, "doc_id")
        .where(F.expr("(sb * 1000000) div nb") <= F.lit(thr).cast("bigint"))
        .select("doc_id", "sl", "fp")
        .cache()
    )
    jp = d5_lsh_jaccard_dedup(spark, sf_dir).select("doc_a", "doc_b")
    jps = jp.union(
        jp.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).cache()

    funnels = []
    for s in range(_PIPE5_SLICES):
        prior_adm = adm_state.where(F.col("slice_id") < s).select("doc_id")
        prior_fps = base_fps.union(fl.join(prior_adm, "doc_id").select("fp"))
        ex = _pipe5_exact_survivors(g3.where(F.col("sl") == s), prior_fps).cache()
        ex_a = ex.select(F.col("doc_id").alias("doc_a"))
        ex_b = ex.select(F.col("doc_id").alias("doc_b"))
        edges = jps.join(ex_a, "doc_a", "semi").join(ex_b, "doc_b", "semi")
        prior_ids = base_ids.union(prior_adm)
        ext = (
            jps.join(ex_a, "doc_a", "semi")
            .join(prior_ids.withColumnRenamed("doc_id", "doc_b"), "doc_b", "semi")
            .select(F.col("doc_a").alias("doc_id"))
            .distinct()
        )
        adm = _pipe5_fuzzy_resolve(ex, edges, ext).cache()
        if admitted_out is not None:
            admitted_out[s] = adm
        # one tagged-union aggregate per slice instead of five broadcast
        # builds (r16; see _pipe5_funnel_counts). n0 counts bf rather
        # than batch: bf = batch ⋈ fl on doc_id and fl covers every
        # corpus doc, so the count is identical — and bf is cached.
        n = _pipe5_funnel_counts(
            [
                ("n0", bf.where(F.col("sl") == s)),
                ("n1", g1.where(F.col("sl") == s)),
                ("n2", g2.where(F.col("sl") == s)),
                ("n3", g3.where(F.col("sl") == s)),
                ("n4", ex),
                ("n5", adm),
            ]
        )
        funnels.append(
            n.selectExpr(
                """stack(6,
                0, 'arrived',      n0, n0,
                1, 'langid',       n0, n1,
                2, 'gopher_rules', n1, n2,
                3, 'perplexity',   n2, n3,
                4, 'exact_dedup',  n3, n4,
                5, 'fuzzy_dedup',  n4, n5
            ) AS (stage_ord, stage, docs_in, docs_out)"""
            ).select(
                F.lit(s).cast("int").alias("slice_id"),
                F.col("stage_ord").cast("int").alias("stage_ord"),
                "stage",
                F.col("docs_in").cast("bigint").alias("docs_in"),
                F.col("docs_out").cast("bigint").alias("docs_out"),
                (F.col("docs_in") - F.col("docs_out")).cast("bigint").alias("dropped"),
            )
        )
    out = funnels[0]
    for f in funnels[1:]:
        out = out.unionByName(f)
    return out


def _sql_pipe5() -> str:
    S = _PIPE5_SLICES
    lang_case = f"""CASE WHEN s_en + s_es + s_de + s_fr + s_zh = 0 THEN 'und'
             WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
             WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
             WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
             WHEN s_fr >= s_zh THEN 'fr'
             ELSE 'zh' END IN ({", ".join(f"'{lang}'" for lang in _PIPE4_LANGS)})"""
    gopher = f"""(len(w) BETWEEN 20 AND 100000)
          AND (CAST(list_aggregate(list_transform(w, x -> len(x)), 'sum') AS DOUBLE)
                   / len(w) BETWEEN 3.0 AND 10.0)
          AND (FLOOR(CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                   * 1000000.0 / len(w)) >= 800000)
          AND (len(list_filter(w, x -> lower(x) IN ({_SQL_STOP_LIST}))) >= 2)
          AND (len(list_filter(w, x -> regexp_matches(x, '^[^A-Za-z0-9]+$'))) * 10 <= len(w))"""

    def bigrams(src_ids: str) -> str:
        return f"""SELECT doc_id, w1, w2
          FROM (SELECT doc_id,
                       unnest(list_transform(range(1, len(t)),
                              i -> {{'w1': t[i], 'w2': t[i + 1]}}),
                              recursive := true)
                FROM (SELECT c.doc_id, {_SQL_TOKENS} AS t
                      FROM corpus c JOIN ({src_ids}) ids USING (doc_id)))"""

    parts = [f"""WITH RECURSIVE
        corpus AS MATERIALIZED (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + {_DUP_OFFSET} AS doc_id, text FROM documents
          WHERE doc_id % 10 = 0),
        fl AS MATERIALIZED (
          SELECT doc_id, {lang_case} AS lang_keep, {gopher} AS gk,
                 md5(lower(trim(text))) AS fp
          FROM (SELECT doc_id, text, {_SQL_RAW_TOKENS} AS w,
                       {_sql_lang_score('en')} AS s_en,
                       {_sql_lang_score('es')} AS s_es,
                       {_sql_lang_score('de')} AS s_de,
                       {_sql_lang_score('fr')} AS s_fr,
                       {_sql_lang_score('zh')} AS s_zh
                FROM corpus)),
        batch AS MATERIALIZED (
          SELECT doc_id, (doc_id // 7) % {S} AS sl FROM corpus WHERE doc_id % 7 = 3),
        base_ids AS MATERIALIZED (SELECT doc_id FROM corpus WHERE doc_id % 7 <> 3),
        bsurv AS (SELECT f.doc_id FROM fl f JOIN base_ids b USING (doc_id)
                  WHERE f.lang_keep AND f.gk),
        tbig AS ({bigrams("SELECT doc_id FROM bsurv")}),
        bc AS MATERIALIZED (SELECT w1, w2, COUNT(*) AS cnt FROM tbig GROUP BY w1, w2),
        ctx AS MATERIALIZED (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS cc FROM bc GROUP BY w1),
        tsc AS (SELECT b.doc_id, length(bin(c.cc)) - length(bin(k.cnt)) AS bits
                FROM tbig b JOIN bc k ON b.w1 = k.w1 AND b.w2 = k.w2
                JOIN ctx c ON b.w1 = c.w1),
        tpd AS (SELECT doc_id, COUNT(*) AS nb, CAST(SUM(bits) AS BIGINT) AS sb
                FROM tsc GROUP BY doc_id),
        thr AS (SELECT (CAST(SUM(sb) AS BIGINT) * 1000000) // CAST(SUM(nb) AS BIGINT)
                       AS t FROM tpd),
        g2 AS MATERIALIZED (SELECT b.doc_id, b.sl, f.fp FROM batch b JOIN fl f USING (doc_id)
                            WHERE f.lang_keep AND f.gk),
        gbig AS ({bigrams("SELECT doc_id FROM g2")}),
        gsc AS (SELECT b.doc_id, length(bin(c.cc)) - length(bin(k.cnt)) AS bits
                FROM gbig b JOIN bc k ON b.w1 = k.w1 AND b.w2 = k.w2
                JOIN ctx c ON b.w1 = c.w1),
        gpd AS (SELECT doc_id, COUNT(*) AS nb, CAST(SUM(bits) AS BIGINT) AS sb
                FROM gsc GROUP BY doc_id),
        g3 AS MATERIALIZED (
          SELECT g2.doc_id, g2.sl, g2.fp
          FROM g2 JOIN gpd USING (doc_id), thr
          WHERE (gpd.sb * 1000000) // gpd.nb <= thr.t),
        base_fps AS MATERIALIZED (
          SELECT DISTINCT f.fp FROM fl f JOIN base_ids b USING (doc_id)),
        jp AS MATERIALIZED (SELECT doc_a, doc_b FROM ({_SQL_D5_PAIRS})),
        jps AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM jp
                             UNION ALL SELECT doc_b AS a, doc_a AS b FROM jp)"""]
    for s in range(S):
        prior_fp_union = "".join(
            f"\n                   UNION SELECT f.fp FROM adm_{t} a JOIN fl f ON f.doc_id = a.doc_id"
            for t in range(s)
        )
        prior_id_union = "".join(
            f"\n                   UNION ALL SELECT doc_id FROM adm_{t}" for t in range(s)
        )
        parts.append(f""",
        pf_{s} AS (SELECT fp FROM base_fps{prior_fp_union}),
        pr_{s} AS (SELECT doc_id FROM base_ids{prior_id_union}),
        ex_{s} AS MATERIALIZED (
          SELECT doc_id FROM (
            SELECT g.doc_id, MIN(g.doc_id) OVER (PARTITION BY g.fp) AS canon
            FROM g3 g
            WHERE g.sl = {s} AND g.fp NOT IN (SELECT fp FROM pf_{s}))
          WHERE doc_id = canon),
        ed_{s} AS (SELECT j.a AS src, j.b AS dst FROM jps j
                   WHERE j.a IN (SELECT doc_id FROM ex_{s})
                     AND j.b IN (SELECT doc_id FROM ex_{s})),
        ext_{s} AS (SELECT DISTINCT j.a AS doc_id FROM jps j
                    WHERE j.a IN (SELECT doc_id FROM ex_{s})
                      AND j.b IN (SELECT doc_id FROM pr_{s})),
        reach_{s}(src, dst) AS (
          SELECT src, src FROM ed_{s}
          UNION
          SELECT r.src, e.dst FROM reach_{s} r JOIN ed_{s} e ON e.src = r.dst),
        co_{s} AS (SELECT e.doc_id, COALESCE(r.m, e.doc_id) AS rep
                   FROM ex_{s} e LEFT JOIN
                        (SELECT src, MIN(dst) AS m FROM reach_{s} GROUP BY src) r
                        ON r.src = e.doc_id),
        anch_{s} AS (SELECT DISTINCT c.rep FROM co_{s} c
                     JOIN ext_{s} x ON x.doc_id = c.doc_id),
        adm_{s} AS MATERIALIZED (
          SELECT c.doc_id FROM co_{s} c
          WHERE c.doc_id = c.rep AND c.rep NOT IN (SELECT rep FROM anch_{s})),
        n_{s} AS (SELECT
          (SELECT COUNT(*) FROM batch WHERE sl = {s}) AS n0,
          (SELECT COUNT(*) FROM batch b JOIN fl f USING (doc_id) WHERE b.sl = {s} AND f.lang_keep) AS n1,
          (SELECT COUNT(*) FROM g2 WHERE sl = {s}) AS n2,
          (SELECT COUNT(*) FROM g3 WHERE sl = {s}) AS n3,
          (SELECT COUNT(*) FROM ex_{s}) AS n4,
          (SELECT COUNT(*) FROM adm_{s}) AS n5)""")
    stages = [
        ("0", "'arrived'", "n0", "n0"),
        ("1", "'langid'", "n0", "n1"),
        ("2", "'gopher_rules'", "n1", "n2"),
        ("3", "'perplexity'", "n2", "n3"),
        ("4", "'exact_dedup'", "n3", "n4"),
        ("5", "'fuzzy_dedup'", "n4", "n5"),
    ]
    rows = []
    for s in range(S):
        for o, st, i, u in stages:
            rows.append(
                f"SELECT CAST({s} AS INT) AS slice_id, CAST({o} AS INT) AS stage_ord, "
                f"{st} AS stage, CAST({i} AS BIGINT) AS docs_in, "
                f"CAST({u} AS BIGINT) AS docs_out, CAST({i} - {u} AS BIGINT) AS dropped "
                f"FROM n_{s}"
            )
    parts.append("\n        " + "\n        UNION ALL ".join(rows))
    return "".join(parts)


@register(
    "pipe5_incremental_curation",
    _sql_pipe5(),
    tags=("pipeline", "curation", "streaming-incremental", "dedup", "funnel", "iterative"),
    doc="STREAMING incremental curation — pipe4's production twin "
    "(VERDICT r12 item 1): the arriving batch (doc_id % 7 == 3, d11/d12's "
    "arrival convention) is replayed as 4 ordered micro-batch slices "
    "(slice = (doc_id // 7) % 4); each foreachBatch gates its slice "
    "through langid → Gopher → a FROZEN bigram-LM perplexity cut (model "
    "AND threshold trained once on the BASE corpus's gate survivors — "
    "the CCNet discipline: score arrivals against the reference "
    "distribution, never retrain per batch) → exact dedup against the "
    "stored fingerprint set → LSH fuzzy dedup probing the PERSISTED "
    "bucket-sorted base band index (d12's zero-index-shuffle discipline; "
    "base files never rewritten — p11's physical pin, test-asserted) "
    "PLUS the delta bands of previously admitted arrivals, resolving "
    "within-slice near-dup components by min-id rep and dropping whole "
    "components anchored to a stored near-twin. Admitted docs APPEND "
    "(doc_id, fp, shingles) to the delta store the next micro-batch "
    "probes — first-arrival-wins, the honest incremental semantics (a "
    "later near-twin can never evict an already-admitted doc). Output: "
    "the per-(slice, stage) attrition funnel. The returned frame is the "
    "batch AUDIT recompute: each slice's prior sides are read from the "
    "state the stream JUST WROTE, so any wrong admit/reject in any "
    "micro-batch shifts a later slice's counts and fails the oracle "
    "hash; audit-vs-state set equality per slice is additionally pinned "
    "in tests/test_r13_ops.py. The built-in dup re-insertions make the "
    "batch carry exact copies of base docs (orig % 70 == 0): the "
    "exact-dedup stage provably fires against the persisted state. At "
    "100 TB: per-batch cost is |batch| gate scans + a bucketed index "
    "probe + |batch|-bounded jaccard verifications — never a corpus "
    "rescan; the funnel is the datasheet each ingestion cycle publishes.",
)
def pipe5_incremental_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil

    key = hashlib.md5(f"{os.path.abspath(sf_dir)}:{os.getpid()}".encode()).hexdigest()[:10]
    state_dir = os.path.join("/tmp", f"spark_graft_pipe5_state_{key}")
    if os.path.isdir(state_dir):
        shutil.rmtree(state_dir)  # a fresh curation run, not a resume
    # micro-batch jobs and the audit's star-alternation rounds shuffle a
    # few hundred narrow rows each — run them at 8 partitions
    # (run_available_now's state_partitions rationale), restore after.
    # The returned funnel executes under the session setting.
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        # ONE frozen-model build per run, shared by the stream and the
        # audit (r15 built it twice; the audit's copy was additionally
        # uncached — see _pipe5_model). Model caches are vocabulary-
        # bounded and stay pinned for the returned audit frame's lazy
        # execution.
        model = _pipe5_model(spark, sf_dir)
        _pipe5_run_stream(spark, sf_dir, state_dir, model=model)
        return _pipe5_audit(spark, sf_dir, state_dir, model=model)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


# ---------------------------------------------------------------------------
# sm12: epoch-deterministic global shuffle + balanced shard assignment
# (VERDICT r12 item 2 — the training-data ORDER contract)
# ---------------------------------------------------------------------------

_SM12_SHARDS = 8
_SM12_EPOCHS = 2
_SM12_RANK_BUCKETS = 64          # key-range buckets for the two-pass rank
_SM12_BUCKET_W = (1 << 32) // _SM12_RANK_BUCKETS
_SM12_CHK_MOD = 1_000_000_007    # keeps the order checksum far from int64 overflow


def _sm12_assignment(docs: DataFrame, epoch: int) -> DataFrame:
    """(doc_id, shard_id, pos): the epoch's full training-order contract.

    Shuffle key = hash32(epoch ':' doc_id) — content-addressed, so the
    assignment is a pure function of (epoch, doc_id): reruns, engine
    versions, and INPUT PARTITIONING cannot move a row (pinned in
    tests/test_r13_ops.py by comparing assignments across repartitions).
    Global order = (key, doc_id); worker w reads rows rank % SHARDS == w
    in rank-ascending order — PyTorch DistributedSampler's data[w::K]
    slice, so shard sizes balance to ±1 by construction.

    The global rank is computed WITHOUT a single-partition window: the
    md5 key is uniform on [0, 2^32), so bucket = key div (2^32/64) gives
    64 data-independent, skew-free key RANGES. Rank = per-bucket
    row_number (parallel window, one shuffle) + the running offset of
    the 64-row bucket-count table (driver-bounded, broadcast back). At
    100 TB the bucket count scales with the cluster, never the data —
    this is the orderBy/rangepartition shape without a sampled
    partitioner, usable because the key is uniform BY CONSTRUCTION."""
    from pyspark.sql import Window

    from ..functions.text import hash32

    key = hash32(F.concat_ws(":", F.lit(str(epoch)), F.col("doc_id").cast("string")))
    d = docs.select("doc_id", key.alias("k")).withColumn(
        "bkt", F.expr(f"k div {_SM12_BUCKET_W}")
    )
    rn = F.row_number().over(Window.partitionBy("bkt").orderBy("k", "doc_id"))
    counts = d.groupBy("bkt").agg(F.count(F.lit(1)).alias("c"))
    off = counts.withColumn(
        "off",
        F.coalesce(
            F.sum("c").over(
                Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )  # 64-row window: bounded by the bucket constant, not the data
    return (
        d.withColumn("rn", rn)
        .join(F.broadcast(off.select("bkt", "off")), "bkt")
        .select(
            "doc_id",
            (F.col("off") + F.col("rn") - 1).alias("rank"),
        )
        .select(
            "doc_id",
            (F.col("rank") % _SM12_SHARDS).cast("int").alias("shard_id"),
            F.expr(f"rank div {_SM12_SHARDS}").cast("bigint").alias("pos"),
        )
    )


def _sql_sm12() -> str:
    h = "CAST(('0x' || substr(md5({x}), 1, 8)) AS BIGINT)"
    epochs = " UNION ALL ".join(f"SELECT {e} AS epoch" for e in range(_SM12_EPOCHS))
    return f"""WITH e AS ({epochs}),
        k AS (SELECT e.epoch, d.doc_id,
                     {h.format(x="e.epoch || ':' || d.doc_id")} AS k,
                     {h.format(x="CAST(d.doc_id AS VARCHAR)")} AS dh
              FROM documents d, e),
        r AS (SELECT epoch, doc_id, dh,
                     ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY k, doc_id) - 1
                         AS rk
              FROM k)
        SELECT CAST(epoch AS INT) AS epoch,
               CAST(rk % {_SM12_SHARDS} AS INT) AS shard_id,
               COUNT(*) AS n_docs,
               CAST(MAX(rk // {_SM12_SHARDS}) AS BIGINT) AS max_pos,
               CAST(SUM(((rk // {_SM12_SHARDS} + 1) * dh) % {_SM12_CHK_MOD})
                    AS BIGINT) AS order_checksum
        FROM r GROUP BY epoch, rk % {_SM12_SHARDS}"""


@register(
    "sm12_epoch_shard_shuffle",
    _sql_sm12(),
    tags=("sampling", "shuffle", "sharding", "training-order", "headline"),
    doc="Epoch-deterministic global shuffle + balanced shard assignment — "
    "the training-data ORDER contract (VERDICT r12 item 2), distinct "
    "from m5's byte-budget manifest: every epoch e seeds a content-"
    "addressed shuffle key hash32(e ':' doc_id); global order is "
    "(key, doc_id); worker w's shard is the rank %% 8 slice in rank "
    "order (PyTorch DistributedSampler's data[w::K] contract), so shard "
    "sizes balance to ±1 by construction and the whole assignment is a "
    "pure function of (epoch, doc_id) — byte-identical across reruns, "
    "partitionings, and engines (determinism pinned across "
    "repartitions; epochs provably permute the order). The global rank "
    "needs NO single-partition sort: the md5 key is uniform, so 64 "
    "data-independent key ranges bucket it; rank = parallel per-bucket "
    "row_number + the 64-row offset table broadcast back (the skew-free "
    "two-pass shape a 100 TB epoch shuffle runs instead of a sampled "
    "range partitioner). Output per (epoch, shard): size, max position "
    "(== size-1 iff the interleave is correct), and an order-sensitive "
    "checksum SUM(((pos+1)·hash32(doc_id)) %% p) the oracle recomputes "
    "from a plain ROW_NUMBER — any row in the wrong shard OR wrong "
    "position flips it.",
)
def sm12_epoch_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import hash32

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    outs = []
    for e in range(_SM12_EPOCHS):
        a = _sm12_assignment(docs, e)
        outs.append(
            a.select(
                F.lit(e).cast("int").alias("epoch"),
                "shard_id",
                "pos",
                hash32(F.col("doc_id").cast("string")).alias("dh"),
            )
        )
    full = outs[0]
    for o in outs[1:]:
        full = full.unionByName(o)
    return full.groupBy("epoch", "shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("pos").cast("bigint").alias("max_pos"),
        F.sum(((F.col("pos") + 1) * F.col("dh")) % _SM12_CHK_MOD)
        .cast("bigint")
        .alias("order_checksum"),
    )


# ---------------------------------------------------------------------------
# p12: snapshot / time-travel read over the compacted layout
# (VERDICT r13 item 6) — the p11 physical pin generalized to READS
# ---------------------------------------------------------------------------


@register(
    "p12_snapshot_read",
    f"""WITH h AS (SELECT md5(CAST(event_id AS VARCHAR)) AS m FROM events),
       b AS (SELECT CAST(('0x' || substr(m, 1, 8)) AS BIGINT) % {_P11_BUCKETS}
                        AS bucket,
                    CAST(('0x' || substr(m, 9, 8)) AS BIGINT) AS fh
             FROM h),
       f AS (SELECT bucket, fh % (1 + bucket % 4) AS frag FROM b),
       c AS (SELECT bucket, COUNT(*) AS n_rows,
                    COUNT(DISTINCT frag) AS n_frags
             FROM f GROUP BY bucket)
       SELECT CAST(bucket AS BIGINT) AS bucket,
              CAST(n_rows AS BIGINT) AS rows_v1,
              CAST(n_frags AS BIGINT) AS files_v1,
              CAST(n_rows AS BIGINT) AS rows_v2,
              CAST(CASE WHEN n_frags > {_P11_MAX_FILES} THEN 1 ELSE n_frags END
                   AS BIGINT) AS files_v2,
              (n_frags > {_P11_MAX_FILES}) AS rewritten,
              TRUE AS snapshot_ok
       FROM c""",
    tags=("layout", "snapshot", "timetravel", "metadata", "headline"),
    doc="Snapshot/time-travel read over the incrementally-compacted "
    "layout — the read half of a Delta/Iceberg commit, composing "
    "p10/p11 (VERDICT r13 item 6): version 1 is the fragmented staged "
    "table, version 2 the post-OPTIMIZE commit (rewritten buckets "
    "reference their compacted file, compliant buckets keep their "
    "original fragments). Each version is read through its MANIFEST "
    "(sources/writers.read_snapshot): exactly the referenced files, "
    "never a directory listing — so files added by later commits are "
    "invisible to version 1, and files the commit stopped referencing "
    "still serve it (snapshot isolation). The audit reads BOTH "
    "versions and emits per bucket: rows/files under each version, the "
    "rewritten verdict AS OBSERVED (any v2 file outside the staged "
    "root), and snapshot_ok — which ANDs row conservation with the "
    "PHYSICAL pin that every manifest-referenced file still matches "
    "its recorded (size, mtime_ns): a compaction that rewrote a "
    "committed snapshot file in place flips the hash gate, not just a "
    "test. The oracle predicts every column analytically from the two "
    "independent md5 windows (p11's fixture contract). At 100 TB this "
    "is why lakehouse reads scale: a snapshot read plans from "
    "metadata-sized manifests (driver holds one row per file, the "
    "p10/vocab discipline), prunes to exactly the referenced files, "
    "and time travel costs nothing at read time because old versions "
    "are immutable by construction.",
)
def p12_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..sources.writers import (
        read_snapshot,
        snapshot_files_intact,
        stage_fragmented_events,
        stage_versioned_events,
    )

    mdir = stage_versioned_events(spark, sf_dir, _P11_BUCKETS, _P11_MAX_FILES)
    staged_root = stage_fragmented_events(spark, sf_dir, _P11_BUCKETS)
    # bounded metadata check (one stat per manifest entry), folded into
    # the hash-gated output: BOTH versions' files must be byte-intact
    intact = snapshot_files_intact(mdir, 1) and snapshot_files_intact(mdir, 2)
    per1 = (
        read_snapshot(spark, mdir, 1)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("rows_v1"),
            F.countDistinct("file_path").cast("bigint").alias("files_v1"),
        )
    )
    per2 = (
        read_snapshot(spark, mdir, 2)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("rows_v2"),
            F.countDistinct("file_path").cast("bigint").alias("files_v2"),
            F.max(
                (~F.col("file_path").contains(os.path.basename(staged_root)))
                .cast("int")
            ).alias("any_compacted"),
        )
    )
    return per1.join(per2, "bucket").select(
        F.col("bucket").cast("bigint").alias("bucket"),
        "rows_v1",
        "files_v1",
        "rows_v2",
        "files_v2",
        (F.col("any_compacted") == 1).alias("rewritten"),
        (F.lit(intact) & (F.col("rows_v1") == F.col("rows_v2"))).alias("snapshot_ok"),
    )


# ---------------------------------------------------------------------------
# p13: incremental snapshot diff — the CHANGE DATA FEED between two manifest
# versions (VERDICT r14 item 7), composing p12's snapshot machinery
# ---------------------------------------------------------------------------

_P13_SQL_BUCKET = (
    "CAST(('0x' || substr(md5(CAST({id} AS VARCHAR)), 1, 8)) AS BIGINT) % "
    f"{_P11_BUCKETS}"
)


@register(
    "p13_snapshot_diff",
    f"""WITH b AS (
          SELECT event_id, user_id,
                 {_P13_SQL_BUCKET.format(id='event_id')} AS bucket
          FROM events),
        del AS (SELECT 'delete' AS change_type, bucket, event_id, user_id
                FROM b WHERE event_id % 97 = 0),
        upd AS (SELECT 'update' AS change_type, bucket, event_id, user_id
                FROM b WHERE event_id % 103 = 0 AND event_id % 97 <> 0),
        ins AS (SELECT 'insert' AS change_type,
                       {_P13_SQL_BUCKET.format(id='event_id + 1000000000000')}
                           AS bucket,
                       event_id + 1000000000000 AS event_id, user_id
                FROM b WHERE event_id % 101 = 0),
        ch AS (SELECT * FROM del UNION ALL SELECT * FROM upd
               UNION ALL SELECT * FROM ins)
        SELECT change_type, CAST(bucket AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(SUM(event_id) AS BIGINT) AS id_sum
        FROM ch GROUP BY change_type, bucket""",
    tags=("layout", "snapshot", "cdc", "timetravel", "headline"),
    doc="Incremental snapshot diff — the row-level change data feed "
    "between two manifest versions (VERDICT r14 item 7; Delta's CDF / "
    "Iceberg's changelog read), WITHOUT rescanning unchanged files: the "
    "diff is planned from the MANIFEST DELTA alone. Fixture: "
    "sources/writers.stage_cdf_commit builds a clean bucketed events "
    "layout (v1) and one DML commit (v2) with deterministic deletes "
    "(event_id %% 97), updates (value+1 where %% 103, delete wins the "
    "overlap), and inserts (%% 101 clones re-keyed +1e12 into their new "
    "hash bucket). The reader loads ONLY files v1 references and v2 "
    "dropped (the old image of rewritten buckets) and files v2 added "
    "(rewrites + appends) — files common to both versions are NEVER "
    "read, pinned by a file-list assertion on the plan's scans (the p5 "
    "pattern, tests/test_r15_ops.py). A full-outer join on the row key "
    "classifies each delta row: old-only → delete, new-only → insert, "
    "both-with-different-payload (null-safe) → update, both-equal → an "
    "unchanged row carried by a rewrite, excluded. Output per "
    "(change_type, bucket): row count, distinct users, key checksum — "
    "the oracle predicts all of it analytically from the events table "
    "and the md5 bucket law (p11's fixture contract). At 100 TB this is "
    "the lakehouse incremental-consumer path: the work is proportional "
    "to the CHANGED file set, not the table — the diff join shuffles "
    "only rewritten-bucket rows, and a commit touching k of N buckets "
    "costs k/N of a full-table diff.",
)
def p13_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.writers import (
        _load_manifest,
        read_manifest_files,
        stage_cdf_commit,
    )

    mdir = stage_cdf_commit(spark, sf_dir, _P11_BUCKETS)
    v1 = {e["path"]: e for e in _load_manifest(mdir, 1)}
    v2 = {e["path"]: e for e in _load_manifest(mdir, 2)}
    removed = [e for p, e in sorted(v1.items()) if p not in v2]
    added = [e for p, e in sorted(v2.items()) if p not in v1]
    old = read_manifest_files(spark, removed).select(
        "event_id",
        F.col("user_id").alias("o_user"),
        F.col("event_type").alias("o_type"),
        F.col("value").alias("o_value"),
        F.col("bucket").alias("o_bucket"),
    )
    new = read_manifest_files(spark, added).select(
        "event_id",
        F.col("user_id").alias("n_user"),
        F.col("event_type").alias("n_type"),
        F.col("value").alias("n_value"),
        F.col("bucket").alias("n_bucket"),
    )
    payload_changed = (
        ~F.col("o_user").eqNullSafe(F.col("n_user"))
        | ~F.col("o_type").eqNullSafe(F.col("n_type"))
        | ~F.col("o_value").eqNullSafe(F.col("n_value"))
    )
    change_type = (
        F.when(F.col("n_bucket").isNull(), "delete")
        .when(F.col("o_bucket").isNull(), "insert")
        .when(payload_changed, "update")
    )
    return (
        old.join(new, "event_id", "full_outer")
        .withColumn("change_type", change_type)
        .where(F.col("change_type").isNotNull())
        .select(
            "change_type",
            F.coalesce("n_bucket", "o_bucket").alias("bucket"),
            "event_id",
            F.coalesce("n_user", "o_user").alias("user_id"),
        )
        .groupBy("change_type", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.sum("event_id").cast("bigint").alias("id_sum"),
        )
    )


# ---------------------------------------------------------------------------
# p14: incremental materialized-view maintenance from the p13 change feed
# ---------------------------------------------------------------------------


@register(
    "p14_incremental_mv",
    """WITH survivors AS (
          SELECT event_type,
                 CASE WHEN event_id % 103 = 0 THEN COALESCE(value, 0) + 1
                      ELSE value END AS value
          FROM events WHERE event_id % 97 <> 0),
        inserts AS (
          SELECT event_type, value FROM events WHERE event_id % 101 = 0),
        v2 AS (SELECT * FROM survivors UNION ALL SELECT * FROM inserts)
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(FLOOR(COALESCE(value, 0) * 1000) AS BIGINT))
                    AS BIGINT) AS v_milli_sum
        FROM v2 GROUP BY event_type""",
    tags=("layout", "snapshot", "cdc", "ivm", "headline"),
    doc="Incremental materialized-view maintenance over the p13 change "
    "feed (Delta/Databricks incremental MV refresh, Materialize-style "
    "IVM): a per-event_type COUNT/SUM view materialized at snapshot v1 "
    "(sources/writers.stage_mv_base — the one full scan, paid at MV "
    "creation) is rolled forward to v2 by reading ONLY the commit's "
    "manifest delta. No diff join is needed for self-maintainable "
    "aggregates: every row in a DROPPED file contributes (-1, -v), every "
    "row in an ADDED file (+1, +v), and unchanged rows carried by a "
    "bucket rewrite appear in both images and cancel EXACTLY (the value "
    "surrogate floor(value*1000) is per-row deterministic, so the "
    "cancellation is bitwise) — deletes net -1, inserts net +1, updates "
    "net the value delta. The plan is base-MV ∪ (-old) ∪ (+new) into ONE "
    "map-side-combinable hash aggregate on event_type; "
    "tests/test_r15_ops.py pins that no file common to both manifest "
    "versions is scanned (the p5/p13 file-list law) and replays the "
    "maintenance in pure python. Oracle: the v2 state predicted "
    "analytically from the events table and the commit law (%97 delete, "
    "%103 value+1, %101 re-keyed clone insert). At 100 TB this is THE "
    "incremental-consumer win: refresh cost is O(changed files + |MV|), "
    "not O(table) — a commit rewriting k of N buckets costs k/N of the "
    "recompute, and the aggregate state that crosses the wire is one "
    "row per group, not the row delta.",
)
def p14_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.writers import (
        _load_manifest,
        mv_milli,
        read_manifest_files,
        stage_cdf_commit,
        stage_mv_base,
    )

    mdir = stage_cdf_commit(spark, sf_dir, _P11_BUCKETS)
    mv_dir = stage_mv_base(spark, mdir, 1)
    v1 = {e["path"]: e for e in _load_manifest(mdir, 1)}
    v2 = {e["path"]: e for e in _load_manifest(mdir, 2)}
    dropped = [e for p, e in sorted(v1.items()) if p not in v2]
    added = [e for p, e in sorted(v2.items()) if p not in v1]

    def contrib(entries: list[dict], sign: int) -> DataFrame:
        return read_manifest_files(spark, entries).select(
            "event_type",
            F.lit(sign).cast("bigint").alias("dn"),
            (F.lit(sign) * mv_milli(F.col("value"))).cast("bigint").alias("dv"),
        )

    base = read_parquet(spark, mv_dir).select(
        "event_type",
        F.col("n_rows").alias("dn"),
        F.col("v_milli_sum").alias("dv"),
    )
    return (
        base.unionByName(contrib(dropped, -1))
        .unionByName(contrib(added, 1))
        .groupBy("event_type")
        .agg(
            F.sum("dn").cast("bigint").alias("n_rows"),
            F.sum("dv").cast("bigint").alias("v_milli_sum"),
        )
        # a group whose rows were all deleted leaves zero-count state;
        # the maintained view drops it (matches the recompute oracle)
        .where(F.col("n_rows") > 0)
    )
