"""The benchmark's workloads: which catalog queries, over which inputs.

Each workload is a fixed list of catalog query names; one pass runs every
name once, in an order drawn from the run's seed. Sizes are chosen so a run
fits the benchmark's per-run budget on a 4-core host (see README.md).
"""

from __future__ import annotations

from dataclasses import dataclass

from inputs import Size


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    size: Size
    queries: tuple[str, ...]
    #: the generated tables the queries read; their rows are the workload's
    #: stated input rows for ``rows_per_s``
    tables: tuple[str, ...]


#: seconds of ``--seconds`` one timed pass accounts for: a run makes
#: ``round(seconds / PASS_S)`` passes (at least one), the same number on a
#: fast or a slow host. At ``--seconds 15`` a run makes 3 passes, so each
#: query's median latency survives one slow execution
PASS_S = 5.0


#: the shipped ``sf0.001`` fixture's table sizes
SF0001 = Size(customers=150, suppliers=10, parts=200, orders=1500, lineitems=6000,
              events=1000, users=15, documents=500, embeddings=500)

#: run once per set-up, before timing: a plain aggregate and a pandas UDF
#: (which spawns the Python workers)
WARMUP = ("a4_group_avg", "u1_pandas_udf_score")

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "analytics",
            "reference-parity BI queries that only read a small star schema; "
            "driver-side planning and job scheduling set their latency",
            Size(customers=300, suppliers=20, parts=400, orders=3000, lineitems=12000,
                 events=2000, users=30, documents=500, embeddings=500),
            ("a1_count", "a4_group_avg", "a5_value_counts", "a10_histogram",
             "a17_grouped_percentiles", "f4_bucketize", "w2_lag_delta", "w6_cube",
             "j1_broadcast_join", "j3_semi_join", "j6_star_join", "s4_except",
             "r2_orders_by_month", "x1_json_extract", "e3_session_window", "dq2_orders_checks"),
            ("region", "nation", "customer", "orders", "lineitem", "events"),
        ),
        Workload(
            "curation",
            "LLM-data curation over a corpus with near-duplicate clones: dedup shuffles, "
            "Python/Arrow UDFs and a dedup stream",
            Size(customers=150, suppliers=10, parts=200, orders=1500, lineitems=6000,
                 events=1000, users=15, documents=1000, embeddings=500, clone_share=0.2),
            ("u1_pandas_udf_score", "m1_media_features", "d5_lsh_jaccard_dedup",
             "d7_ngram_jaccard_pairs", "v4_embedding_neardup", "t1_token_stats",
             "sm3_split_assign", "pipe1_corpus_clean", "st2_stream_dedup"),
            ("documents", "embeddings", "events"),
        ),
    )
}
