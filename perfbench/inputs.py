"""Seeded input generator for the benchmark.

Writes the ten fixture tables the catalog reads (``region`` ... ``embeddings``)
as single parquet files, with the schemas and value domains of the shipped
``sf*`` test fixtures: a TPC-H-like star schema, an ``events`` stream table
sorted by ``ts``, a ``documents`` corpus over a 30-word vocabulary and 64-dim
unit ``embeddings`` with a weak per-label centroid.

The same seed and size give byte-identical tables. On top of the base
corpus, ``clone_share`` adds near-duplicate clones the way the scale probe
synthesizes them: each clone is a key-shifted copy of a base row, its text
gets a per-copy suffix token and its embedding a small perturbation. The
fraction of near-duplicates and the row count of every table are returned
so the run can print them.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: fixture sizes; ``sf0.001`` of the shipped fixtures is
#: ``Size(150, 10, 200, 1500, 6000, 1000, 15, 500, 500)``
@dataclass(frozen=True)
class Size:
    customers: int
    suppliers: int
    parts: int
    orders: int
    lineitems: int
    events: int
    users: int
    documents: int
    embeddings: int
    #: share of extra near-duplicate clones among documents and embeddings
    clone_share: float = 0.0


VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
#: base corpus share of ``<earlier doc> + " dup"`` rows, as in the fixtures
BASE_DUP_SHARE = 0.05
#: clone keys start here: above every base key, below the 1e7 offset the
#: dedup plans reserve for their own re-insertions
CLONE_OFFSET = 1_000_000
DIM = 64

_US_PER_DAY = 86_400_000_000


def _days(rng: np.random.Generator, lo: dt.date, hi: dt.date, n: int) -> pa.Array:
    span = (hi - lo).days
    base = np.datetime64(lo, "us").astype(np.int64)
    us = base + rng.integers(0, span + 1, n) * _US_PER_DAY
    return pa.array(us, type=pa.timestamp("us"))


def _choice(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ids(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def build_tables(seed: int, size: Size) -> tuple[dict[str, pa.Table], int]:
    """Every fixture table for ``(seed, size)``, deterministically, and the
    number of near-duplicate documents among them."""
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n = size.customers
    t["customer"] = pa.table({
        "c_custkey": _ids(n),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -1000, 10000, n),
        "c_mktsegment": _choice(rng, SEGMENTS, n),
    })
    n = size.suppliers
    t["supplier"] = pa.table({
        "s_suppkey": _ids(n),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -1000, 10000, n),
    })
    n = size.parts
    names = [f"{a} {b}" for a, b in zip(
        np.asarray(ADJ)[rng.integers(0, 8, n)], np.asarray(NOUN)[rng.integers(0, 8, n)])]
    t["part"] = pa.table({
        "p_partkey": _ids(n),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": _choice(rng, P_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 1),
    })
    n = size.orders
    t["orders"] = pa.table({
        "o_orderkey": _ids(n),
        "o_custkey": pa.array(rng.integers(0, size.customers, n), pa.int64()),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000, 500000, n),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n),
        "o_orderpriority": _choice(rng, PRIORITIES, n),
    })
    n = size.lineitems
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, size.orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, size.parts, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, size.suppliers, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100,
        "l_tax": rng.integers(0, 9, n) / 100,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n),
        "l_linestatus": _choice(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n),
    })
    n = size.events
    # the fixtures' events span the first 30 days of January 2024
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * _US_PER_DAY, n))
    t["events"] = pa.table({
        "event_id": _ids(n),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, size.users, n), pa.int64()),
        "event_type": _choice(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    t["documents"], t["embeddings"], near_dups = _corpus(rng, size)
    return t, near_dups


def _corpus(rng: np.random.Generator, size: Size) -> tuple[pa.Table, pa.Table, int]:
    n = size.documents
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)]) for k in rng.integers(10, 101, n)]
    # fixture-style near-dups: a later doc repeats an earlier one plus " dup"
    dups = [i for i in np.flatnonzero(rng.random(n) < BASE_DUP_SHARE) if i > 0]
    for i in dups:
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    doc_ids = np.arange(n, dtype=np.int64)
    langs = np.asarray(LANGS, dtype=object)[rng.choice(5, n, p=LANG_P)]
    sources = np.asarray([f"src{i % 20}" for i in range(n)], dtype=object)

    m = size.embeddings
    centers = rng.standard_normal((10, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, m)
    vecs = rng.standard_normal((m, DIM)) / np.sqrt(DIM) + 0.19 * centers[labels]
    vec_ids = np.arange(m, dtype=np.int64)

    k = _clones(n, size.clone_share)
    near_dups = len(dups) + k
    if k:
        src = rng.integers(0, n, k)
        texts += [f"{texts[s]} c{j % 7 + 1}" for j, s in enumerate(src)]
        doc_ids = np.concatenate([doc_ids, CLONE_OFFSET + np.arange(k, dtype=np.int64)])
        langs = np.concatenate([langs, langs[src]])
        sources = np.concatenate([sources, sources[src]])
    k = _clones(m, size.clone_share)
    if k:
        src = rng.integers(0, m, k)
        vecs = np.concatenate([vecs, vecs[src] + 0.01 * rng.standard_normal((k, DIM))])
        labels = np.concatenate([labels, labels[src]])
        vec_ids = np.concatenate([vec_ids, CLONE_OFFSET + np.arange(k, dtype=np.int64)])
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)

    docs = pa.table({
        "doc_id": pa.array(doc_ids),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    flat = pa.array(vecs.astype(np.float32).ravel())
    emb = pa.table({
        "vec_id": pa.array(vec_ids),
        "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, len(flat) + 1, DIM, dtype=np.int32)), flat),
        "label": pa.array(labels, pa.int32()),
    })
    return docs, emb, near_dups


def _clones(base: int, share: float) -> int:
    """Clone count that makes clones ``share`` of ``base + clones`` rows."""
    return int(round(share * base / (1 - share)))


def write_inputs(out_dir: str, seed: int, size: Size) -> dict:
    """Write ``<out_dir>/<table>.parquet`` and return what was written."""
    os.makedirs(out_dir, exist_ok=True)
    tables, near_dups = build_tables(seed, size)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    rows = {name: table.num_rows for name, table in tables.items()}
    return {
        "seed": seed,
        "size": asdict(size),
        "rows": rows,
        "near_dup_share": round(near_dups / rows["documents"], 4),
    }
