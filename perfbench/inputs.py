"""Seeded benchmark inputs. The engine only ever sees what is written
here; the same seed gives byte-identical files.

The corpus comes from the repository's own generator
(``sources.corpus.write_corpus``): the seed picks page text, while the
link structure depends only on the size parameters, so every seed
yields waves of the same shape.
"""

from __future__ import annotations

import os
from typing import Dict, List, Tuple

# Crawl corpus shapes (arguments of write_corpus besides the seed).
# crawl_wide: 8 hosts x 20 children x 20 grandchildren; the depth-1
# wave resolves every link of its ~180 pages and is the largest
# ("steady") wave, the depth-2 wave fetches the ~3.3k pages it found.
CRAWL_WIDE = dict(n_hosts=8, pages_per_host=500, mega_factor=2, branching=20)
# crawl_polite: six small hosts; each politeness sub-wave costs seconds
# of fixed Spark work whatever its size, so the crawl is kept to three.
CRAWL_POLITE = dict(n_hosts=6, pages_per_host=20, mega_factor=4, branching=8)
# An extra task on host 0 whose landing page is not in the corpus. It
# is ranked first on its host (see run.py), so with one grant per host
# and wave the depth-0 seeds take two sub-waves and the second finds
# few links.
DEAD_SEED = {"rank": 100, "url": "https://site0.com/unreachable"}


def write_crawl_corpus(out_dir: str, seed: int, shape: Dict, extra_seeds: List[Dict]) -> Tuple[str, str]:
    """Write the corpus; returns (pages path, seeds path). The seed
    list is the corpus's own plus ``extra_seeds``."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pycrawler_spark.sources.corpus import write_corpus

    pages, seeds, _robots = write_corpus(out_dir, seed=seed, **shape)
    if extra_seeds:
        rows = pq.read_table(seeds).to_pylist() + extra_seeds
        seeds = os.path.join(out_dir, "seeds_all.parquet")
        pq.write_table(pa.Table.from_pylist(
            rows, schema=pa.schema([("rank", pa.int32()), ("url", pa.string())])), seeds)
    return pages, seeds


def crawl_pages(seed: int, shape: Dict, extra_seeds: List[Dict]):
    """(url -> html, seed list) exactly as write_crawl_corpus writes them."""
    from pycrawler_spark.sources.corpus import generate_corpus

    pages, seeds, _robots = generate_corpus(seed=seed, **shape)
    return {p["url"]: p["html"] for p in pages}, seeds + extra_seeds


# ----- analytics tables -------------------------------------------------

# Row counts of the tables the headline queries read: those of the
# engine's sf0.01 test tables, whose column types, vocabularies and
# value ranges the generator follows. At this size a query's fixed
# planning and scheduling cost is most of its time, as in a crawl wave.
TABLE_ROWS = dict(lineitem=60_000, supplier=100, part=2_000, events=10_000,
                  documents=500, embeddings=500)
_VOCAB = ("a the agg batch big column customer data fast filter group hash join key line "
          "merge order part query row scan slow small sort spark stream table value "
          "vector window").split()
_LANGS = (["en"] * 7) + ["de", "es", "fr", "zh"] * 2 + ["de", "zh"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "cold", "green"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "valve"]
_PART_TYPE = ["ECONOMY", "SMALL", "LARGE", "STANDARD", "PROMO"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def analytics_tables(seed: int, rows: Dict[str, int] = TABLE_ROWS) -> Dict:
    """The analytics tables as pyarrow tables, a pure function of the
    seed. Five percent of the documents repeat an earlier document's
    text plus a ``dup`` token, so the dedup queries find pairs."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_li, n_supp, n_part = rows["lineitem"], rows["supplier"], rows["part"]
    n_ev, n_doc, n_emb = rows["events"], rows["documents"], rows["embeddings"]
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def table(cols, types):
        return pa.table({k: pa.array(v, type=types[k]) for k, v in cols.items()})

    out = {}
    out["region"] = table({"r_regionkey": list(range(5)), "r_name": _REGIONS},
                          {"r_regionkey": i32, "r_name": s})
    out["nation"] = table(
        {"n_nationkey": list(range(25)), "n_name": [f"NATION_{i}" for i in range(25)],
         "n_regionkey": [i % 5 for i in range(25)]},
        {"n_nationkey": i32, "n_name": s, "n_regionkey": i32})
    out["supplier"] = table(
        {"s_suppkey": np.arange(n_supp), "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
         "s_nationkey": rng.integers(0, 25, n_supp),
         "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)},
        {"s_suppkey": i64, "s_name": s, "s_nationkey": i32, "s_acctbal": f64})
    out["part"] = table(
        {"p_partkey": np.arange(n_part),
         "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in
                    zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
         "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
         "p_type": [_PART_TYPE[t] for t in rng.integers(0, 5, n_part)],
         "p_size": rng.integers(1, 51, n_part),
         "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)},
        {"p_partkey": i64, "p_name": s, "p_brand": s, "p_type": s, "p_size": i32,
         "p_retailprice": f64})
    qty = rng.integers(1, 51, n_li).astype(float)
    day0 = np.datetime64("1992-01-01", "us")
    out["lineitem"] = table(
        {"l_orderkey": rng.integers(0, n_li // 4, n_li),
         "l_partkey": rng.integers(0, n_part, n_li),
         "l_suppkey": rng.integers(0, n_supp, n_li),
         "l_linenumber": rng.integers(1, 8, n_li),
         "l_quantity": qty,
         "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
         "l_discount": rng.integers(0, 11, n_li) / 100.0,
         "l_tax": rng.integers(0, 9, n_li) / 100.0,
         "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
         "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
         "l_shipdate": day0 + rng.integers(0, 3600, n_li) * np.timedelta64(1, "D")},
        {"l_orderkey": i64, "l_partkey": i64, "l_suppkey": i64, "l_linenumber": i32,
         "l_quantity": f64, "l_extendedprice": f64, "l_discount": f64, "l_tax": f64,
         "l_returnflag": s, "l_linestatus": s, "l_shipdate": ts})
    # events: increasing timestamps over 30 days
    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev).astype(np.int64)
    out["events"] = table(
        {"event_id": np.arange(n_ev),
         "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps) * np.timedelta64(1, "us"),
         "user_id": rng.integers(0, max(1, n_ev // 66), n_ev),
         "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
         "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
         "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
        {"event_id": i64, "ts": ts, "user_id": i64, "event_type": s, "value": f64,
         "props": s})
    texts: List[str] = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(_VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(_VOCAB[w] for w in words))
    out["documents"] = table(
        {"doc_id": np.arange(n_doc), "text": texts,
         "lang": [_LANGS[j] for j in rng.integers(0, len(_LANGS), n_doc)],
         "source": [f"src{i % 20}" for i in range(n_doc)],
         "n_chars": [len(t) for t in texts]},
        {"doc_id": i64, "text": s, "lang": s, "source": s, "n_chars": i64})
    vecs = rng.normal(size=(n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = table(
        {"vec_id": np.arange(n_emb), "embedding": list(vecs),
         "label": rng.integers(0, 10, n_emb)},
        {"vec_id": i64, "embedding": pa.list_(pa.float32()), "label": i32})
    return out


def write_tables(out_dir: str, seed: int, rows: Dict[str, int] = TABLE_ROWS) -> str:
    """Write the analytics tables as ``<out_dir>/<table>.parquet``; returns out_dir."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in analytics_tables(seed, rows).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
