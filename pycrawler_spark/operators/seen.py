"""URL-seen set at scale — Bloom prefilter + exact residue (J1).

The reference keeps a per-task Python ``set`` of normalized URLs
(database.py:254-255, 287-291) pickled into ``task.crawlerstate``.
This engine persists the seen set as a columnar table
``seen(task_id, url_norm, h)`` (host-bucketed parquet/Iceberg) and
uses a Bloom filter only as a *prefilter* — never as the source of
truth, because a Bloom false positive would DROP a URL the reference
keeps and break seen-set parity (SURVEY.md §7 hard part #2).

Dataflow per wave (the 10^10-frontier design):

1. build a Bloom over the WAVE's candidate keys (small — one wave of
   discovered links), OR-merging numpy partial filters per partition;
2. broadcast it and prefilter the big persistent ``seen`` table with a
   vectorized ``might_contain`` pandas UDF — this is what keeps the
   wave cost proportional to the wave, not to the 10^10-row history;
3. exact semi-join of the surviving seen rows against candidate keys;
   only those rows are shipped to the per-task dedup kernel.

Spark 4 does not expose ``bloom_filter_agg``/``might_contain`` as SQL
functions, so the filter is a ~40-line numpy implementation: k index
derivations from the JVM-computed ``xxhash64`` of the key (double
hashing h1 + i*h2, Kirsch-Mitzenmacher), fully vectorized.
"""

from __future__ import annotations

import math
from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

# target false-positive rate of the wave's seen prefilter
BLOOM_FPP = 0.01


def _params(n_items: int, fpp: float) -> tuple[int, int]:
    n = max(1024, n_items)
    m = int(-n * math.log(fpp) / (math.log(2) ** 2))
    m = max(64, (m + 63) // 64 * 64)  # round to whole uint64 words
    k = max(1, int(round(m / n * math.log(2))))
    return m, min(k, 8)


def _indices(h: np.ndarray, m: int, k: int) -> np.ndarray:
    """(len(h), k) bit indices from int64 hashes (double hashing)."""
    h = h.astype(np.uint64)
    h1 = h
    h2 = (h >> np.uint64(17) | h << np.uint64(47)) * np.uint64(0x9E3779B97F4A7C15)
    idx = np.empty((len(h), k), dtype=np.uint64)
    for i in range(k):
        idx[:, i] = (h1 + np.uint64(i) * h2) % np.uint64(m)
    return idx


class NumpyBloom:
    def __init__(self, m: int, k: int, words: Optional[np.ndarray] = None):
        self.m, self.k = m, k
        self.words = words if words is not None else np.zeros(m // 64, dtype=np.uint64)

    def add_hashes(self, h: np.ndarray) -> None:
        if len(h) == 0:
            return
        idx = _indices(h, self.m, self.k)
        np.bitwise_or.at(
            self.words, (idx // np.uint64(64)).ravel(),
            np.uint64(1) << (idx % np.uint64(64)).ravel(),
        )

    def might_contain(self, h: np.ndarray) -> np.ndarray:
        if len(h) == 0:
            return np.zeros(0, dtype=bool)
        idx = _indices(h, self.m, self.k)
        bits = (self.words[idx // np.uint64(64)] >> (idx % np.uint64(64))) & np.uint64(1)
        return bits.all(axis=1)

    def to_bytes(self) -> bytes:
        return (
            int(self.m).to_bytes(8, "little")
            + int(self.k).to_bytes(8, "little")
            + self.words.tobytes()
        )

    @classmethod
    def from_bytes(cls, b: bytes) -> "NumpyBloom":
        m = int.from_bytes(b[:8], "little")
        k = int.from_bytes(b[8:16], "little")
        return cls(m, k, np.frombuffer(b[16:], dtype=np.uint64).copy())

    def union(self, other: "NumpyBloom") -> "NumpyBloom":
        assert self.m == other.m and self.k == other.k
        return NumpyBloom(self.m, self.k, self.words | other.words)


def build_bloom(
    df: DataFrame, key_col: str, n_items: int, fpp: float = BLOOM_FPP
) -> NumpyBloom:
    """Distributed Bloom build: per-partition numpy partials via
    mapInPandas, OR-merged on the driver. ``xxhash64`` runs JVM-side."""
    m, k = _params(n_items, fpp)
    hdf = df.select(F.xxhash64(F.col(key_col)).alias("h"))

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bloom = NumpyBloom(m, k)
        for b in batches:
            bloom.add_hashes(b["h"].to_numpy(dtype=np.int64))
        yield pd.DataFrame({"bloom": [bloom.to_bytes()]})

    parts = hdf.mapInPandas(partial, schema="bloom binary").collect()
    out = NumpyBloom(m, k)
    for row in parts:
        out = out.union(NumpyBloom.from_bytes(bytes(row["bloom"])))
    return out


def might_contain_filter(
    df: DataFrame, bloom: NumpyBloom, key_col: str
) -> DataFrame:
    """Keep rows whose key might be in the bloom (prefilter; exact
    check must follow). The filter bytes ride to executors via UDF
    closure (Spark broadcasts task binaries)."""
    blob = bloom.to_bytes()

    @F.pandas_udf(T.BooleanType())
    def mc(h: pd.Series) -> pd.Series:
        bl = NumpyBloom.from_bytes(blob)
        return pd.Series(bl.might_contain(h.to_numpy(dtype=np.int64)))

    return df.filter(mc(F.xxhash64(F.col(key_col))))


def relevant_seen(
    seen: DataFrame,
    candidates: DataFrame,
    key_col: str = "url_norm",
    use_bloom: bool = True,
    use_semi: bool = True,
) -> DataFrame:
    """seen ∩ candidate-keys: the only seen rows the per-task dedup
    kernel needs. Bloom prefilter first (wave-sized), exact semi-join
    second (false positives eliminated here — parity preserved).

    ``use_semi=False`` skips the candidate-key distinct + semi-join and
    passes seen through whole. The semi-join exists to bound what the
    cogroup ships into pandas when the seen HISTORY dwarfs the wave
    (steady state of a long crawl); while history is still wave-sized
    or smaller, the distinct is a full wave-sized shuffle spent to
    avoid shipping a few thousand rows — strictly a loss. The kernel
    is exact either way (it takes per-task seen rows as set-init), so
    this is a pure plan choice, never a semantics one."""
    if not use_semi:
        return seen
    keys = candidates.select(key_col).distinct()
    if use_bloom:
        n = keys.count()
        bloom = build_bloom(keys, key_col, n_items=max(1024, n))
        seen = might_contain_filter(seen, bloom, key_col)
    return seen.join(keys, key_col, "left_semi")
