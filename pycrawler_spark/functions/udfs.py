"""Vectorized pandas/Arrow UDFs wrapping the pure-Python cores.

BASELINE.json input_hint mandates "vectorized pandas/Arrow UDFs (no
per-row Python) throughout": every UDF here is a ``pandas_udf``
operating on whole Series per Arrow batch. Anything expressible with
JVM built-ins (md5/sha2, concat, rlike, ...) is NOT here — use
``pyspark.sql.functions`` directly so it stays in whole-stage codegen.
"""

from __future__ import annotations

from itertools import repeat
from typing import Optional

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from pycrawler_spark import htmlkit, textkit, urlkit

# --- URL struct type (X2/X3 accessors as one struct column) --------------

URL_STRUCT = T.StructType(
    [
        T.StructField("scheme", T.StringType()),
        T.StructField("netloc", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("query", T.StringType()),
        T.StructField("fragment", T.StringType()),
        T.StructField("fld", T.StringType()),
        T.StructField("suffix", T.StringType()),
        T.StructField("origin", T.StringType()),
        T.StructField("url_full", T.StringType()),
    ]
)

_URL_FIELDS = [f.name for f in URL_STRUCT.fields]

# --- URL parse / join / resolve UDFs (X1, X2/X3, X4) -----------------------

RESOLVED_LINK_STRUCT = T.StructType(
    URL_STRUCT.fields + [T.StructField("norm", T.StringType())]
)
_RESOLVED_FIELDS = [f.name for f in RESOLVED_LINK_STRUCT.fields]


def _url_tuple(p: Optional[urlkit.ParsedUrl], norm: bool = False) -> tuple:
    """One ParsedUrl as a URL_STRUCT row (all-null for None); with
    ``norm``, as a RESOLVED_LINK_STRUCT row (plus the X1 seen key)."""
    if p is None:
        return (None,) * (len(_RESOLVED_FIELDS) if norm else len(_URL_FIELDS))
    full = urlkit.url_str_with_query_fragment(p)
    t = (
        p.scheme, p.netloc, p.host, p.path, p.query, p.fragment, p.fld,
        p.suffix, urlkit.url_origin(p), full,
    )
    return t + (urlkit.normalize_url(full),) if norm else t


def _href_frame(base_urls: pd.Series, hrefs: pd.Series, norm: bool) -> pd.DataFrame:
    """X4 urljoin + X2 parse (+ X1 normalize with ``norm``) of each
    href against its base URL. The base page URL repeats for every
    link of a page — parse it once per distinct base per batch."""
    base_cache: dict = {}
    rows = []
    for base, href in zip(base_urls, hrefs):
        if base not in base_cache:
            base_cache[base] = urlkit.parse_url(base) if base is not None else None
        p = base_cache[base]
        rows.append(_url_tuple(urlkit.url_from_href(href, p) if p is not None else None, norm))
    return pd.DataFrame(rows, columns=_RESOLVED_FIELDS if norm else _URL_FIELDS)


@pandas_udf(URL_STRUCT)
def parse_url_udf(urls: pd.Series) -> pd.DataFrame:
    """X2 get_tld_object + X3 accessors (utils.py:37-41, 68-87)."""
    rows = [_url_tuple(urlkit.parse_url(u) if u is not None else None) for u in urls]
    return pd.DataFrame(rows, columns=_URL_FIELDS)


@pandas_udf(T.StringType())
def normalize_url_udf(urls: pd.Series) -> pd.Series:
    """X1 normalize_url with defaults (query=True, fragment=False) —
    the URL-seen key (utils.py:43-66, database.py:287-291)."""
    return urls.map(lambda u: urlkit.normalize_url(u) if u is not None else None)


@pandas_udf(URL_STRUCT)
def join_href_udf(base_urls: pd.Series, hrefs: pd.Series) -> pd.DataFrame:
    """X4 get_url_from_href (utils.py:89-94): urljoin against the page
    URL (with query+fragment), then parse/PSL-validate."""
    return _href_frame(base_urls, hrefs, norm=False)


@pandas_udf(RESOLVED_LINK_STRUCT)
def resolve_href_udf(base_urls: pd.Series, hrefs: pd.Series) -> pd.DataFrame:
    """X4 urljoin + X2 parse + X1 normalize fused into ONE pass over
    exploded links (each as a separate UDF costs an extra Arrow
    round-trip over the link rows)."""
    return _href_frame(base_urls, hrefs, norm=True)


# --- fused per-page extraction (F1, X9, M4, M5 + X4/X1 link resolution) ---

# Slim link struct: the candidate pipeline (operators/links.py) touches
# exactly these six fields — scheme/origin/fld for F3-F5, url_full/
# norm/host for the frontier row. netloc/path/query/fragment/suffix
# are substrings of url_full (or derivable), so shipping them through
# Arrow and the explode doubles the per-link payload for nothing. The
# full struct is kept for jobs with F6 url_filters registered (a
# pluggable predicate may reference any field).
SLIM_LINK_STRUCT = T.StructType(
    [
        T.StructField("scheme", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("fld", T.StringType()),
        T.StructField("origin", T.StringType()),
        T.StructField("url_full", T.StringType()),
        T.StructField("norm", T.StringType()),
    ]
)


def _page_struct(link_struct: T.StructType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("extracted_text", T.StringType()),
            T.StructField("meta_headers", T.ArrayType(T.StringType())),
            T.StructField("has_login_form", T.BooleanType()),
            T.StructField("has_cookie_banner", T.BooleanType()),
            T.StructField("links", T.ArrayType(link_struct)),
        ]
    )


PAGE_FEATURES_LINKS_STRUCT = _page_struct(RESOLVED_LINK_STRUCT)
PAGE_FEATURES_LINKS_SLIM_STRUCT = _page_struct(SLIM_LINK_STRUCT)


def _full_link_tuple(r: Optional[urlkit.ParsedUrl]) -> tuple:
    return _url_tuple(r, norm=True)


def _slim_link_tuple(r: Optional[urlkit.ParsedUrl]) -> tuple:
    if r is None:
        return (None,) * len(SLIM_LINK_STRUCT.fields)
    full = urlkit.url_str_with_query_fragment(r)
    return (
        r.scheme, r.host, r.fld, urlkit.url_origin(r),
        full, urlkit.normalize_url(full),
    )


def _resolve_frame(html, base_urls=None, link_tuple=None) -> pd.DataFrame:
    """The ONE fused extraction(+resolution) loop behind every
    ``page_features_*`` UDF — the positional parity invariant (all-null
    placeholder for unresolvable hrefs, base-None handling) lives in
    exactly one place. Without ``link_tuple`` hrefs are not extracted
    and ``links`` is null."""
    with_links = link_tuple is not None
    texts, metas, logins, cookies, linkss = [], [], [], [], []
    for h, base in zip(html, base_urls if with_links else repeat(None)):
        t, m, lg, ck, hr = htmlkit.page_features(h, with_links)
        texts.append(t)
        metas.append(m)
        logins.append(lg)
        cookies.append(ck)
        if not with_links:
            linkss.append(None)
            continue
        p = urlkit.parse_url(base) if base is not None else None
        linkss.append([
            link_tuple(urlkit.url_from_href(href, p) if p is not None else None)
            for href in hr or []
        ])
    return pd.DataFrame(
        {
            "extracted_text": texts,
            "meta_headers": metas,
            "has_login_form": logins,
            "has_cookie_banner": cookies,
            "links": linkss,
        }
    )


@pandas_udf(PAGE_FEATURES_LINKS_STRUCT)
def page_features_resolve_udf(
    html: pd.Series, base_urls: pd.Series
) -> pd.DataFrame:
    """Per-page extraction + href resolution fused into ONE Python
    pass (the full link struct, for jobs with F6 url_filters).

    A split pipeline (extract hrefs -> ship them to the JVM -> explode
    -> resolve) would pay a second Arrow round-trip over the wave's
    biggest intermediate (every discovered link) plus a second Python
    stage spin-up; here the hrefs never leave Python unresolved — the
    page's base URL is parsed once and every href resolves in the same
    batch that extracted it. The JVM side then only explodes
    already-resolved structs.

    Parity invariant: entry i of ``links`` corresponds to href i in
    document order (F1, modules/CollectUrls.py:60-77) — unresolvable
    hrefs yield an all-null struct rather than being dropped, so
    ``posexplode`` downstream numbers links by document position and
    crawl-order parity is preserved byte-for-byte."""
    return _resolve_frame(html, base_urls, _full_link_tuple)


@pandas_udf(PAGE_FEATURES_LINKS_SLIM_STRUCT)
def page_features_resolve_slim_udf(
    html: pd.Series, base_urls: pd.Series
) -> pd.DataFrame:
    """page_features_resolve_udf with the slim link struct. Same fused
    single Python pass, same positional parity invariant (unresolvable
    hrefs stay as all-null entries)."""
    return _resolve_frame(html, base_urls, _slim_link_tuple)


@pandas_udf(PAGE_FEATURES_LINKS_SLIM_STRUCT)
def page_features_nolinks_udf(html: pd.Series) -> pd.DataFrame:
    """Per-page extraction without href extraction — for waves at the
    final crawl depth (no link collection; the leaf wave is the largest
    one in a BFS crawl). ``links`` is null."""
    return _resolve_frame(html)


@pandas_udf(T.ArrayType(T.StringType()))
def extract_hrefs_udf(html: pd.Series) -> pd.Series:
    """F1 link extraction: a[href] values in document order
    (modules/CollectUrls.py:60-77)."""
    return html.map(htmlkit.extract_hrefs)


@pandas_udf(T.StringType())
def refresh_target_udf(html: pd.Series, base_url: pd.Series) -> pd.Series:
    """K2/J5 redirect hop: zero-delay meta-refresh target, absolute
    (corpus-mode stand-in for the Playwright redirect chain,
    crawler.py:145-150)."""
    return pd.Series(
        [
            htmlkit.meta_refresh_target(h, b)
            for h, b in zip(html, base_url)
        ]
    )


# --- text UDFs (X6, X8, training-data ops) --------------------------------

@pandas_udf(T.MapType(T.StringType(), T.StringType()))
def decode_udf(text: pd.Series) -> pd.Series:
    """X6 multi-codec decode (utils.py:253-314)."""
    return text.map(lambda t: textkit.decode(t) if t is not None else None)


@pandas_udf(T.LongType())
def simhash_udf(text: pd.Series) -> pd.Series:
    # two's-complement into signed int64 for a Spark LongType column
    def f(t):
        if t is None:
            return None
        v = textkit.simhash64(t.split())
        return v - (1 << 64) if v >= (1 << 63) else v

    return text.map(f)


@pandas_udf(T.BinaryType())
def decompress_udf(data: pd.Series) -> pd.Series:
    """X8 decompress — the reference stubs this (utils.py:337-339);
    ours handles zlib/gzip/raw-deflate."""
    return data.map(lambda b: textkit.decompress(bytes(b)) if b is not None else None)


@pandas_udf(T.BinaryType())
def zlib_compress_udf(data: pd.Series) -> pd.Series:
    """Deterministic zlib compress (level 6) — test/fixture helper for
    the decompress path."""
    import zlib

    return data.map(lambda b: zlib.compress(bytes(b), 6) if b is not None else None)


# --- JVM-side helpers (kept out of Python on purpose) ----------------------

def det_shuffle_key(col, seed: str):
    """Deterministic pseudo-shuffle key: md5(seed || url) hex prefix.

    Replaces the reference's unseeded random.shuffle
    (modules/CollectUrls.py:122-127) with a seeded, reproducible order
    (SURVEY.md §7). JVM built-in md5 — no Python roundtrip; identical
    value computable in DuckDB (md5()) and in the parity simulator
    (hashlib.md5)."""
    return F.substring(F.md5(F.concat(F.lit(seed), col)), 1, 16)


def host_bucket(col, buckets: int):
    """Stable host -> bucket id for host-hash partitioning (north rule).
    xxhash64 is a JVM built-in; pmod keeps it non-negative."""
    return F.pmod(F.xxhash64(col), F.lit(buckets)).cast("int")
