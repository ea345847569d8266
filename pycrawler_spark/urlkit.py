"""URL toolkit — the scalar URL functions of the engine (SURVEY.md §2.7).

Pure-Python, dependency-free re-implementations of the reference's URL
semantics. Each function documents the reference behavior it matches
(``file:line`` into /root/reference). The vectorized Spark wrappers
live in :mod:`pycrawler_spark.functions.udfs`; these cores are shared
by the UDFs AND the pure-Python parity simulator so that both sides
use byte-identical logic.

Key invariant: :func:`normalize_url` is the canonical URL-seen dedup
key (reference: database.py:287-291) and must match the reference's
``utils.normalize_url`` (utils.py:43-66) byte-for-byte on every input
the crawler can produce.
"""

from __future__ import annotations

import urllib.parse
from typing import NamedTuple, Optional

from pycrawler_spark import psl


class ParsedUrl(NamedTuple):
    """Equivalent of ``tld.utils.Result`` (utils.py:37-41).

    ``netloc`` preserves the original spelling (case, userinfo, port)
    exactly as ``tld``'s ``parsed_url`` does; ``host`` is the lowercase
    hostname; ``fld`` is the registered domain (eTLD+1); ``suffix`` the
    matched public suffix (reference calls this ``tld``).
    """

    scheme: str
    netloc: str
    host: str
    path: str
    query: str
    fragment: str
    fld: str
    suffix: str


def parse_url(url: str) -> Optional[ParsedUrl]:
    """Parse + PSL-validate a URL; None on any failure.

    Mirrors ``utils.get_tld_object`` (utils.py:37-41): URLs without a
    scheme/host, or whose host has no known public suffix, yield None.
    """
    if url is None:
        return None
    try:
        sp = urllib.parse.urlsplit(url)
        host = sp.hostname
    except ValueError:
        return None
    if not sp.scheme or not host:
        return None
    host = host.lower()
    fld = psl.fld(host)
    if fld is None:
        return None
    suffix = psl.public_suffix(host) or ""
    return ParsedUrl(
        scheme=sp.scheme,
        netloc=sp.netloc,
        host=host,
        path=sp.path,
        query=sp.query,
        fragment=sp.fragment,
        fld=fld,
        suffix=suffix,
    )


# Identity fast-shape for normalize_url (defaults only): lowercase
# scheme + bare lowercase host (no userinfo/port), non-empty path
# segments (no // runs), no trailing slash, no ';' in the path
# (urlparse would split it off as params and DROP it), no fragment,
# optional query not ending in '/' (the raw rstrip would eat it) —
# every transformation normalize_url performs is provably a no-op, so
# the input IS its own canonical form. Property-tested in
# tests/test_urlkit.py against the full function.
_NORM_IDENTITY_RE = __import__("re").compile(
    r"^[a-z][a-z0-9+.\-]*://[a-z0-9.\-]+(/[^/;?#\s\\]+)+(\?[^#\s]*[^/#\s])?$"
)


def normalize_url(url: str, query: bool = True, fragment: bool = False) -> str:
    """Canonical URL form — the dedup key of the whole engine.

    Matches ``utils.normalize_url`` (utils.py:43-66) semantics:

    * strip whitespace, strip *all* trailing ``/`` of the raw string,
    * lowercase scheme and hostname; drop userinfo,
    * drop default ports (http:80, https:443), keep explicit others,
    * empty path -> ``/``; collapse ``//`` runs in the path; strip a
      trailing slash unless the path is exactly ``/``,
    * keep the query by default, drop the fragment by default.

    Divergence (documented): the reference lets ``parsed.port`` raise
    ``ValueError`` on malformed ports and crashes; we return the
    stripped input instead — a total function is required inside an
    Arrow batch.
    """
    if url is None:
        return None
    if query and not fragment and _NORM_IDENTITY_RE.match(url):
        return url  # already canonical (see _NORM_IDENTITY_RE)
    url = url.strip().rstrip("/")
    try:
        p = urllib.parse.urlparse(url)
        host = p.hostname
        port = p.port
    except ValueError:
        return url

    scheme = p.scheme.lower()
    netloc = host.lower() if host else ""
    if port:
        is_default = (scheme == "http" and port == 80) or (
            scheme == "https" and port == 443
        )
        if not is_default:
            netloc = f"{netloc}:{port}"

    path = p.path or "/"
    while "//" in path:
        path = path.replace("//", "/")
    if path != "/" and path.endswith("/"):
        path = path.rstrip("/")

    return urllib.parse.urlunparse(
        (
            scheme,
            netloc,
            path,
            "",
            p.query if query else "",
            p.fragment if fragment else "",
        )
    )


# --- accessors over ParsedUrl (utils.py:68-87) -------------------------

def url_origin(u: ParsedUrl) -> str:
    """scheme://netloc (utils.py:71-72)."""
    return f"{u.scheme}://{u.netloc}"


def url_str(u: ParsedUrl) -> str:
    """scheme://netloc/path (utils.py:80-81)."""
    return f"{u.scheme}://{u.netloc}{u.path}"


def url_str_with_query(u: ParsedUrl) -> str:
    return url_str(u) + ("?" if u.query else "") + u.query


def url_str_with_query_fragment(u: ParsedUrl) -> str:
    """Full reconstructed absolute URL (utils.py:86-87) — the string the
    reference stores in the frontier and feeds to the seen-set."""
    return url_str_with_query(u) + ("#" if u.fragment else "") + u.fragment


def url_from_href(href: Optional[str], base: ParsedUrl) -> Optional[ParsedUrl]:
    """Resolve an ``href`` attribute against its page URL.

    Mirrors ``utils.get_url_from_href`` (utils.py:89-94): blank hrefs
    yield None; the join base is the page URL *with* query+fragment.

    Fast path: an absolute-path reference (``/x...``) resolves to
    ``scheme://netloc`` + href directly (RFC 3986 §5.3) — ``urljoin``
    re-parses the base string on every call, which dominates the
    per-link cost of a crawl wave. The path is gated to hrefs where
    urljoin performs NO transformation beyond that concatenation:
    no ``.``/``..`` dot segments (urljoin removes those) and no
    backslashes (3.11+ treats them specially in some positions).
    The result feeds ``parse_url`` either way, so cosmetic string
    differences urljoin would normalize later (e.g. a dangling ``#``)
    cannot survive into the ParsedUrl fields; equivalence against
    pure urljoin is property-tested in tests/test_urlkit.py.
    """
    if href is None or not href.strip():
        return None
    h = href.strip()
    # dot-segment rules apply to the PATH portion only ("/.#f" has a
    # dot segment; "/p?x=/." does not)
    hpath = h.split("#", 1)[0].split("?", 1)[0]
    if (
        h.startswith("/")
        and not h.startswith("//")
        and "\\" not in h
        and ";" not in h  # urljoin applies urlparse ;params splitting
        and "/../" not in hpath
        and "/./" not in hpath
        and not hpath.endswith(("/..", "/."))
    ):
        return parse_url(f"{base.scheme}://{base.netloc}{h}")
    try:
        joined = urllib.parse.urljoin(url_str_with_query_fragment(base), h)
    except ValueError:
        return None
    return parse_url(joined)


def seen_key(url: str) -> str:
    """The URL-seen membership key: normalized with query, without
    fragment (database.py:287-291 + utils.py:43 defaults)."""
    return normalize_url(url)
