"""HTML extraction kit — static-HTML equivalents of the reference's
per-page DOM operators (SURVEY.md §2.8).

The reference runs a live browser and queries the rendered DOM via
Playwright locators. In corpus mode there is no browser: these are
pure functions over the stored ``html: binary`` column, executed
inside vectorized pandas UDFs. They are intentionally regex/state
machine based (no bs4/lxml in this container) and deterministic.

Fidelity notes per function document which reference behavior is
matched and which is approximated (dynamic-DOM behaviors — clicking
buttons, :visible filters — cannot exist without a browser).
"""

from __future__ import annotations

import html as _htmllib
import re
from typing import List, Optional

# --- tag scanning helpers ---------------------------------------------

_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)
_SCRIPTISH_RE = re.compile(
    r"<(script|style|noscript|template)\b[^>]*>.*?</\1\s*>", re.S | re.I
)
_TAG_RE = re.compile(r"<[^>]+>")
_WS_RE = re.compile(r"\s+")

_A_HREF_RE = re.compile(
    r"""<a\b[^>]*?\bhref\s*=\s*("([^"]*)"|'([^']*)'|([^\s>]+))""",
    re.I | re.S,
)
_META_HTTP_EQUIV_RE = re.compile(
    r"<meta\b[^>]*\bhttp-equiv\s*=[^>]*?/?>", re.I | re.S
)
_HTTP_EQUIV_HINT_RE = re.compile(r"http-equiv", re.I)

_FORM_RE = re.compile(
    r"<(form|fieldset)\b[^>]*>.*?</\1\s*>", re.I | re.S
)
_INPUT_RE = re.compile(r"<input\b[^>]*>", re.I)
_TYPE_ATTR_RE = re.compile(
    r"""\btype\s*=\s*("([^"]*)"|'([^']*)'|([^\s>]+))""", re.I
)
# clickable elements (utils.py:22-23 CLICKABLES selector, statically):
_CLICKABLE_RE = re.compile(
    r"<(button|a|input|div|span)\b[^>]*>(?:(?!</?(?:button|a|input|div|span)\b).)*?</\1\s*>"
    r"|<input\b[^>]*>",
    re.I | re.S,
)


def to_text(html: "bytes | str | None") -> str:
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray, memoryview)):
        return bytes(html).decode("utf-8", errors="replace")
    return html


def _strip_nontext(doc: str) -> str:
    doc = _COMMENT_RE.sub(" ", doc)
    doc = _SCRIPTISH_RE.sub(" ", doc)
    return doc


# --- F1: link extraction (modules/CollectUrls.py:60-77) ----------------

def extract_hrefs(html: "bytes | str | None") -> List[str]:
    """All ``a[href]`` attribute values in document order.

    Matches the DOM semantics the reference relies on: the raw
    attribute value with HTML entities decoded (the browser decodes
    entities when ``get_attribute('href')`` is read). Anchors inside
    comments / scripts are excluded (the DOM never materializes them).
    """
    return _hrefs_from_doc(_strip_nontext(to_text(html)))


def _hrefs_from_doc(doc: str) -> List[str]:
    out: List[str] = []
    for m in _A_HREF_RE.finditer(doc):
        raw = m.group(2) if m.group(2) is not None else (
            m.group(3) if m.group(3) is not None else m.group(4)
        )
        out.append(_htmllib.unescape(raw))
    return out


# --- X9: meta http-equiv extraction (modules/SaveURL.py:35-38) ----------

# Reference-fidelity path: with bs4 installed at deploy time the tags
# are re-serialized via BeautifulSoup str(tag) exactly as the
# reference does (SaveURL.py:36-38) — byte-identical even for exotic
# HTML the regex path would pass through verbatim. extraction_mode()
# is recorded in the job manifest so outputs are auditable.
try:  # pragma: no cover - exercised only where bs4 is installed
    from bs4 import BeautifulSoup as _BS

    HAVE_BS4 = True
except Exception:
    _BS = None
    HAVE_BS4 = False


def extraction_mode() -> str:
    return "bs4" if HAVE_BS4 else "regex"


def extract_meta_http_equiv(html: "bytes | str | None") -> List[str]:
    """All ``<meta http-equiv=...>`` tags, as raw tag strings.

    The reference serializes via BeautifulSoup ``str(tag)``
    (SaveURL.py:36-38); that exact path runs when bs4 is importable.
    Without bs4 we return the verbatim source tag, which is
    byte-stable for our generated corpus (documented divergence for
    arbitrary HTML re-serialization).
    """
    if HAVE_BS4:
        soup = _BS(to_text(html) or "", "html.parser")
        return [
            str(t) for t in soup.find_all("meta", attrs={"http-equiv": True})
        ]
    return _meta_from_doc(_strip_nontext(to_text(html)))


def _meta_from_doc(doc: str) -> List[str]:
    return [m.group(0) for m in _META_HTTP_EQUIV_RE.finditer(doc)]


# --- K2/J5: meta-refresh redirect target --------------------------------

_REFRESH_CONTENT_RE = re.compile(
    r"""\bcontent\s*=\s*("([^"]*)"|'([^']*)'|([^\s>]+))""", re.I
)
_REFRESH_URL_RE = re.compile(
    r"^\s*0+\s*;\s*url\s*=\s*(['\"]?)(.*?)\1\s*$", re.I | re.S
)


def meta_refresh_target(
    html: "bytes | str | None", base_url: "Optional[str]" = None
) -> Optional[str]:
    """Zero-delay ``<meta http-equiv="refresh" content="0;url=...">``
    redirect target, resolved absolute against ``base_url``; None when
    the page is not an instant client-side redirect.

    Corpus-mode stand-in for HTTP 3xx hops: the reference sees server
    redirects through Playwright's response chain
    (crawler.py:145-150) and persists one row per hop
    (modules/SaveURL.py:80-126). A stored-page corpus carries no
    transport metadata, so chains are encoded in-band as zero-delay
    refresh stubs (the standard archive-crawler convention). Non-zero
    delays (e.g. ``content="3600"``) are NOT redirects and return None.
    """
    doc = to_text(html)
    # fast path: this runs on every fetched page of every wave, and
    # redirect stubs are a tiny corpus fraction — skip the (expensive)
    # comment/script strip unless the substring can occur at all
    if re.search("refresh", doc, re.I) is None:
        return None
    doc = _strip_nontext(doc)
    for tag in _META_HTTP_EQUIV_RE.finditer(doc):
        if not re.search(r"""http-equiv\s*=\s*['"]?refresh""", tag.group(0), re.I):
            continue
        m = _REFRESH_CONTENT_RE.search(tag.group(0))
        if not m:
            continue
        content = m.group(2) if m.group(2) is not None else (
            m.group(3) if m.group(3) is not None else m.group(4)
        )
        u = _REFRESH_URL_RE.match(_htmllib.unescape(content))
        if not u:
            continue
        target = u.group(2).strip()
        if not target:
            continue
        if base_url:
            from urllib.parse import urljoin

            return urljoin(base_url, target)
        return target
    return None


# --- text extraction (the byte-identical invariant surface) -------------

def extract_text(html: "bytes | str | None") -> str:
    """Deterministic visible-text extraction.

    Rule: drop comments + script/style/noscript/template subtrees,
    replace every remaining tag with a single space, entity-decode,
    collapse whitespace runs to one space, strip. The corpus generator
    embeds a known text body in each page; the engine must recover it
    byte-identically (BASELINE.json input_hint invariant).
    """
    return _text_from_doc(_strip_nontext(to_text(html)))


def _text_from_doc(doc: str) -> str:
    doc = _TAG_RE.sub(" ", doc)
    doc = _htmllib.unescape(doc)
    return _WS_RE.sub(" ", doc).strip()


# --- M4: login-form detection (modules/FindLoginForms.py:88-181) --------

# keyword regexes from FindLoginForms.py:27-31 (Playwright /…/i text
# selectors expressed as plain re with IGNORECASE):
LOGIN_KEYWORDS_1 = re.compile(
    r"log.?in|sign.?in|logge|anmeldung|anmelde|auth|"
    r"user.?name|e.?mail|nutzer|passwor|account|konto|mitglied",
    re.I,
)
LOGIN_KEYWORDS_2 = re.compile(
    r"continue|next|weiter|proceed|fortfahren|submit|access|enter|eintragen|zugang",
    re.I,
)
LOGIN_IGNORE = re.compile(r"search|news.?letter|subscribe", re.I)


def _input_types(block: str) -> List[str]:
    types = []
    for m in _INPUT_RE.finditer(block):
        t = _TYPE_ATTR_RE.search(m.group(0))
        if t is None:
            types.append("")
        else:
            types.append(
                (t.group(2) or t.group(3) or t.group(4) or "").lower()
            )
    return types


def _verify_login_block(block: str) -> bool:
    """Static analog of ``verify_login_form`` (FindLoginForms.py:89-130).

    * exactly one password input -> login form;
    * more than one password, or 0 / >2 text-ish inputs -> not;
    * else needs a login-keyword clickable and no IGNORE keyword.
    """
    types = _input_types(block)
    passwords = sum(1 for t in types if t == "password")
    texts = sum(1 for t in types if t in ("email", "text", ""))
    if passwords == 1:
        return True
    if passwords > 1 or texts == 0 or texts > 2:
        return False
    has_button = bool(
        LOGIN_KEYWORDS_1.search(block) or LOGIN_KEYWORDS_2.search(block)
    )
    return has_button and LOGIN_IGNORE.search(block) is None


def detect_login_form(html: "bytes | str | None") -> bool:
    """Static approximation of ``_find_login_form``
    (FindLoginForms.py:132-181): check each form/fieldset block, then
    fall back to a lone document-level password field. Button-clicking
    interaction (FindLoginForms.py:183-217) requires a browser and is
    out of scope in corpus mode (SURVEY.md §2.8 M4).
    """
    return _login_from_doc(_strip_nontext(to_text(html)))


def _login_from_doc(doc: str) -> bool:
    for m in _FORM_RE.finditer(doc):
        if _verify_login_block(m.group(0)):
            return True
    # fallback: password field outside any form block
    types = _input_types(doc)
    passwords = sum(1 for t in types if t == "password")
    texts = sum(1 for t in types if t in ("email", "text", ""))
    return passwords == 1 and texts <= 2


# --- M5: cookie-banner detection (modules/AcceptCookies.py:19-25) --------

COOKIE_KEYWORDS_ENG = re.compile(
    r"(\W|^)(accept|okay|ok|consent|agree|allow|understand|continue|yes|"
    r"got.?it|fine)(\W|$)",
    re.I,
)
COOKIE_KEYWORDS_GER = re.compile(
    r"(\W|^)(stimm|verstanden|versteh|akzeptier|ja(\W|$)|weiter(\W|$)|"
    r"annehm|bestätig|willig|lasse)",
    re.I,
)
COOKIE_IGNORE = re.compile(r"(\W|^)(no|not|nicht|nein|limit)(\W|$)", re.I)
# SSO providers (utils.py:25-28)
SSO = re.compile(
    r"facebook|twitter|google|yahoo|windows.?live|linked.?in|git.?hub|pay.?pal|amazon|"
    r"v.?kontakte|yandex|37.?signals|salesforce|fitbit|baidu|ren.?ren|weibo|aol|shopify|"
    r"word.?press|dwolla|miicard|yammer|sound.?cloud|instagram|the.?city|apple|slack|"
    r"evernote",
    re.I,
)


def detect_cookie_banner(html: "bytes | str | None") -> bool:
    """True when a clickable element carries a cookie-accept keyword
    (EN first, then DE — AcceptCookies.py:86-94) and is neither an SSO
    button nor a negative/limiting button (AcceptCookies.py:104-110)."""
    return _cookie_from_doc(_strip_nontext(to_text(html)))


def _cookie_from_doc(doc: str) -> bool:
    # doc-wide pre-filter: if no accept keyword occurs ANYWHERE, no
    # clickable can match — two C-level scans replace 2-4 regex
    # searches per clickable element (the per-element loop dominated
    # page_features at ~75% of its CPU). Exactness: every clickable
    # block is a tag-delimited substring of doc, so an element-level
    # keyword match implies the same match doc-wide (the (\W|^)/(\W|$)
    # anchors can only bind at '<'/'>' boundaries, which are \W).
    if not (
        COOKIE_KEYWORDS_ENG.search(doc) or COOKIE_KEYWORDS_GER.search(doc)
    ):
        return False
    for m in _CLICKABLE_RE.finditer(doc):
        outer = m.group(0)
        # keyword first: most clickables carry none, and the SSO
        # alternation (~30 branches) is the costliest scan — run it
        # only on elements that already matched a keyword. Boolean-
        # identical to checking SSO/IGNORE first (AcceptCookies.py
        # order): returns True iff keyword AND NOT (sso OR ignore).
        if COOKIE_KEYWORDS_ENG.search(outer) or COOKIE_KEYWORDS_GER.search(outer):
            if not (SSO.search(outer) or COOKIE_IGNORE.search(outer)):
                return True
    return False


def page_features(html: "bytes | str | None", with_hrefs: bool = True):
    """Fused per-page extraction for the fetch wave's single
    html->Python pass: (extracted_text, meta_headers, has_login_form,
    has_cookie_banner, hrefs) computed over ONE decode + ONE
    comment/script strip instead of five (the strip's two whole-doc
    regex subs dominate the per-page cost). ``with_hrefs=False`` skips
    link extraction for waves that collect no links (the final crawl
    depth — the largest wave of a BFS crawl).

    meta_headers goes through the bs4 re-serialization when the
    library is present — the SAME path extract_meta_http_equiv takes —
    so the manifest's recorded ``meta_headers`` extraction mode
    describes what this (the wave's actual producer) emitted."""
    raw = to_text(html)
    doc = _strip_nontext(raw)
    if HAVE_BS4 and _HTTP_EQUIV_HINT_RE.search(raw or ""):
        # cheap prefilter over the RAW text (bs4 parses noscript/
        # template contents that the strip removes — the prefilter
        # must not hide tags the bs4 path would emit) via a
        # case-insensitive regex scan: no lowercase copy of the
        # document on this hot path. Pages without the attribute (the
        # overwhelming majority) never pay the BeautifulSoup parse.
        metas = extract_meta_http_equiv(html)
    else:
        metas = _meta_from_doc(doc)
    return (
        _text_from_doc(doc),
        metas,
        _login_from_doc(doc),
        _cookie_from_doc(doc),
        _hrefs_from_doc(doc) if with_hrefs else None,
    )


# --- M3/S5: sub-resource references (CollectRequests analog) --------------

_IMG_RE = re.compile(r"""<img\b[^>]*?\bsrc\s*=\s*("([^"]*)"|'([^']*)'|([^\s>]+))""", re.I)
_SCRIPT_SRC_RE = re.compile(
    r"""<script\b[^>]*?\bsrc\s*=\s*("([^"]*)"|'([^']*)'|([^\s>]+))""", re.I
)
_LINK_RE = re.compile(r"<link\b[^>]*>", re.I)
_HREF_ATTR_RE = re.compile(
    r"""\bhref\s*=\s*("([^"]*)"|'([^']*)'|([^\s>]+))""", re.I
)
_REL_STYLESHEET_RE = re.compile(r"""\brel\s*=\s*["']?stylesheet""", re.I)


def extract_resource_refs(html: "bytes | str | None"):
    """(resource_type, url) pairs a browser would fetch while loading
    the page — the corpus-mode source of the ``requests`` fact table
    (reference: every observed sub-resource response,
    modules/CollectRequests.py:99-124). Types follow Playwright's
    ``request.resource_type``: image / script / stylesheet."""
    doc = _COMMENT_RE.sub(" ", to_text(html))
    out = []
    for m in _IMG_RE.finditer(doc):
        out.append(("image", _htmllib.unescape(m.group(2) or m.group(3) or m.group(4))))
    for m in _SCRIPT_SRC_RE.finditer(doc):
        out.append(("script", _htmllib.unescape(m.group(2) or m.group(3) or m.group(4))))
    for m in _LINK_RE.finditer(doc):
        tag = m.group(0)
        if _REL_STYLESHEET_RE.search(tag):
            h = _HREF_ATTR_RE.search(tag)
            if h:
                out.append(("stylesheet", _htmllib.unescape(h.group(2) or h.group(3) or h.group(4))))
    return out
