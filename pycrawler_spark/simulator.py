"""Pure-Python reference-parity simulator.

Replays the exact crawl semantics of the reference's serial loop —
seed ingest (add_tasks_tranco.py:16-52), frontier dequeue
(database.py:257-285), CollectUrls link discovery + budget
(modules/CollectUrls.py:28-141), URL-seen set (database.py:287-291) —
against the same synthetic ``pages`` corpus the Spark engine crawls.
It is the oracle for crawl-order / seen-set / fetch-code parity tests
(SURVEY.md §5.3, north rule).

The only intentional deviation from the reference is shared with the
engine: the unseeded ``random.shuffle`` of discovered links
(CollectUrls.py:122-127) is replaced by the deterministic
md5(seed||url) order (SURVEY.md §7) — the reference's own order is
irreproducible by construction.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Set, Tuple

from pycrawler_spark import htmlkit, urlkit
from pycrawler_spark.config import CrawlConfig


def shuffle_key(seed: str, url: str) -> str:
    """Identical to functions.udfs.det_shuffle_key and DuckDB
    ``substr(md5(seed || url), 1, 16)``."""
    return hashlib.md5((seed + url).encode("utf-8")).hexdigest()[:16]


@dataclass
class SimTask:
    task_id: int
    job: str
    scheme: str
    site: str          # eTLD+1 (Site.site, database.py:88)
    landing_url: str
    landing_origin: str
    budget: int


@dataclass
class SimResult:
    tasks: List[SimTask] = field(default_factory=list)
    # per-task visit log: (url, depth, repetition) in visit order
    visits: Dict[int, List[Tuple[str, int, int]]] = field(default_factory=dict)
    # fetch rows: (task_id, url, depth, repetition, code)
    fetches: List[Tuple[int, str, int, int, int]] = field(default_factory=list)
    # per-task URL-seen set (normalized keys)
    seen: Dict[int, Set[str]] = field(default_factory=dict)
    # per-task frontier insertion log: (url, depth, from_url) in insertion order
    inserted: Dict[int, List[Tuple[str, int, Optional[str]]]] = field(default_factory=dict)
    # redirect chains: (task_id, requested_url) -> (final_url|None,
    # [(hop_url, code, location), ...]) — only urls that redirected
    chains: Dict[Tuple[int, str], Tuple[Optional[str], List[Tuple[str, int, str]]]] = field(
        default_factory=dict
    )


def ingest_seeds(seeds: List[dict], job: str, cfg: CrawlConfig) -> List[SimTask]:
    """Seed ingest semantics of add_tasks_tranco.py:16-52."""
    tasks: List[SimTask] = []
    for entry in seeds:
        rank, url = int(entry["rank"]), str(entry["url"])
        scheme = "https" if url.startswith("https") else ("http" if url.startswith("http") else "https")
        url = ("https://" if not url.strip().startswith("http") else "") + url.strip()
        parsed = urlkit.parse_url(url)
        if parsed is None:
            continue  # bad TLD -> skipped (add_tasks_tranco.py:22-24)
        tasks.append(
            SimTask(
                task_id=rank,
                job=job,
                scheme=scheme,
                site=parsed.fld,
                landing_url=url,
                landing_origin=urlkit.url_origin(parsed),
                budget=cfg.max_urls,
            )
        )
    return tasks


def resolve_chain(
    pages: Dict[str, Optional[bytes]], url: str, cfg: CrawlConfig
) -> Tuple[str, Optional[bytes], List[Tuple[str, int, str]]]:
    """Follow zero-delay meta-refresh stubs through the corpus — the
    simulator twin of CrawlEngine._resolve_targets (K2/J5,
    crawler.py:145-150 chain walk). Returns (final_url, final_html,
    chain); after max_redirects hops the current stub is final."""
    chain: List[Tuple[str, int, str]] = []
    cur, html, hops = url, pages.get(url), 0
    while (
        cfg.follow_meta_refresh and html is not None and hops < cfg.max_redirects
    ):
        tgt = htmlkit.meta_refresh_target(html, cur)
        if tgt is None:
            break
        chain.append((cur, 200, tgt))
        cur, html = tgt, pages.get(tgt)
        hops += 1
    return cur, html, chain


def _collect_urls(
    task: SimTask,
    final_url: str,
    html: Optional[bytes],
    depth: int,
    seen: Set[str],
    cfg: CrawlConfig,
    url_filters=None,
) -> Tuple[List[Tuple[str, str]], bool]:
    """CollectUrls.receive_response (CollectUrls.py:28-141) for one page.

    Returns (ordered list of (url_full, norm) links to insert-candidates
    BEFORE budget truncation, page_was_self_seen). Mutates ``seen``
    exactly as the reference does (found links are seen even when the
    budget later truncates them; CollectUrls.py:105-111 vs :131).
    """
    if depth >= cfg.depth:              # CollectUrls.py:36-37
        return [], False
    if task.budget < 1:                 # CollectUrls.py:39-40
        return [], False
    parsed_final = urlkit.parse_url(final_url)
    if parsed_final is None:            # CollectUrls.py:42-44
        return [], False
    # page self-seen (CollectUrls.py:46-49)
    seen.add(urlkit.seen_key(urlkit.url_str_with_query_fragment(parsed_final)))
    self_seen = True
    if html is None:                    # CollectUrls.py:51-54
        return [], True

    found: List[Tuple[str, str, int]] = []
    for pos, href in enumerate(htmlkit.extract_hrefs(html)):
        link = urlkit.url_from_href(href, parsed_final)
        if link is None:
            continue
        if cfg.same_scheme and task.scheme != link.scheme:      # F3
            continue
        if cfg.same_origin and task.landing_origin != urlkit.url_origin(link):  # F4
            continue
        if cfg.same_etldp1 and task.site != link.fld:           # F5
            continue
        # F6 pluggable filter-out (CollectUrls.py:101-102): after the
        # F3-F5 checks, BEFORE the seen check — a filtered link is
        # never seen-added
        if any(f(link) for f in (url_filters or [])):
            continue
        full = urlkit.url_str_with_query_fragment(link)
        key = urlkit.seen_key(full)
        if key in seen:                                          # J1
            continue
        seen.add(key)
        found.append((full, key, pos))

    # O5 prioritization / deterministic shuffle (CollectUrls.py:119-127,
    # seeded per SURVEY.md §7)
    n = len(found)
    if cfg.first_and_last:
        head, tail = int(n * 0.15), int(n * 0.85)
        def grp(i: int) -> int:
            return 0 if (i < head or i >= tail) else 1
    else:
        def grp(i: int) -> int:
            return 0
    ordered = sorted(
        range(n),
        key=lambda i: (grp(i), shuffle_key(cfg.shuffle_seed, found[i][0]), found[i][2]),
    )
    return [(found[i][0], found[i][1]) for i in ordered], self_seen


def simulate(
    pages: Dict[str, Optional[bytes]],
    seeds: List[dict],
    cfg: CrawlConfig,
    job: str = "sim",
    url_filters=None,
) -> SimResult:
    """Run the full crawl for every task, serially per task (the
    reference runs one crawler process per site, main.py:123-140;
    tasks are independent)."""
    res = SimResult()
    res.tasks = ingest_seeds(seeds, job, cfg)

    for task in res.tasks:
        seen: Set[str] = set()
        visits: List[Tuple[str, int, int]] = []
        inserted: List[Tuple[str, int, Optional[str]]] = [(task.landing_url, 0, None)]
        # frontier: list of [url, depth, from_url]; dequeue = insertion
        # order, BFS depth-first-match then any (database.py:257-285)
        frontier: List[List] = [[task.landing_url, 0, None, "free"]]
        cur_depth = 0

        if cfg.login_seed_injection:
            # M4 seed injection via add_url (FindLoginForms.py:39-63,
            # database.py:293-320): seen-check, seen-add, parse-check,
            # insert. quote(site) is identity for valid hostnames.
            sufs = ["/login/", "/signin/", "/account/", "/profile/",
                    "/auth/", "/authenticate/"]
            adds = [
                (f'https://www.google.com/search?q="login"+site%3A{task.site}',
                 cfg.depth - 1)
            ]
            adds += [(task.landing_url + s, cfg.depth) for s in sufs]
            if cfg.same_etldp1:
                adds += [(f"{task.scheme}://{task.site}{s}", cfg.depth)
                         for s in sufs]
            for u, d in adds:
                key = urlkit.seen_key(u)
                if key in seen:
                    continue
                seen.add(key)
                if urlkit.parse_url(u) is None:
                    continue
                frontier.append([u, d, None, "free"])
                inserted.append((u, d, None))

        def dequeue() -> Optional[List]:
            nonlocal cur_depth
            for row in frontier:
                if row[3] == "free" and row[1] == cur_depth:
                    return row
            for row in frontier:
                if row[3] == "free":
                    return row
            return None

        while True:
            row = dequeue()
            if row is None:
                break
            row[3] = "progress"
            url, depth, from_url = row[0], row[1], row[2]
            cur_depth = depth
            final_url, html, chain = resolve_chain(pages, url, cfg)
            code = 200 if html is not None else cfg.code_response_error
            if chain:
                res.chains[(task.task_id, url)] = (
                    final_url if html is not None else None,
                    chain,
                )

            for rep in range(1, cfg.repetitions + 1):
                visits.append((url, depth, rep))
                res.fetches.append((task.task_id, url, depth, rep, code))
                if rep == 1:
                    links, _ = _collect_urls(
                        task, final_url if html is not None else "about:blank",
                        html, depth, seen, cfg, url_filters,
                    )
                    n_found = len(links)
                    for full, _key in links[: max(0, task.budget)]:
                        frontier.append([full, depth + 1, url, "free"])
                        inserted.append((full, depth + 1, url))
                    task.budget = max(0, task.budget - n_found)
            row[3] = "complete"

        res.visits[task.task_id] = visits
        res.seen[task.task_id] = seen
        res.inserted[task.task_id] = inserted
    return res
