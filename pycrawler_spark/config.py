"""Crawl configuration.

Mirrors the knobs of the reference's ``Config`` class
(/root/reference/config-example.py:6-63) that affect *data semantics*.
Browser/process knobs (DEVICE, HEADLESS, RESTART_BROWSER, ...) have no
analog in a corpus-driven Spark engine and are intentionally absent.
BREADTHFIRST and FORCE_COLLECT are fixed at the reference defaults:
crawl order is insertion order either way (database.py:257-285), and a
corpus miss has no page to collect links from.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class CrawlConfig:
    # -- discovery semantics (config-example.py:35-43) -----------------
    recursive: bool = True          # RECURSIVE: collect links while crawling
    same_scheme: bool = True        # SAME_SCHEME   (F3)
    same_origin: bool = False       # SAME_ORIGIN   (F4)
    same_etldp1: bool = True        # SAME_ETLDP1   (F5)
    depth: int = 2                  # DEPTH: max link-discovery depth (F8)
    max_urls: int = 100             # MAX_URLS: per-task URL budget (A1/O4)

    repetitions: int = 1            # REPETITIONS (O3, database.py:317-320)

    # -- redirects (K2/J5, modules/SaveURL.py:80-126) --------------------
    # Corpus-mode redirect chains: zero-delay meta-refresh stubs are
    # followed like the browser follows 3xx hops (crawler.py:145-150).
    # After max_redirects hops the current stub is treated as the final
    # page (the browser analog: goto returns the first document of an
    # endless refresh loop).
    follow_meta_refresh: bool = True
    max_redirects: int = 5

    # -- prioritization (config-example.py:58-59) ----------------------
    first_and_last: bool = False    # FIRST_AND_LAST (O5)
    adult_filter: bool = False      # ADULT_FILTER   (F7/F9)

    # -- extraction modules (SURVEY.md §2.8) -----------------------------
    # M3 CollectRequests: derive the sub-resource `requests` fact table
    # per wave (modules/CollectRequests.py:99-167)
    collect_requests: bool = False
    # M6 InstrumentMedia: pixel-substitute image requests
    # (modules/InstrumentMedia.py:33-88)
    instrument_media: bool = False
    # M4 FindLoginForms seed injection: add /login/ /signin/ ... URLs
    # per task at init (modules/FindLoginForms.py:39-63). NOTE: in the
    # reference this code path is bit-rotted (reads a nonexistent
    # `crawler.initial` attribute, SURVEY.md §5); we implement the
    # intended initial-only semantics.
    login_seed_injection: bool = False

    # -- determinism (SURVEY.md §7) -------------------------------------
    # The reference shuffles discovered links with an unseeded
    # random.shuffle (modules/CollectUrls.py:122-127) which is
    # irreproducible. This engine replaces it with a seeded
    # deterministic pseudo-shuffle: links are ordered by
    # md5(seed || url_norm). The parity simulator uses the same rule.
    shuffle_seed: str = "42"

    # -- politeness (north rule; config-example.py:48-50) ---------------
    # The reference sleeps WAIT_BEFORE_LOAD=1000ms + WAIT_AFTER_LOAD=5000ms
    # around each navigation, serially per site. In wave mode this becomes
    # a per-host cap on URLs scheduled per wave:
    #   host_wave_budget = wave_interval_ms / per_page_cost_ms
    wait_before_load_ms: int = 1000
    wait_after_load_ms: int = 5000
    wave_interval_ms: int = 60_000  # logical wall-clock budget of one wave
    politeness: bool = False        # enforce per-host budgets (sub-waves)
    obey_robots: bool = False       # north-rule addition (reference TODO,
                                    # config-example.py:57)

    # -- error codes (config-example.py:63) ------------------------------
    code_response_error: int = -1
    code_robots_blocked: int = -3   # engine addition (no reference analog)

    # -- scale knobs ------------------------------------------------------
    host_buckets: int = 32          # hash-partition count for host-keyed state
    broadcast_wave_max_rows: int = 2_000_000  # broadcast fetch-wave side of the
                                    # corpus join below this size, else shuffle
    # below this persistent-seen size the exact semi-join alone beats
    # building + broadcasting a bloom each wave
    bloom_auto_threshold: int = 50_000

    @property
    def per_page_cost_ms(self) -> int:
        return self.wait_before_load_ms + self.wait_after_load_ms

    @property
    def sub_waves(self) -> bool:
        """Whether a depth runs as scheduler-planned sub-waves (per-host
        politeness budgets and/or robots blocking) instead of one atomic
        wave that fetches the whole depth."""
        return self.politeness or self.obey_robots

    @property
    def host_wave_budget(self) -> int:
        """Max pages fetched from one host within one wave."""
        if not self.politeness:
            return 1 << 30
        return max(1, self.wave_interval_ms // self.per_page_cost_ms)

    def copy(self, **overrides) -> "CrawlConfig":
        from dataclasses import replace

        return replace(self, **overrides)
