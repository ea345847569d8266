"""Feature-level engine tests: login-seed injection parity (M4),
repetitions (O3), FIRST_AND_LAST (O5), robots blocking, requests
derivation (M3/M6), resume idempotence (T3)."""

import pytest
from pyspark.sql import functions as F

from pycrawler_spark.config import CrawlConfig
from pycrawler_spark.plans.crawl import CrawlEngine
from pycrawler_spark.simulator import simulate
from pycrawler_spark.sources.corpus import generate_corpus, write_corpus


def _run_both(spark, tmp_path, cfg, corpus_kw=None, robots=False,
              engine_url_filters=None, sim_url_filters=None):
    kw = dict(seed=42, n_hosts=4, pages_per_host=10, mega_factor=2)
    kw.update(corpus_kw or {})
    pages_p, seeds_p, robots_p = write_corpus(str(tmp_path / "c"), **kw)
    pages, seeds, _ = generate_corpus(**kw)
    sim = simulate({p["url"]: p["html"] for p in pages}, seeds, cfg.copy(),
                   url_filters=sim_url_filters)
    eng = CrawlEngine(spark, str(tmp_path / "job"), cfg.copy(), job="t",
                      url_filters=engine_url_filters)
    eng.init_job(
        spark.read.parquet(seeds_p),
        pages_p,
        robots=spark.read.parquet(robots_p) if robots else None,
    )
    eng.run()
    return eng, sim


def _visits(eng):
    rows = eng.table("fetches").select(
        "task_id", "url", "depth", "seq", "repetition"
    ).collect()
    by_task = {}
    for r in sorted(rows, key=lambda r: (r.task_id, r.depth, r.seq, r.repetition)):
        by_task.setdefault(r.task_id, []).append((r.url, r.depth, r.repetition))
    return by_task


def _seen(eng):
    got = {}
    for r in eng.table("seen").collect():
        got.setdefault(r.task_id, set()).add(r.url_norm)
    return got


def test_login_injection_parity(spark, tmp_path):
    cfg = CrawlConfig(depth=2, max_urls=30, login_seed_injection=True)
    eng, sim = _run_both(spark, tmp_path, cfg)
    assert _visits(eng) == sim.visits
    assert _seen(eng) == {t: s for t, s in sim.seen.items() if s}
    # injected URLs actually fetched (as corpus misses)
    urls = {r.url for r in eng.table("fetches").collect()}
    assert any(u.endswith("/login/") for u in urls)
    assert any("google.com/search" in u for u in urls)


def test_repetitions_parity(spark, tmp_path):
    cfg = CrawlConfig(depth=1, max_urls=10, repetitions=3)
    eng, sim = _run_both(spark, tmp_path, cfg)
    assert _visits(eng) == sim.visits
    reps = eng.table("fetches").groupBy("repetition").count().collect()
    assert {r.repetition for r in reps} == {1, 2, 3}


def test_resheaders_json_queryable(spark, tmp_path):
    """K1 fidelity: fetches carry the corpus-provided response headers
    as a JSON string column (reference SaveURL.py:71-72), so the
    get_json_object pattern works on engine output; rows without a
    stored response (misses, stubs) carry null."""
    cfg = CrawlConfig(depth=1, max_urls=20)
    eng, _ = _run_both(spark, tmp_path, cfg)
    f = eng.table("fetches")
    assert "resheaders" in f.columns
    ok = f.filter(F.col("code") == 200).withColumn(
        "server", F.get_json_object("resheaders", "$.server")
    )
    servers = {r.server for r in ok.select("server").distinct().collect()}
    assert servers <= {"nginx", "apache", "caddy", None}
    assert servers & {"nginx", "apache", "caddy"}
    # misses have no response -> null headers
    assert (
        eng.table("fetches")
        .filter((F.col("code") < 0) & F.col("resheaders").isNotNull())
        .count()
        == 0
    )


def test_custom_url_filter_parity(spark, tmp_path):
    """F6 pluggable filter-out hook (Module.py:23-24,
    CollectUrls.py:101-102): the same predicate — 'drop URLs whose
    path contains p1' — expressed as a Column predicate in the engine
    and a plain-Python ParsedUrl predicate in the simulator must yield
    identical crawls (the filter applies after F3-F5 and BEFORE the
    seen check, so filtered URLs are never seen-added)."""
    cfg = CrawlConfig(depth=2, max_urls=30)
    eng, sim = _run_both(
        spark, tmp_path, cfg,
        engine_url_filters=[lambda link: link["path"].rlike("p1")],
        sim_url_filters=[lambda link: __import__("re").search("p1", link.path) is not None],
    )
    assert _visits(eng) == sim.visits
    assert _seen(eng) == {t: s for t, s in sim.seen.items() if s}
    # the filter actually bit: no url with 'p1' in its PATH was ever
    # frontier-inserted (depth-0 seed rows have path '/' or '')
    import urllib.parse

    paths = {urllib.parse.urlsplit(r.url).path
             for r in eng.table("frontier").collect()}
    assert not any("p1" in p for p in paths), paths
    # and links that p1-pages would have contributed are really gone:
    # the unfiltered parity fixture (other tests) does insert p1 pages
    assert any("p2" in p or "p3" in p for p in paths)


def test_first_and_last_parity(spark, tmp_path):
    cfg = CrawlConfig(depth=2, max_urls=6, first_and_last=True)
    eng, sim = _run_both(spark, tmp_path, cfg, corpus_kw={"branching": 5})
    assert _visits(eng) == sim.visits
    assert _seen(eng) == {t: s for t, s in sim.seen.items() if s}


def test_robots_blocking(spark, tmp_path):
    """Even-numbered hosts disallow /p7; with obey_robots the engine
    marks those rows code -3 and never fetches them."""
    cfg = CrawlConfig(depth=3, max_urls=50, obey_robots=True)
    eng, _ = _run_both(spark, tmp_path, cfg, robots=True)
    blocked = eng.table("fetches").filter(F.col("code") == -3).collect()
    assert blocked, "expected robots-blocked rows"
    for r in blocked:
        assert r.url.endswith("/p7")
    # blocked urls appear exactly once and were never fetched with 200
    ok = eng.table("fetches").filter(
        (F.col("code") == 200) & F.col("url").isin([r.url for r in blocked])
    ).count()
    assert ok == 0


def test_requests_and_media(spark, tmp_path):
    cfg = CrawlConfig(depth=1, max_urls=10, collect_requests=True,
                      instrument_media=True)
    eng, _ = _run_both(spark, tmp_path, cfg)
    reqs = eng.table("requests")
    types = {r.resource_type for r in reqs.select("resource_type").distinct().collect()}
    assert {"document", "image", "script", "stylesheet"} <= types
    # navigation rows match fetched pages with code 200
    nav = reqs.filter(F.col("navigation")).count()
    ok = eng.table("fetches").filter(F.col("code") == 200).count()
    assert nav == ok
    # M6: image rows intercepted with constant pixel body, others not
    img = reqs.filter(F.col("resource_type") == "image").collect()
    assert img and all(r.intercepted and bytes(r.body) for r in img)
    other = reqs.filter(F.col("resource_type") != "image").collect()
    assert all(not r.intercepted and r.body is None for r in other)


@pytest.mark.parametrize("leftover_compact_tmp", [False, True],
                         ids=["mid_wave", "mid_compact"])
def test_resume_recomputes_interrupted_wave(spark, tmp_path, leftover_compact_tmp):
    """Kill-after-partial-write: drop the manifest commit of the last
    wave, resume, re-run -> identical fetch set (T3 exactly-once). The
    mid_compact form also dies inside a seen compaction, leaving its
    half-written ``seen/_compact_tmp`` snapshot behind."""
    import json
    import os

    cfg = CrawlConfig(depth=2, max_urls=20)
    eng, sim = _run_both(spark, tmp_path, cfg)
    before = {(r.task_id, r.url, r.depth, r.repetition, r.code)
              for r in eng.table("fetches").collect()}

    # simulate a crash during the last wave: roll the manifest back one
    # committed wave but leave its (now orphan) directories on disk
    job = str(tmp_path / "job")
    mpath = os.path.join(job, "manifest.json")
    m = json.load(open(mpath))
    dropped = m["waves"].pop()
    m["next_wave"] = dropped["wave_id"]
    json.dump(m, open(mpath, "w"))
    compact_tmp = os.path.join(job, "seen", "_compact_tmp")
    if leftover_compact_tmp:
        os.makedirs(compact_tmp)
        with open(os.path.join(compact_tmp, "part-00000.parquet"), "wb") as f:
            f.write(b"PAR1 truncated")

    eng2 = CrawlEngine(spark, job, cfg.copy(), job="t")
    eng2.resume()
    for t in dropped["tables"]:
        assert not os.path.isdir(
            os.path.join(job, t, f"wave={dropped['wave_id']:05d}")
        )
    assert not os.path.exists(compact_tmp)
    # continue the crawl from the rolled-back state
    eng2.run()
    after = {(r.task_id, r.url, r.depth, r.repetition, r.code)
             for r in eng2.table("fetches").collect()}
    assert after == before


def test_politeness_preserves_order_and_sets(spark, tmp_path):
    """Politeness sub-waves split a depth level across waves but must
    preserve per-task visit order (seq-prefix property) and the final
    frontier/seen state — the simulator knows nothing about politeness,
    so equality proves the splitting is semantically invisible."""
    cfg = CrawlConfig(depth=2, max_urls=25, politeness=True,
                      wave_interval_ms=18000)  # 3 pages/host/wave
    eng, sim = _run_both(spark, tmp_path, cfg)
    assert _visits(eng) == sim.visits
    assert _seen(eng) == {t: s for t, s in sim.seen.items() if s}
    # politeness actually split depths into multiple waves
    waves = eng._load_manifest()["waves"]
    depths = [w["depth"] for w in waves if w["depth"] >= 0]
    assert len(depths) > len(set(depths)), "expected sub-waves"


@pytest.mark.parametrize("politeness", [False, True], ids=["atomic", "politeness"])
def test_tight_budget_keeps_flat_seen_deltas(spark, tmp_path, monkeypatch, politeness):
    """A binding budget (max_urls=1) leaves most found links out of the
    frontier. run() must still never compact: every link-collecting
    wave keeps its own flat seen delta of (task_id, url_norm) files."""
    import os

    import pyarrow.parquet as pq

    def no_compact(self, tables=("frontier", "seen", "fetches")):
        raise AssertionError(f"run() compacted {tables}")

    monkeypatch.setattr(CrawlEngine, "compact", no_compact)
    cfg = CrawlConfig(depth=2, max_urls=1, politeness=politeness)
    eng, sim = _run_both(spark, tmp_path, cfg)
    assert _visits(eng) == sim.visits
    assert _seen(eng) == {t: s for t, s in sim.seen.items() if s}

    m = eng._load_manifest()
    link_waves = [w["wave_id"] for w in m["waves"]
                  if w["kind"] == "fetch" and w["depth"] < cfg.depth]
    assert len(link_waves) >= 2
    assert eng._committed(m, "seen") == link_waves
    for w in link_waves:
        d = eng._dir("seen", w)
        files = [n for n in os.listdir(d) if n.endswith(".parquet")]
        assert files
        assert not any(os.path.isdir(os.path.join(d, n)) for n in os.listdir(d))
        for n in files:
            assert pq.read_schema(os.path.join(d, n)).names == ["task_id", "url_norm"]


def test_compaction_preserves_state_and_future_ingest(spark, tmp_path):
    """compact() merges per-wave deltas into one snapshot without
    changing table contents; a later streamed seed ingest still crawls
    only its own rows."""
    import os

    cfg = CrawlConfig(depth=2, max_urls=20)
    kw = dict(seed=42, n_hosts=4, pages_per_host=10, mega_factor=2)
    pages_p, seeds_p, _ = write_corpus(str(tmp_path / "c"), **kw)
    full = spark.read.parquet(seeds_p)
    eng = CrawlEngine(spark, str(tmp_path / "job"), cfg.copy(), job="t")
    eng.init_job(full.filter(F.col("rank") <= 3), pages_p)
    eng.run()

    def snap(e):
        return {
            "frontier": {tuple(r) for r in e.table("frontier")
                         .select("task_id", "url", "depth", "repetition", "seq")
                         .collect()},
            "seen": {tuple(r) for r in e.table("seen").collect()},
            "fetches": {tuple(r) for r in e.table("fetches")
                        .select("task_id", "url", "depth", "repetition",
                                "code", "seq").collect()},
        }

    before = snap(eng)
    n_dirs_before = len(os.listdir(str(tmp_path / "job" / "frontier")))
    out = eng.compact()
    assert out["frontier"] > 0
    n_dirs_after = len(os.listdir(str(tmp_path / "job" / "frontier")))
    assert n_dirs_after == 1 < n_dirs_before
    assert snap(eng) == before

    # streamed-in seeds after compaction: only the new tasks crawl
    n_old = eng.table("fetches").filter(F.col("task_id").isin([1, 2, 3])).count()
    eng.add_seeds(full.filter(F.col("rank") > 3))
    eng.run()
    assert eng.table("fetches").filter(
        ~F.col("task_id").isin([1, 2, 3])
    ).count() > 0
    # old tasks were not refetched
    assert eng.table("fetches").filter(
        F.col("task_id").isin([1, 2, 3])
    ).count() == n_old


def test_crawl_delay_caps_host_budget(spark):
    """T7/north rule: a robots Crawl-delay tightens the per-host
    per-wave cap to wave_interval/delay; hosts without a delay keep
    the politeness budget."""
    from pycrawler_spark.operators.scheduler import schedule_wave

    rows = [
        (1, f"https://{h}/p{i}", f"https://{h}/p{i}", h, 1, 1, i, None)
        for h in ("a.com", "b.org")
        for i in range(12)
    ]
    free = spark.createDataFrame(
        [(r[0], r[1], r[2], r[3], r[4], r[6], r[7]) for r in rows],
        "task_id long, url string, url_norm string, host string, "
        "depth int, seq long, from_url string",
    )
    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\nCrawl-delay: 2\n", 2.0)],
        "host string, rules string, crawl_delay double",
    )
    sched = schedule_wave(
        free, robots, host_budget=1000, obey_robots=True,
        wave_interval_ms=10_000,
    ).toPandas()
    a = sched[sched.host == "a.com"]
    b = sched[sched.host == "b.org"]
    # 10 s / 2 s delay -> 5 fetches of a.com per wave, seq-prefix order
    assert int(a.granted.sum()) == 5
    assert sorted(a[a.granted].seq) == [0, 1, 2, 3, 4]
    assert int(b.granted.sum()) == 12
    assert not a.blocked.any() and not b.blocked.any()


@pytest.mark.parametrize("politeness", [False, True], ids=["atomic", "politeness"])
def test_failed_wave_shuts_down_writer_pool(spark, tmp_path, politeness):
    """An exception inside the wave body must shut down the wave's
    writer thread pool (cancelling queued jobs) before propagating, so
    a manifest-replay retry never races orphan background writers on
    the same wave directories. It must also release every frame the
    wave cached or checkpointed (politeness sub-waves also cache the
    schedule); only the job's redirect closure stays."""
    from concurrent.futures import ThreadPoolExecutor

    pages_p, seeds_p, _ = write_corpus(
        str(tmp_path / "c"), seed=11, n_hosts=2, pages_per_host=4
    )
    eng = CrawlEngine(
        spark, str(tmp_path / "job"),
        CrawlConfig(depth=1, max_urls=10, politeness=politeness),
        job="poolfail",
    )
    eng.init_job(spark.read.parquet(seeds_p), pages_p)
    closure = eng._redirect_closure()
    if closure is not None:
        closure.count()
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    entries_before = cache_manager.numCachedEntries()
    rdds_before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    seen_pools = []
    orig = eng._run_wave_body

    def recording_body(m, depth, held):
        try:
            return orig(m, depth, held)
        finally:
            seen_pools.extend(h for h in held if isinstance(h, ThreadPoolExecutor))

    def failing_write_seen(*args):
        raise RuntimeError("injected wave failure")

    eng._run_wave_body = recording_body
    eng._write_seen = failing_write_seen
    with pytest.raises(RuntimeError, match="injected wave failure"):
        eng.run()
    assert seen_pools, "wave body never created a writer pool"
    for pool in seen_pools:
        # ThreadPoolExecutor._shutdown flips only via shutdown()
        assert pool._shutdown, "writer pool left running after failure"
    assert cache_manager.numCachedEntries() == entries_before, \
        "failed wave left a cached plan registered"
    left = set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) - rdds_before
    assert not left, f"failed wave left persisted RDDs {sorted(left)}"


def test_manifest_records_extraction_modes(spark, tmp_path):
    from pycrawler_spark.config import CrawlConfig
    from pycrawler_spark.plans.crawl import CrawlEngine
    from pycrawler_spark.sources.corpus import write_corpus

    pages_p, seeds_p, _ = write_corpus(
        str(tmp_path / "c"), seed=13, n_hosts=2, pages_per_host=4
    )
    eng = CrawlEngine(
        spark, str(tmp_path / "job"), CrawlConfig(depth=0, max_urls=5),
        job="modes",
    )
    eng.init_job(spark.read.parquet(seeds_p), pages_p)
    modes = eng._load_manifest()["extraction_modes"]
    assert modes["tokenize"] in ("nltk-wordnet", "morphy-approx")
    assert modes["meta_headers"] in ("bs4", "regex")
    assert modes["psl"]  # shipped-subset or a dat path


def test_slim_link_struct_matches_full(spark, tmp_path):
    """Without F6 filters the wave ships the 6-field slim link struct;
    with any filter registered it ships the full 11-field one. Crawl
    results must be identical (a no-op filter forces the full path)."""
    from pycrawler_spark.config import CrawlConfig
    from pycrawler_spark.plans.crawl import CrawlEngine
    from pycrawler_spark.sources.corpus import write_corpus

    pages_p, seeds_p, _ = write_corpus(
        str(tmp_path / "c"), seed=31, n_hosts=4, pages_per_host=8,
        mega_factor=2,
    )

    def run(tag, filters):
        eng = CrawlEngine(
            spark, str(tmp_path / tag), CrawlConfig(depth=2, max_urls=12),
            job=tag, url_filters=filters,
        )
        eng.init_job(spark.read.parquet(seeds_p), pages_p)
        eng.run()
        rows = eng.table("fetches").select(
            "task_id", "url", "url_norm", "depth", "seq", "code",
        ).collect()
        return sorted(tuple(r) for r in rows)

    from pyspark.sql import functions as F2

    noop = lambda link: F2.lit(False)  # filters out nothing -> full struct
    assert run("slim", None) == run("full", [noop])


# (task_id, parent path, link names in document order): links repeat
# within a group (a2 normalizes to a), across groups (b, c) and against
# the persistent seen set
_KERNEL_GROUPS = [
    (1, "s/p0", ["a", "b", "a2", "seen"]),
    (1, "s/p1", ["b", "c", "d", "e", "f", "g", "h"]),
    (1, "s/p2", ["c", "i", "j"]),
    (2, "t/p", ["x"]),
]
_KERNEL_BUDGETS = {"ample": 100, "mid_group": 5, "group_boundary": 2, "zero": 0}
# "parent link:order_rank ..." per emitted group, rank 0 = found but not
# inserted; captured from the per-row sequential fold the vectorized
# kernel replaced
_KERNEL_EXPECTED = {
    ("ample", False): "s/p0 a:1 b:2 | s/p1 f:3 c:4 g:5 d:6 h:7 e:8 | s/p2 i:9 j:10 | t/p x:1",
    ("ample", True): "s/p0 b:1 a:2 | s/p1 h:3 f:4 c:5 g:6 d:7 e:8 | s/p2 j:9 i:10 | t/p x:1",
    ("mid_group", False): "s/p0 a:1 b:2 | s/p1 f:3 c:4 g:5 d:0 h:0 e:0 | t/p x:1",
    ("mid_group", True): "s/p0 b:1 a:2 | s/p1 h:3 f:4 c:5 g:0 d:0 e:0 | t/p x:1",
    ("group_boundary", False): "s/p0 a:1 b:2 | t/p x:1",
    ("group_boundary", True): "s/p0 b:1 a:2 | t/p x:1",
    ("zero", False): "",
    ("zero", True): "",
}


@pytest.mark.parametrize("first_and_last", [False, True], ids=["fifo", "first_and_last"])
@pytest.mark.parametrize("budget", list(_KERNEL_BUDGETS))
def test_kernel_matches_fold_rows(spark, budget, first_and_last):
    """The dedup/budget kernel emits exactly the serial per-parent
    loop's rows (self rows, found links, ranks) whether the budget is
    ample, runs out inside a group, runs out at a group boundary or is
    0 — with and without the FIRST_AND_LAST split. Task 3 has seen rows
    and no candidates."""
    from pycrawler_spark.operators.links import dedup_budget_kernel

    b = _KERNEL_BUDGETS[budget]
    rows = []
    for seq, (task, parent, links) in enumerate(_KERNEL_GROUPS):
        host = parent.split("/")[0]
        p = f"https://{parent}"
        rows.append((task, "parent", seq, -1, p, p, None, None, b))
        for pos, name in enumerate(links):
            url = f"https://{host}/{name}"
            rows.append((task, "link", seq, pos, url, url.rstrip("2"), host,
                         str(pos * 3 % 10), b))
    cand = spark.createDataFrame(
        rows,
        "task_id long, kind string, parent_seq long, pos int, url string, "
        "url_norm string, host string, skey string, budget long",
    )
    seen = spark.createDataFrame(
        [(1, "https://s/seen"), (3, "https://u/z")], "task_id long, url_norm string"
    )
    got = dedup_budget_kernel(cand, seen, CrawlConfig(first_and_last=first_and_last))

    want = []
    for group in filter(None, _KERNEL_EXPECTED[budget, first_and_last].split(" | ")):
        parent, *links = group.split()
        host = parent.split("/")[0]
        task = 1 if host == "s" else 2
        p = f"https://{parent}"
        want.append((task, "self", p, p, None, None, 0, False))
        for link in links:
            name, rank = link.split(":")
            url = f"https://{host}/{name}"
            want.append((task, "link", url, url, host, p, int(rank), rank != "0"))
    assert sorted(tuple(r) for r in got.collect()) == sorted(want)


def test_priority_mode_reorders_politeness_subwaves(spark, tmp_path):
    """Engine pass-through of the opt-in priority scheduler (r4):
    with politeness sub-waves, set_priority() pulls high-priority
    depth-1 URLs into the FIRST sub-wave of their depth even though
    FIFO (seq) order would schedule them last; the overall fetched
    SET is unchanged — priority only reorders grants."""
    kw = dict(seed=42, n_hosts=2, pages_per_host=10, mega_factor=2)
    pages_p, seeds_p, _ = write_corpus(str(tmp_path / "c"), **kw)
    cfg = CrawlConfig(depth=1, max_urls=25, politeness=True,
                      wave_interval_ms=18000)  # 3 pages/host/wave

    def run(priority_rows):
        tag = "prio" if priority_rows else "fifo"
        eng = CrawlEngine(spark, str(tmp_path / f"job_{tag}"), cfg.copy(),
                          job=tag)
        eng.init_job(spark.read.parquet(seeds_p), pages_p)
        if priority_rows:
            eng.set_priority(spark.createDataFrame(
                priority_rows, "url_norm string, priority double"))
        eng.run()
        return eng.table("fetches").select(
            "wave_id", "url_norm", "host", "depth", "seq").collect()

    fifo = run(None)
    # per host: the depth-1 row with the HIGHEST seq — under FIFO it is
    # granted in the last sub-wave of its depth
    last_by_host = {}
    first_wave_d1 = {}
    for r in fifo:
        if r.depth == 1:
            cur = last_by_host.get(r.host)
            if cur is None or r.seq > cur.seq:
                last_by_host[r.host] = r
            w = first_wave_d1.get(r.host)
            first_wave_d1[r.host] = (
                r.wave_id if w is None else min(w, r.wave_id))
    assert any(last_by_host[h].wave_id > first_wave_d1[h]
               for h in last_by_host), "fixture must span sub-waves"

    prio = run([(r.url_norm, 1.0) for r in last_by_host.values()])
    prio_wave = {r.url_norm: r.wave_id for r in prio if r.depth == 1}
    prio_first = {}
    for r in prio:
        if r.depth == 1:
            w = prio_first.get(r.host)
            prio_first[r.host] = (
                r.wave_id if w is None else min(w, r.wave_id))
    for h, row in last_by_host.items():
        assert prio_wave[row.url_norm] == prio_first[h], (
            f"{row.url_norm} not pulled into host {h}'s first sub-wave")
    # same fetched set either way
    assert {(r.url_norm, r.depth) for r in fifo} == \
           {(r.url_norm, r.depth) for r in prio}
