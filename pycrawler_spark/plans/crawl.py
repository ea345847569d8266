"""CrawlEngine — the bulk-synchronous wave crawler (T1-T5, SURVEY.md §3.2).

The reference's serial per-site loop (crawler.py:302-373) becomes one
*fetch wave* per BFS depth level (optionally split into per-host
politeness sub-waves). All durable state is log-structured parquet
(Iceberg-snapshot-shaped) under ``workdir``:

    manifest.json            committed-wave log (checkpoint, T3)
    tasks/wave=N/            per-task budget snapshots (A1 state)
    frontier/wave=N/         insert-only frontier deltas (K4)
    seen/wave=N/             URL-seen key deltas (J1/U1)
    fetches/wave=N/          fetch-result facts (K1/K2/M2)
    metrics/wave=N/          per-wave lineage + throughput (north rule)

State transitions are implicit in the log (a frontier row is complete
iff a fetches row exists for it), so there is no row mutation anywhere
— the reference's UPDATE-heavy state machine (database.py:184,320)
collapses into appends plus one manifest pointer.

Resume: waves are atomic (manifest committed last); an interrupted
wave is simply recomputed — every stage is deterministic, so replay
is idempotent (exactly-once semantics, the analog of the reference's
crashed-URL invalidation, crawler.py:224-229).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from typing import Dict, Iterator, List, Optional

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.window import Window

from pycrawler_spark import htmlkit, psl, textkit
from pycrawler_spark.config import CrawlConfig
from pycrawler_spark.functions.udfs import (
    host_bucket,
    normalize_url_udf,
    page_features_nolinks_udf,
    page_features_resolve_slim_udf,
    page_features_resolve_udf,
    parse_url_udf,
    refresh_target_udf,
)
from pycrawler_spark.operators.links import candidate_links, dedup_budget_kernel
from pycrawler_spark.operators.requests import derive_requests, instrument_media
from pycrawler_spark.operators.scheduler import schedule_wave
from pycrawler_spark.operators.seen import relevant_seen
from pycrawler_spark.util import empty_df

REDIRECT_T = "array<struct<url:string,code:int,location:string>>"

FETCH_COLS = [
    "wave_id", "task_id", "url", "url_final", "url_norm", "host", "depth",
    "repetition", "seq", "code", "method", "content", "extracted_text",
    "meta_headers", "has_login_form", "has_cookie_banner", "redirect_chain",
    "body_sha256", "resheaders",
]


# waves smaller than this get a round-robin repartition of the JOINED
# rows before the extraction UDF: a small wave's matched pages land
# unevenly on the corpus scan's partitions and the Python-heavy stage
# straggles (measured: ~30% idle tail at 8 cores). The shuffle moves
# only wave-matched html (wave-sized, never corpus-sized); big waves
# have law-of-large-numbers balance across thousands of scan partitions
# and skip the extra exchange.
UDF_BALANCE_MAX_ROWS = 200_000
# hot-host salting: frontier, seen and compaction writes spread each
# host over this many partitions, so a mega-host never lands in one
SALT_BUCKETS = 16
# seen deltas skip the per-wave dedup shuffle (consumers are
# duplicate-idempotent), so duplicate keys accumulate between
# compactions. When cumulative delta rows exceed this multiple of the
# distinct lower bound (frontier inserts), the seen table is compacted
# early to re-bound the per-wave scan.
SEEN_COMPACT_RATIO = 3.0


def _pageless_rows(rows: DataFrame, wave_id: int, code: int, chain: Column) -> DataFrame:
    """Fetch rows (FETCH_COLS minus repetition) for scheduled URLs that
    yielded no page — corpus misses and robots-blocked URLs: the
    frontier identity, ``code`` and ``chain`` carry data, every
    page-derived column is null."""
    def null(name: str, typ: str = "string") -> Column:
        return F.lit(None).cast(typ).alias(name)

    return rows.select(
        F.lit(wave_id).alias("wave_id"), "task_id", "url", null("url_final"),
        "url_norm", "host", "depth", "seq", F.lit(code).alias("code"),
        null("method"), null("content"), null("extracted_text"),
        null("meta_headers", "array<string>"),
        null("has_login_form", "boolean"), null("has_cookie_banner", "boolean"),
        chain.alias("redirect_chain"), null("body_sha256"), null("resheaders"),
    )


def _release(df: DataFrame) -> None:
    """Drop a frame's cached plan and, for a local checkpoint, its
    blocks: ``unpersist()`` alone leaves a checkpoint's RDD persisted
    until the driver happens to garbage-collect it."""
    df.unpersist()
    plan = df._jdf.queryExecution().logical()  # noqa: SLF001
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        cfg: Optional[CrawlConfig] = None,
        job: str = "job1",
        url_filters=None,
    ):
        self.spark = spark
        self.workdir = workdir
        self.cfg = cfg or CrawlConfig()
        self.job = job
        # F6 pluggable filter-out predicates (Column-valued; see
        # operators.links.candidate_links docstring)
        self.url_filters = list(url_filters or [])
        self.robots: Optional[DataFrame] = None
        # opt-in frontier priority (url_norm, priority) — e.g. PageRank
        # ranks from operators.graph; None = reference FIFO parity
        self.priority: Optional[DataFrame] = None
        self.adult_sites: Optional[DataFrame] = None
        self.pages_path: Optional[str] = None
        self._closure_df: Optional[DataFrame] = None

    # ----- storage helpers ------------------------------------------------

    def _dir(self, table: str, wave: int) -> str:
        return os.path.join(self.workdir, table, f"wave={wave:05d}")

    def _manifest_path(self) -> str:
        return os.path.join(self.workdir, "manifest.json")

    def _load_manifest(self) -> Dict:
        with open(self._manifest_path()) as f:
            return json.load(f)

    def _save_manifest(self, m: Dict) -> None:
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, self._manifest_path())

    def _read_pages(self) -> DataFrame:
        """The page corpus. ``pages_path`` is either a parquet path or
        ``table:<catalog name>`` — the latter reads through the session
        catalog so a corpus stored BUCKETED by the join key (Iceberg
        ``bucket(N, url)`` / Spark ``bucketBy``) keeps its bucket spec
        and the above-broadcast-cap fetch join co-locates with no
        Exchange on the corpus side (SCALE.md)."""
        p = self.pages_path
        if p is not None and p.startswith("table:"):
            return self.spark.table(p[len("table:"):])
        return self.spark.read.parquet(p)

    def _read(self, table: str, waves: List[int]) -> Optional[DataFrame]:
        paths = [self._dir(table, w) for w in waves if os.path.isdir(self._dir(table, w))]
        if not paths:
            return None
        # basePath anchors partition discovery for tables with
        # directory-partitioned waves (seen: wave=N/sbucket=K/); the
        # wave=N level surfaces as a synthetic "wave" column — drop it
        # (wave_id is real data where it matters)
        df = self.spark.read.option(
            "basePath", os.path.join(self.workdir, table)
        ).parquet(*paths)
        if "wave" in df.columns:
            df = df.drop("wave")
        return df

    def _committed(self, m: Dict, table: str) -> List[int]:
        return [w["wave_id"] for w in m["waves"] if table in w["tables"]]

    def _write_pandas(self, pdf, table: str, wave: int) -> None:
        """Driver-side parquet write for genuinely-tiny tables
        (metrics: ONE row per wave): one file, no Spark job, same
        directory layout. Never used for task-proportional data."""
        d = self._dir(table, wave)
        os.makedirs(d, exist_ok=True)
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            os.path.join(d, "part-00000.parquet"),
        )

    def _write_tasks(self, tasks: DataFrame, frontier: DataFrame, wave: int) -> Dict[str, int]:
        """Spark-side tasks snapshot write at seed-ingest time: max_seq
        derived by joining the frontier profile — the driver never
        materializes anything task-proportional. Returns the per-depth
        insert counts for the manifest (<= depth+1 rows collected)."""
        prof = (
            frontier.filter(F.col("repetition") == 1)
            .groupBy("task_id")
            .agg(F.max("seq").alias("_mx"))
        )
        out = (
            tasks.join(prof, "task_id", "left")
            .withColumn(
                "max_seq", F.coalesce(F.col("_mx"), F.lit(0)).cast("long")
            )
            .drop("_mx")
        )
        out.coalesce(4).write.parquet(self._dir("tasks", wave))
        per_depth_rows = (
            frontier.filter(F.col("repetition") == 1)
            .groupBy("depth")
            .count()
            .collect()
        )
        return {str(r.depth): r["count"] for r in per_depth_rows}

    def _write_seen(self, seen: DataFrame, wave: int, n_files: Optional[int] = None) -> None:
        """Every seen write is directory-partitioned by task bucket
        (``sbucket = task_id mod seen_buckets``) so scheduler-mode
        waves can prune the persistent-seen read to the buckets their
        scheduled tasks live in. Salted within a bucket: a mega-task's
        keys would otherwise land in one file."""
        cfg = self.cfg
        out = seen.select(
            "task_id",
            "url_norm",
            F.pmod(F.col("task_id"), F.lit(cfg.seen_buckets))
            .cast("int")
            .alias("sbucket"),
        )
        if n_files == 1:
            out = out.repartition(1)
        else:
            # shuffle on (sbucket, small salt): each write task then
            # holds 1-2 bucket values, so the dynamic-partition writer
            # opens few files (total files = seen_buckets x salt, not
            # partitions x buckets) while a mega-task still spreads
            # over `salt` parallel slots
            salt = max(2, SALT_BUCKETS // 4)
            out = out.repartition(
                cfg.host_buckets,
                "sbucket",
                F.pmod(F.xxhash64("url_norm"), F.lit(salt)),
            )
        out.write.partitionBy("sbucket").parquet(self._dir("seen", wave))

    # ----- job init (S1 seed ingest, add_tasks_tranco.py:16-52) -----------

    def _derive_tasks(self, seeds: DataFrame) -> DataFrame:
        """S1 seed ingest semantics (add_tasks_tranco.py:16-52)."""
        # scheme defaulting (add_tasks_tranco.py:19-20)
        s = seeds.select(
            F.col("rank").cast("long").alias("task_id"),
            F.trim(F.col("url")).alias("raw"),
        ).withColumn(
            "landing_url",
            F.when(F.col("raw").startswith("http"), F.col("raw")).otherwise(
                F.concat(F.lit("https://"), F.col("raw"))
            ),
        ).withColumn(
            "scheme",
            F.when(F.col("raw").startswith("https"), F.lit("https"))
            .when(F.col("raw").startswith("http"), F.lit("http"))
            .otherwise(F.lit("https")),
        )
        p = s.withColumn("u", parse_url_udf(F.col("landing_url"))).filter(
            F.col("u.fld").isNotNull()  # bad-TLD seeds skipped (:22-24)
        )
        return p.select(
            "task_id",
            F.lit(self.job).alias("job"),
            "scheme",
            F.col("u.fld").alias("site"),
            "landing_url",
            F.col("u.origin").alias("landing_origin"),
            F.col("u.host").alias("host"),
            F.lit(self.cfg.max_urls).alias("budget"),
        )

    def _frontier0(self, tasks: DataFrame) -> DataFrame:
        return tasks.select(
            "task_id",
            F.col("landing_url").alias("url"),
            normalize_url_udf(F.col("landing_url")).alias("url_norm"),
            "host",
            F.lit(0).alias("depth"),
            F.explode(F.sequence(F.lit(1), F.lit(self.cfg.repetitions))).alias(
                "repetition"
            ),
            F.lit(0).cast("long").alias("seq"),
            F.lit(None).cast("string").alias("from_url"),
        )

    def set_priority(self, priority: Optional[DataFrame]) -> None:
        """Opt into priority-ordered scheduling (politeness mode only):
        ``priority`` is a (url_norm, priority:double) table — typically
        PageRank over the link graph discovered so far
        (``operators.graph.pagerank``) — and per-host grants then go to
        the highest-ranked eligible rows first (unranked rows keep FIFO
        order among themselves). ``None`` restores the default
        reference-parity insertion-order dequeue."""
        self.priority = priority

    def init_job(
        self,
        seeds: DataFrame,
        pages_path: str,
        robots: Optional[DataFrame] = None,
        adult_sites: Optional[DataFrame] = None,
    ) -> None:
        self.pages_path = pages_path
        self.robots = robots
        self.adult_sites = adult_sites
        if self._closure_df is not None:
            self._closure_df.unpersist()
            self._closure_df = None
        if os.path.isdir(self.workdir):
            shutil.rmtree(self.workdir)
        os.makedirs(self.workdir)

        wave0_tables, per_depth = self._ingest(self._derive_tasks(seeds), 0)
        self._save_manifest(
            {
                "job": self.job,
                "pages_path": pages_path,
                # extraction-fidelity provenance: which optional
                # reference-exact libraries were active for this job's
                # outputs (byte-identical text invariant audit trail)
                "extraction_modes": {
                    "tokenize": textkit.tokenize_mode(),
                    "meta_headers": htmlkit.extraction_mode(),
                    "psl": psl.psl_source(),
                    # rule-set md5: a mis-packaged deployment where
                    # executors resolve a different list than the
                    # driver becomes auditable (compare per-process)
                    "psl_fingerprint": psl.psl_fingerprint(),
                },
                "next_wave": 1,
                "depth": 0,
                "waves": [
                    {"wave_id": 0, "depth": -1, "kind": "seeds",
                     "tables": wave0_tables,
                     "inserts_by_depth": per_depth}
                ],
            }
        )

    def _ingest(self, tasks: DataFrame, wave_id: int):
        """Write ``tasks`` as seed-ingest wave ``wave_id``: their
        depth-0 frontier rows, the tasks snapshot and, with login
        injection, the injected frontier + seen rows. Returns the
        tables written and the per-depth insert counts."""
        frontier = self._frontier0(tasks)
        tables = ["tasks", "frontier"]
        if self.cfg.login_seed_injection:
            # M4 FindLoginForms seed injection (FindLoginForms.py:39-63):
            # one google-dork URL at depth DEPTH-1 plus /login/-style
            # suffixes of the landing URL (and of scheme://fld when
            # SAME_ETLDP1) at depth DEPTH, added via add_url semantics
            # (seen-add first, dedup by normalized key, insertion order).
            assert self.cfg.depth >= 1, "login_seed_injection needs depth >= 1"
            frontier, seen = self._login_injection(tasks, frontier)
            self._write_seen(seen, wave_id, n_files=1)
            tables.append("seen")
        frontier = frontier.cache()
        frontier.repartition(self.cfg.host_buckets, "host").write.parquet(
            self._dir("frontier", wave_id)
        )
        per_depth = self._write_tasks(tasks, frontier, wave_id)
        frontier.unpersist()
        return tables, per_depth

    LOGIN_SUFFIXES = [
        "/login/", "/signin/", "/account/", "/profile/", "/auth/",
        "/authenticate/",
    ]

    def _login_injection(self, tasks: DataFrame, frontier0: DataFrame):
        cfg = self.cfg
        entries = [
            F.struct(
                F.lit(1).alias("pos"),
                F.concat(
                    # urllib.parse.quote(site) is the identity on valid
                    # hostnames (unreserved chars + '.'), so plain concat
                    F.lit('https://www.google.com/search?q="login"+site%3A'),
                    F.col("site"),
                ).alias("url"),
                F.lit(cfg.depth - 1).alias("depth"),
            )
        ]
        for i, s in enumerate(self.LOGIN_SUFFIXES):
            entries.append(
                F.struct(
                    F.lit(2 + i).alias("pos"),
                    F.concat(F.col("landing_url"), F.lit(s)).alias("url"),
                    F.lit(cfg.depth).alias("depth"),
                )
            )
        if cfg.same_etldp1:
            for i, s in enumerate(self.LOGIN_SUFFIXES):
                entries.append(
                    F.struct(
                        F.lit(8 + i).alias("pos"),
                        F.concat(
                            F.col("scheme"), F.lit("://"), F.col("site"), F.lit(s)
                        ).alias("url"),
                        F.lit(cfg.depth).alias("depth"),
                    )
                )
        inj = tasks.select(
            "task_id", F.explode(F.array(*entries)).alias("e")
        ).select(
            "task_id",
            F.col("e.pos").alias("pos"),
            F.col("e.url").alias("url"),
            F.col("e.depth").alias("depth"),
        ).withColumn("url_norm", normalize_url_udf(F.col("url")))
        # first occurrence per normalized key wins (add_url seen-check)
        w_dup = Window.partitionBy("task_id", "url_norm").orderBy("pos")
        first = inj.withColumn("rn", F.row_number().over(w_dup)).filter(
            F.col("rn") == 1
        )
        seen0 = first.select("task_id", "url_norm")
        parsed = first.withColumn("u", parse_url_udf(F.col("url"))).filter(
            F.col("u.fld").isNotNull()
        )
        w_seq = Window.partitionBy("task_id").orderBy("pos")
        inj_frontier = parsed.withColumn(
            "seq", F.row_number().over(w_seq).cast("long")
        ).select(
            "task_id",
            "url",
            "url_norm",
            F.col("u.host").alias("host"),
            "depth",
            F.explode(F.sequence(F.lit(1), F.lit(cfg.repetitions))).alias(
                "repetition"
            ),
            "seq",
            F.lit(None).cast("string").alias("from_url"),
        )
        return frontier0.unionByName(inj_frontier), seen0

    def add_seeds(self, seeds: DataFrame) -> int:
        """Listen-mode ingest (T2, main.py:153-157): append new tasks +
        their wave-0 frontier rows to a running job. Seed ranks that
        collide with existing task_ids are skipped (first wins —
        idempotent micro-batch replay). Returns new-task count."""
        m = self._load_manifest()
        wave_id = m["next_wave"]
        latest = self._read("tasks", [max(self._committed(m, "tasks"))])
        new_tasks = self._derive_tasks(seeds).join(
            latest.select("task_id"), "task_id", "left_anti"
        )
        n_new = new_tasks.count()
        if n_new == 0:
            return 0
        # snapshot = existing tasks (max_seq already final) + new tasks
        # profiled against their own frontier rows — all Spark-side
        tables, per_depth = self._ingest(new_tasks, wave_id)
        latest.select(
            *self.spark.read.parquet(self._dir("tasks", wave_id)).columns
        ).write.mode("append").parquet(self._dir("tasks", wave_id))
        m["waves"].append(
            {"wave_id": wave_id, "depth": -1, "kind": "seeds",
             "tables": tables, "found": 0,
             "inserts_by_depth": per_depth}
        )
        m["next_wave"] = wave_id + 1
        self._save_manifest(m)
        return n_new

    # ----- resume (T3) ------------------------------------------------------

    def resume(self) -> None:
        """Drop any wave directories newer than the last committed wave
        (interrupted mid-write) and any half-written compaction snapshot
        (``_compact_tmp``, see compact()), then continue from the
        manifest."""
        m = self._load_manifest()
        committed = {w["wave_id"] for w in m["waves"]}
        for table in ("tasks", "frontier", "seen", "fetches", "metrics",
                      "requests", "lineage"):
            base = os.path.join(self.workdir, table)
            if not os.path.isdir(base):
                continue
            for d in os.listdir(base):
                if d == "_compact_tmp" or int(d.split("=")[1]) not in committed:
                    shutil.rmtree(os.path.join(base, d))
        self.pages_path = m["pages_path"]

    # ----- redirect resolution (K2/J5, modules/SaveURL.py:80-126) -----------

    def _redirect_edges(self) -> Optional[DataFrame]:
        """The corpus's redirect graph: (url_final, target) for every
        zero-delay meta-refresh stub — the in-band encoding of HTTP 3xx
        hops in a stored-page corpus.

        Built ONCE per job (one corpus scan with a cheap fast-path UDF)
        and persisted under workdir; every wave then resolves chains
        with small joins against this table instead of re-scanning the
        corpus per hop. At 10^10 urls the stub fraction is small
        (~1e-3), so edges is orders of magnitude smaller than the
        corpus — usually broadcastable, always cheap to shuffle. (Real
        Common Crawl pipelines precompute exactly this from WAT
        metadata.)
        """
        if not self.cfg.follow_meta_refresh:
            return None
        d = os.path.join(self.workdir, "redirect_edges")
        if not os.path.isdir(d):
            pages = self._read_pages().select("url", "html")
            tmp = d + "_tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            # JVM-side prefilter: only pages that can contain a refresh
            # directive ever cross the Arrow boundary — "refresh" is
            # ASCII, so the byte-wise cast+rlike can never miss a page
            # the Python parser would accept
            pages = pages.filter(
                F.col("html").cast("string").rlike("(?i)refresh")
            )
            (
                pages.select(
                    F.col("url").alias("url_final"),
                    refresh_target_udf(F.col("html"), F.col("url")).alias(
                        "target"
                    ),
                )
                .filter(F.col("target").isNotNull())
                .repartition(
                    self.cfg.host_buckets,
                    F.pmod(F.xxhash64("url_final"), F.lit(self.cfg.host_buckets)),
                )
                .write.parquet(tmp)
            )
            os.replace(tmp, d)  # crash-safe commit
        return self.spark.read.parquet(d)

    def _redirect_closure(self) -> Optional[DataFrame]:
        """Transitive closure of the redirect-edge graph: one row per
        chain START url — (url_start, url_final, final_norm,
        redirect_chain) — built ONCE per job by iterating the hop join
        over the (tiny) edges table itself, then persisted and kept
        cached. Every wave then resolves its chains with a SINGLE
        broadcast left-join instead of max_redirects joins per wave,
        and the normalize UDF never runs in the wave path at all
        (final_norm is precomputed here).

        After max_redirects hops the current stub is the final
        document (the browser analog: goto returns the first document
        of an endless refresh loop). With max_redirects <= 0 no chain
        is ever followed — closure is None and every row resolves to
        itself (the simulator twin resolve_chain behaves identically).
        """
        if self.cfg.max_redirects <= 0:
            return None  # no chain is ever followed (ADVICE: legal config)
        if self._closure_df is not None:
            return self._closure_df
        edges = self._redirect_edges()
        if edges is None:
            return None
        d = os.path.join(self.workdir, "redirect_closure")
        if not os.path.isdir(d):
            cfg = self.cfg
            hop1 = edges.select(
                F.col("url_final").alias("url_start"),
                F.col("target").alias("url_final"),
                F.array(
                    F.struct(
                        F.col("url_final").alias("url"),
                        F.lit(200).alias("code"),
                        F.col("target").alias("location"),
                    )
                ).alias("redirect_chain"),
            )

            def step(moving: DataFrame) -> DataFrame:
                # extend still-moving chains by one hop; rows whose
                # head is not a stub stay as-is (left join)
                j = moving.join(edges, "url_final", "left")
                return j.select(
                    "url_start",
                    F.coalesce(F.col("target"), F.col("url_final")).alias(
                        "url_final"
                    ),
                    F.when(
                        F.col("target").isNotNull(),
                        F.concat(
                            "redirect_chain",
                            F.array(
                                F.struct(
                                    F.col("url_final").alias("url"),
                                    F.lit(200).alias("code"),
                                    F.col("target").alias("location"),
                                )
                            ),
                        ),
                    ).otherwise(F.col("redirect_chain")).alias("redirect_chain"),
                )

            closure = hop1
            for _ in range(cfg.max_redirects - 1):
                closure = step(closure)
            closure = closure.withColumn(
                "final_norm", normalize_url_udf(F.col("url_final"))
            )
            tmp = d + "_tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            # closure is edges-sized (tiny vs the corpus); few files
            closure.repartition(4).write.parquet(tmp)
            os.replace(tmp, d)  # crash-safe commit
        self._closure_df = self.spark.read.parquet(d).cache()
        return self._closure_df

    def _resolve_targets(self, wave: DataFrame, closure: Optional[DataFrame]) -> DataFrame:
        """Resolve each wave row's redirect chain BEFORE the fetch join
        (the browser follows the chain during navigation,
        crawler.py:145-150; here the chain is known from the
        precomputed closure, so the fetch join runs directly on the
        FINAL url).

        Adds: url_final (chain end), final_norm (its normalized form —
        the self-seen key, CollectUrls.py:46-49 adds page.url, i.e. the
        post-redirect url, to seen), redirect_chain (one
        struct<url,code,location> per stub hop; code 200 because a
        refresh stub IS a 200 document, unlike HTTP 3xx).

        Plan shape: ONE broadcast left-join of the slim wave against
        the closure — no per-wave chain walking, no UDFs (final_norm
        rides in from the closure).
        """
        if closure is None:
            return (
                wave.withColumn("url_final", F.col("url"))
                .withColumn("final_norm", F.col("url_norm"))
                .withColumn(
                    "redirect_chain", F.expr(f"cast(array() as {REDIRECT_T})")
                )
            )
        c = F.broadcast(closure).alias("c")
        return (
            wave.join(c, wave["url"] == F.col("c.url_start"), "left")
            .select(
                *[wave[col] for col in wave.columns],
                F.coalesce(F.col("c.url_final"), wave["url"]).alias("url_final"),
                F.coalesce(F.col("c.final_norm"), wave["url_norm"]).alias(
                    "final_norm"
                ),
                F.coalesce(
                    F.col("c.redirect_chain"),
                    F.expr(f"cast(array() as {REDIRECT_T})"),
                ).alias("redirect_chain"),
            )
        )

    # ----- one wave ---------------------------------------------------------

    def _run_wave(self, m: Dict, depth: int) -> Dict:
        # Everything the wave body holds — its writer pool and every
        # cached or checkpointed frame — goes into ``held`` and is
        # released HERE, on success and failure alike. Writers stop
        # first (cancelling queued jobs): an orphan writer would keep
        # writing wave directories while the manifest-replay retry of
        # the SAME wave races it on the same paths, and a running job
        # may still read a held frame. Nothing the wave cached stays
        # registered for the retry to pile onto.
        held: List = []
        try:
            return self._run_wave_body(m, depth, held)
        finally:
            for h in held:
                if isinstance(h, ThreadPoolExecutor):
                    h.shutdown(wait=True, cancel_futures=True)
            for h in reversed(held):  # dependent frames before their inputs
                if isinstance(h, DataFrame):
                    _release(h)

    def _run_wave_body(self, m: Dict, depth: int, held: List) -> Dict:
        cfg = self.cfg
        wave_id = m["next_wave"]
        t0 = time.monotonic()
        frontier_waves = self._committed(m, "frontier")

        if not cfg.sub_waves:
            # Atomic-depth mode, zero scheduling jobs: the manifest
            # records how many rows each wave inserted at each depth,
            # so the eligible set is exactly the frontier deltas newer
            # than the last fetch wave at this depth (a later seed
            # ingest reopens the depth with only its OWN rows — never
            # refetching the already-crawled ones).
            fetch_ids = [w["wave_id"] for w in m["waves"]
                         if w.get("kind") == "fetch" and w["depth"] == depth]
            last_fetch = max(fetch_ids) if fetch_ids else -1
            n_sched = 0
            for w in m["waves"]:
                if w["wave_id"] <= last_fetch:
                    continue
                if w.get("kind") == "seeds":
                    n_sched += w.get("inserts_by_depth", {}).get(str(depth), 0)
                elif w.get("kind") == "fetch" and w.get("insert_depth") == depth:
                    n_sched += w.get("n_inserted", 0)
            if n_sched == 0:
                return {"wave_id": wave_id, "depth": depth, "scheduled": 0,
                        "blocked": 0, "exhausted": True}
            rel_waves = [x for x in frontier_waves if x > last_fetch]
            frontier = self._read("frontier", rel_waves)
            # no cache: wave_r (the redirect-resolved superset) is the
            # cached handle in this path
            wave = frontier.filter(
                (F.col("depth") == depth) & (F.col("repetition") == 1)
            ).select(
                "task_id", "url", "url_norm", "host", "depth", "seq", "from_url"
            )
            blocked = None
            n_blocked = 0
        else:
            frontier = self._read("frontier", frontier_waves)
            free_d = frontier.filter(
                (F.col("depth") == depth) & (F.col("repetition") == 1)
            )
            # a depth spans several politeness sub-waves: drop rows
            # already fetched in earlier sub-waves
            fetches_prev = self._read("fetches", self._committed(m, "fetches"))
            if fetches_prev is not None:
                done = fetches_prev.filter(F.col("depth") == depth).select(
                    "task_id", "url_norm"
                ).distinct()
                free_d = free_d.join(done, ["task_id", "url_norm"], "left_anti")
            sched = schedule_wave(
                free_d, self.robots, cfg.host_wave_budget, cfg.obey_robots,
                wave_interval_ms=cfg.wave_interval_ms,
                priority=self.priority,
            ).cache()
            wave = sched.filter(F.col("granted")).select(
                "task_id", "url", "url_norm", "host", "depth", "seq", "from_url"
            ).cache()
            held += [sched, wave]
            blocked = sched.filter(F.col("blocked"))
            n_sched = wave.count()
            n_blocked = blocked.count()
            if n_sched == 0 and n_blocked == 0:
                return {"wave_id": wave_id, "depth": depth, "scheduled": 0,
                        "blocked": 0, "exhausted": True}

        # --- fetch = corpus equi-join (S4/J6; replaces crawler.py:165) ----
        # redirect chains resolve BEFORE the fetch join via the (tiny)
        # precomputed closure table, so the join runs on the FINAL url
        # and the corpus is scanned exactly once per wave
        closure = self._redirect_closure()
        # localCheckpoint, not cache: the resolved wave feeds 5-6 jobs
        # per wave, and each would re-analyze the full lineage;
        # truncating it makes every downstream plan tiny. Durability
        # caveat: localCheckpoint blocks are NOT fault-tolerant — on
        # executor loss the job FAILS (Spark cannot recompute truncated
        # lineage) and the wave must be re-run at the application
        # level (the resume path replays it from the manifest, which
        # is exactly what a driver restart does anyway). On a real
        # cluster with frequent preemption, switch to reliable
        # checkpointing via spark.sparkContext.setCheckpointDir.
        # eager=False: the first consumer (the broadcast build of the
        # wave side, or the fetch join itself) materializes it — an
        # eager checkpoint here would be one more sequential job floor
        wave_r = self._resolve_targets(wave, closure).localCheckpoint(eager=False)
        held.append(wave_r)
        pages_raw = self._read_pages()
        # K1 fidelity: the reference persists response headers per
        # fetch (SaveURL.py:71-72 resheaders JSON). A stored-page
        # corpus may carry them (WARC/WAT metadata) — propagate when
        # present, null otherwise.
        hdr_col = (
            F.col("headers") if "headers" in pages_raw.columns
            else F.lit(None).cast("string")
        )
        pages = pages_raw.select(
            F.col("url").alias("url_final"), "html", "warc_ts",
            hdr_col.alias("resheaders"),
        )
        # broadcast the wave side: the corpus (100 TB) must never
        # shuffle. Above the broadcast cap the join degrades to a
        # shuffle join — there the runtime bloom filter (session.py)
        # prunes corpus rows before the exchange, and a production
        # deployment stores the corpus bucketed by host (Iceberg
        # bucket(N, host)) so the join co-locates without moving html.
        wave_b = (
            F.broadcast(wave_r) if n_sched <= cfg.broadcast_wave_max_rows else wave_r
        )
        # single html->Python pass per wave: sha + fused extraction in
        # the projection, html itself dropped from the cache (it is the
        # fat column; only collect_requests still needs it downstream).
        # Link waves fuse href RESOLUTION into the same pass: the
        # resolved-link structs come back in one Arrow trip and the
        # candidate pipeline's explode is pure JVM. The final depth
        # collects no links -> the same pass minus href extraction.
        collect_links = depth < cfg.depth and cfg.recursive
        if collect_links:
            # slim struct (6 fields) unless F6 url_filters are
            # registered — a pluggable predicate may reference any URL
            # component, so only then ship the full 11-field struct
            # through Arrow and the explode (links are the wave's
            # biggest intermediate).
            resolve = (
                page_features_resolve_udf
                if self.url_filters
                else page_features_resolve_slim_udf
            )
            pf_col = resolve(F.col("html"), F.col("url_final"))
        else:
            pf_col = page_features_nolinks_udf(F.col("html"))
        joined = pages.join(wave_b, "url_final", "inner")
        if n_sched < UDF_BALANCE_MAX_ROWS:
            # balance the Python-heavy extraction stage for small
            # waves (see UDF_BALANCE_MAX_ROWS); the UDF sits in
            # the projection ABOVE this exchange, so it runs on the
            # balanced side
            joined = joined.repartition(
                self.spark.sparkContext.defaultParallelism * 2
            )
        hits = joined.select(
            "task_id", "url", "url_final", "url_norm", "final_norm",
            "host", "depth", "seq", "from_url", "redirect_chain",
            "resheaders",
            F.sha2(F.col("html"), 256).alias("body_sha256"),
            pf_col.alias("pf"),
            *(["html"] if cfg.collect_requests else []),
        )
        # checkpoint only when the candidate/requests stage re-reads
        # hits across SEPARATE jobs. Within the single fetch-write job
        # the misses anti-join branch does not recompute the corpus
        # join: Spark's ReuseExchange dedups the identical scan+join
        # subtree, and checkpointing there would only burn memory on
        # materialized extracted_text rows. EAGER on purpose: the
        # fetch write and the link chain then fork CONCURRENTLY from
        # finished blocks — lazy here would make two driver threads
        # race to materialize the same partitions (correct but noisy:
        # the loser's accumulator updates land on a cleaned-up job).
        pool = ThreadPoolExecutor(max_workers=5)
        held.append(pool)
        cache_hits = collect_links or cfg.collect_requests
        if cache_hits:
            # the eager checkpoint is EXECUTOR work (the wave's fused
            # extraction UDF); run it from a pool thread and spend the
            # driver on the link stage's metadata reads (tasks/seen
            # parquet listing + schema) meanwhile — measured ~0.7 s of
            # driver-only time that previously idled all cores
            fut_ck = pool.submit(hits.localCheckpoint, True)
            if collect_links:
                tasks_dim = self._read(
                    "tasks", [max(self._committed(m, "tasks"))]
                )
                seen_all = self._read("seen", self._committed(m, "seen"))
            hits = fut_ck.result()
            held.append(hits)
        # miss = requested url absent from corpus (chain empty) OR the
        # chain dead-ended on a target absent from corpus (chain kept)
        misses = wave_r.join(
            hits.select("task_id", "url"), ["task_id", "url"], "left_anti"
        )

        # --- fetch-result rows (K1/M2 SaveURL; modules/SaveURL.py:46-78) ---
        hit_rows = hits.select(
            F.lit(wave_id).alias("wave_id"),
            "task_id",
            "url",
            "url_final",
            "url_norm",
            "host",
            "depth",
            "seq",
            F.lit(200).alias("code"),
            F.lit("GET").alias("method"),
            F.lit("text/html").alias("content"),
            F.col("pf.extracted_text").alias("extracted_text"),
            F.col("pf.meta_headers").alias("meta_headers"),
            F.col("pf.has_login_form").alias("has_login_form"),
            F.col("pf.has_cookie_banner").alias("has_cookie_banner"),
            "redirect_chain",
            "body_sha256",
            "resheaders",
        )
        fetch_rows = hit_rows.unionByName(
            _pageless_rows(misses, wave_id, cfg.code_response_error,
                           F.col("redirect_chain"))
        )
        if blocked is not None and n_blocked:
            fetch_rows = fetch_rows.unionByName(
                _pageless_rows(blocked, wave_id, cfg.code_robots_blocked,
                               F.expr(f"cast(null as {REDIRECT_T})"))
            )
        # O3 repetitions: each scheduled URL is revisited k times
        # consecutively (database.py:275-279); same corpus -> same result.
        rep_col = (
            F.lit(1) if cfg.repetitions == 1
            else F.explode(F.sequence(F.lit(1), F.lit(cfg.repetitions)))
        )
        fetch_rows = fetch_rows.withColumn("repetition", rep_col).select(
            *FETCH_COLS
        )
        # hit count observed ON the write job — no read-back job, no
        # recomputation of the fetch join
        obs_f = Observation()
        fetch_rows = fetch_rows.observe(
            obs_f,
            F.sum(
                F.when(
                    (F.col("code") == 200) & (F.col("repetition") == 1), 1
                ).otherwise(0)
            ).alias("n_ok"),
        )

        # --- concurrent wave jobs -----------------------------------------
        # Independent writes are SUBMITTED CONCURRENTLY (Spark's
        # scheduler interleaves jobs from multiple driver threads at
        # task granularity): phase 1 runs the fetch write beside the
        # link-discovery chain — they share the eagerly-checkpointed
        # `hits` and alternate between Python-UDF-heavy and
        # JVM-shuffle-heavy stages, so each fills the other's idle
        # slots; phase 2 overlaps the three small bookkeeping writes
        # (seen / tasks / lineage), which otherwise pay three
        # sequential per-job floors (~0.2-0.5 s each — pure wave
        # overhead that does not shrink with cores).
        def _job_fetches() -> int:
            fetch_rows.write.parquet(self._dir("fetches", wave_id))
            return int(obs_f.get["n_ok"] or 0)

        n_found = n_inserted = 0
        wrote: List[str] = ["fetches", "metrics", "lineage"]

        def _job_requests() -> None:
            # M3 CollectRequests (+ M6 InstrumentMedia) per wave;
            # sub-resources belong to the RENDERED document -> final url
            reqs = derive_requests(hits.withColumn("url", F.col("url_final")))
            if cfg.instrument_media:
                reqs = instrument_media(reqs)
            reqs.withColumn("wave_id", F.lit(wave_id)).write.parquet(
                self._dir("requests", wave_id)
            )

        fut_fetch = pool.submit(_job_fetches)
        fut_requests = pool.submit(_job_requests) if cfg.collect_requests else None
        if cfg.collect_requests:
            wrote.append("requests")
        fut_frontier = fut_seen = fut_tasks = None
        if collect_links:
            # seen-history plan choice (see relevant_seen): while the
            # accumulated history is smaller than ~a wave's worth of
            # candidates, the candidate-key distinct + semi-join is a
            # full wave-sized shuffle spent to avoid shipping a few
            # thousand rows into the cogroup — skip it. last_found
            # approximates this wave's candidate count (the previous
            # wave's discoveries ARE this wave's parents).
            seen_estimate = sum(w.get("found", 0) for w in m["waves"])
            last_found = next(
                (w["found"] for w in reversed(m["waves"])
                 if w.get("kind") == "fetch" and w.get("found", 0) > 0),
                0,
            )
            use_semi = seen_estimate > 4 * max(1, last_found)
            cands = candidate_links(
                hits.withColumn("links", F.col("pf.links")),
                tasks_dim, cfg, self.adult_sites, self.url_filters,
            )
            if use_semi:
                # cache: with the semi-join (and possibly bloom) on,
                # the candidate pipeline has 2-3 consumers; with them
                # off the kernel cogroup is the ONLY consumer and a
                # cache write of the wave's biggest intermediate would
                # be pure overhead
                cands = cands.cache()
                held.append(cands)
            if seen_all is None:
                seen_all = empty_df(self.spark, "task_id long, url_norm string")
            elif cfg.sub_waves and "sbucket" in seen_all.columns:
                # politeness sub-waves touch a subset of tasks: prune
                # the persistent seen read to the task buckets present
                # in THIS wave (directory-partition pruning — the scan
                # never lists, reads or hashes the other buckets), then
                # bloom, then exact semi-join. In atomic-depth mode
                # every task is in every wave, so pruning is a no-op
                # and the bucket probe job is skipped.
                bks = [
                    r[0]
                    for r in wave.select(
                        F.pmod(F.col("task_id"), F.lit(cfg.seen_buckets))
                        .cast("int")
                        .alias("b")
                    )
                    .distinct()
                    .collect()
                ]
                if len(bks) < cfg.seen_buckets:
                    seen_all = seen_all.filter(F.col("sbucket").isin(bks))
            # bloom prefilter pays off once the persistent seen table
            # dwarfs the wave; below the threshold the exact semi-join
            # alone is cheaper (2 fewer jobs per wave)
            seen_rel = relevant_seen(
                seen_all,
                cands,
                use_bloom=seen_estimate > cfg.bloom_auto_threshold,
                use_semi=use_semi,
            )
            # EAGER: materialize the kernel output once, up front —
            # its three consumers (frontier / seen / tasks writes) then
            # all run CONCURRENTLY from finished blocks. Lazy here made
            # the frontier write materialize the kernel alone while the
            # seen + tasks writes queued behind it (~1 s of tail at 8
            # cores).
            kout = dedup_budget_kernel(cands, seen_rel, cfg).localCheckpoint(eager=True)
            held.append(kout)

            inserted = kout.filter((F.col("kind") == "link") & F.col("inserted"))
            # per-task seq base comes from the tasks snapshot (updated
            # each wave) — no frontier-wide max-scan per wave
            bases = tasks_dim.select(
                "task_id", F.col("max_seq").alias("base")
            )
            new_frontier = (
                inserted.join(F.broadcast(bases), "task_id")
                .select(
                    "task_id",
                    "url",
                    "url_norm",
                    "host",
                    F.lit(depth + 1).alias("depth"),
                    F.explode(
                        F.sequence(F.lit(1), F.lit(cfg.repetitions))
                    ).alias("repetition"),
                    (F.col("base") + F.col("order_rank")).alias("seq"),
                    "from_url",
                )
            )

            # hot-host salting (north rule): hash-distributing by host
            # alone would put a mega-host's entire wave in one
            # partition; the salt spreads each host over SALT_BUCKETS
            # partitions while keeping host locality for pruning
            # (Iceberg: bucket(host_buckets, host) + bucket(salt) sort)
            def _job_frontier():
                new_frontier.repartition(
                    cfg.host_buckets,
                    host_bucket(F.col("host"), cfg.host_buckets),
                    F.pmod(F.xxhash64("url"), F.lit(SALT_BUCKETS)),
                ).write.parquet(self._dir("frontier", wave_id))

            fut_frontier = pool.submit(_job_frontier)
            # phase 2a (overlapped): frontier + seen delta + tasks
            # snapshot — all three read the eagerly-materialized kernel
            # checkpoint, independent of each other and of the fetch
            # write.
            # seen: wave-internal distinct only. Replays of keys
            # already in older deltas are harmless — every consumer
            # (bloom build, semi-join, kernel set) is idempotent on
            # duplicates — so no cross-history anti-join and no
            # distinct (it was a full shuffle). Directory-partitioned
            # by task bucket (see _write_seen) for pruned reads.
            fut_seen = pool.submit(
                self._write_seen, kout.select("task_id", "url_norm"), wave_id
            )

            def _job_tasks():
                # budgets + max_seq: ONE Spark job over (tasks snapshot
                # x kernel agg), wave counters observed on the same
                # write — nothing task-proportional ever reaches the
                # driver (a 10^7-site crawl keeps a 10^7-row tasks
                # table distributed)
                agg = kout.groupBy("task_id").agg(
                    F.sum(
                        F.when(F.col("kind") == "link", 1).otherwise(0)
                    ).alias("n_found"),
                    F.sum(F.when(F.col("inserted"), 1).otherwise(0)).alias(
                        "n_ins"
                    ),
                )
                obs_t = Observation()
                jt = tasks_dim.join(agg, "task_id", "left").observe(
                    obs_t,
                    F.sum(F.coalesce(F.col("n_found"), F.lit(0))).alias("found"),
                    F.sum(F.coalesce(F.col("n_ins"), F.lit(0))).alias("ins"),
                )
                jt.select(
                    *[c for c in tasks_dim.columns
                      if c not in ("budget", "max_seq")],
                    F.greatest(
                        F.col("budget") - F.coalesce(F.col("n_found"), F.lit(0)),
                        F.lit(0),
                    ).cast("int").alias("budget"),
                    (F.col("max_seq") + F.coalesce(F.col("n_ins"), F.lit(0)))
                    .cast("long")
                    .alias("max_seq"),
                ).coalesce(4).write.parquet(self._dir("tasks", wave_id))
                got = obs_t.get
                return int(got["found"] or 0), int(got["ins"] or 0)

            fut_tasks = pool.submit(_job_tasks)
            wrote += ["frontier", "seen", "tasks"]

        # phase-1 barrier: fetches (and requests) on disk
        n_hits = fut_fetch.result()
        if fut_requests is not None:
            fut_requests.result()

        # phase 2b: per-partition (host) lineage — which host-bucket
        # produced what in this wave (resumable audit trail, north
        # rule). A Spark job over the freshly written fetch wave's slim
        # columns (columnar read, html never touched): at 10^7 hosts
        # per wave this table must never pass through the driver.
        def _job_lineage():
            fdf = self.spark.read.parquet(self._dir("fetches", wave_id))
            (
                fdf.filter(F.col("repetition") == 1)
                .groupBy(
                    host_bucket(F.col("host"), cfg.host_buckets).alias("bucket"),
                    "host",
                )
                .agg(
                    F.count("*").alias("n_scheduled"),
                    F.sum(F.when(F.col("code") == 200, 1).otherwise(0)).alias(
                        "n_ok"
                    ),
                    F.min("seq").alias("seq_lo"),
                    F.max("seq").alias("seq_hi"),
                )
                .withColumn("wave_id", F.lit(wave_id))
                .withColumn("depth", F.lit(depth))
                .coalesce(4)
                .write.parquet(self._dir("lineage", wave_id))
            )

        fut_lin = pool.submit(_job_lineage)
        if fut_tasks is not None:
            fut_frontier.result()
            fut_seen.result()
            n_found, n_inserted = fut_tasks.result()
        fut_lin.result()
        wall = time.monotonic() - t0
        stats = {
            "wave_id": wave_id,
            "depth": depth,
            "scheduled": n_sched,
            "hits": n_hits,
            "misses": n_sched - n_hits,
            "blocked": n_blocked,
            "found": n_found,
            "inserted": n_inserted,
            "wall_sec": round(wall, 3),
            "urls_per_sec": round((n_sched + n_found) / max(wall, 1e-9), 1),
            "exhausted": False,
        }
        self._write_pandas(pd.DataFrame([stats]), "metrics", wave_id)

        m["waves"].append(
            {"wave_id": wave_id, "depth": depth, "kind": "fetch",
             "tables": wrote, "found": n_found,
             "insert_depth": depth + 1, "n_inserted": n_inserted,
             # delta rows appended to seen this wave (links + parent
             # self-seen rows) — feeds the duplicate-ratio compaction
             # heuristic in run()
             "seen_rows": (n_found + n_hits) if "seen" in wrote else 0}
        )
        m["next_wave"] = wave_id + 1
        self._save_manifest(m)
        self._maybe_compact_seen(m)
        return stats

    def _maybe_compact_seen(self, m: Dict) -> None:
        """Seen deltas skip the dedup shuffle, so duplicate keys
        (redirected parents sharing a final url, re-sightings across
        waves) accumulate and inflate every later wave's seen scan +
        bloom build. When cumulative delta rows exceed
        ``SEEN_COMPACT_RATIO`` x the distinct lower bound (frontier
        inserts — each inserted exactly once), compact just the seen
        table to re-bound the growth between full compactions."""
        waves = [w for w in m["waves"] if "seen" in w.get("tables", [])]
        if len(waves) <= 1:
            return
        rows = sum(w.get("seen_rows", 0) for w in m["waves"])
        distinct_lb = sum(w.get("n_inserted", 0) for w in m["waves"])
        if rows > SEEN_COMPACT_RATIO * max(1, distinct_lb):
            out = self.compact(tables=("seen",))
            # reset the counter to the actual post-compaction row count
            # so the heuristic measures growth SINCE this compaction
            m2 = self._load_manifest()
            for w in m2["waves"]:
                w["seen_rows"] = 0
            m2["waves"][0]["seen_rows"] = out.get("seen", 0)
            self._save_manifest(m2)

    # ----- full run -----------------------------------------------------------

    def waves(self) -> Iterator[Dict]:
        """The depth loop: yield each fetch wave's stats, descending a
        depth once it has no free URLs left. Atomic-depth mode fetches
        a whole depth in one wave; politeness/robots mode may need
        several sub-waves per depth. The manifest, not this generator,
        is the crawl state, so a consumer may stop and resume it at any
        yield (stream_crawl does, between micro-batches)."""
        depth = 0
        while depth <= self.cfg.depth:
            stats = self._run_wave(self._load_manifest(), depth)
            if stats.get("exhausted"):
                depth += 1
                continue
            yield stats
            if not self.cfg.sub_waves:
                depth += 1

    def run(self) -> List[Dict]:
        """Crawl to frontier exhaustion; returns the per-wave stats."""
        return list(self.waves())

    # ----- compaction (scale hygiene; Iceberg rewrite_data_files analog) ----

    def compact(self, tables=("frontier", "seen", "fetches")) -> Dict[str, int]:
        """Merge each table's per-wave delta directories into one
        salted host-bucketed snapshot at ``wave=00000`` and rewrite the
        manifest so every prior wave entry points at the snapshot.

        Long crawls accumulate one directory per wave (10^4 waves →
        10^4 file listings per read on a 10^10 frontier); compaction
        restores O(1) read fan-in without changing any table contents.
        Crash-safe: the snapshot is written to a temp dir first, the
        manifest swap is the commit point, old deltas are removed last.
        """
        m = self._load_manifest()
        out: Dict[str, int] = {}
        for table in tables:
            waves = self._committed(m, table)
            if len(waves) <= 1:
                continue
            df = self._read(table, waves)
            if df is not None and table == "seen":
                # seen is a SET; per-wave deltas may repeat keys
                # (consumers are duplicate-idempotent, so deltas skip
                # the dedup shuffle) — compaction is the right place
                # to collapse them
                df = df.dropDuplicates(["task_id", "url_norm"])
            if df is None:
                continue
            tmp = os.path.join(self.workdir, table, "_compact_tmp")
            shutil.rmtree(tmp, ignore_errors=True)
            key = "host" if "host" in df.columns else "task_id"
            salt_col = "url_norm" if "url_norm" in df.columns else (
                "url" if "url" in df.columns else key
            )
            writer = df.repartition(
                self.cfg.host_buckets,
                F.col(key),
                F.pmod(F.xxhash64(salt_col), F.lit(SALT_BUCKETS)),
            ).write.mode("overwrite")
            if "sbucket" in df.columns:
                # seen: keep the directory-partitioned layout so the
                # pruned read path survives compaction
                writer = writer.partitionBy("sbucket")
            writer.parquet(tmp)
            n = self.spark.read.parquet(tmp).count()
            out[table] = n
            # commit: swap dirs, then rewrite manifest table pointers
            final = self._dir(table, 0)
            old_dirs = [self._dir(table, w) for w in waves if w != 0]
            shutil.rmtree(final, ignore_errors=True)
            os.replace(tmp, final)
            for w in m["waves"]:
                if table in w["tables"] and w["wave_id"] != 0:
                    w["tables"] = [t for t in w["tables"] if t != table]
            if table not in m["waves"][0]["tables"]:
                m["waves"][0]["tables"].append(table)
            self._save_manifest(m)
            for d in old_dirs:
                shutil.rmtree(d, ignore_errors=True)
        return out

    # ----- result accessors ----------------------------------------------------

    def table(self, name: str) -> Optional[DataFrame]:
        m = self._load_manifest()
        return self._read(name, self._committed(m, name))
