"""Link discovery — F1-F8 filters + J1 dedup + A1/O4 budget + O5 order.

Two-stage design (SURVEY.md §4 "custom engine code"):

1. **Distributed stage** (:func:`candidate_links`): everything
   per-row and vectorizable. Href extraction (F1), urljoin + PSL
   parse (F2/X4) and normalization (X1) already ran in the wave's
   fused per-page UDF; here Column expressions over the exploded
   links apply the scheme/origin/eTLD+1 filters (F3-F5), the
   adult-list anti-join (F7) and the deterministic shuffle key.
   Scales with the wave, shuffles only slim columns (html never
   leaves the fetch stage).

2. **Per-task kernel** (:func:`dedup_budget_kernel`): the reference's
   intra-site loop state — URL-seen membership (database.py:287-291),
   MAX_URLS budget burn (CollectUrls.py:139-141: decremented by links
   *found*, before truncation), FIRST_AND_LAST split + shuffle
   (CollectUrls.py:119-127) and insertion order — has serial
   semantics per site. It runs as a ``cogroup(task).applyInPandas``
   over (candidates, relevant-seen) whose body evaluates that serial
   loop exactly as whole-frame pandas/numpy column ops: per-task work
   is bounded by one wave's discoveries for that site, and tasks
   process in parallel — the reference's one-process-per-site
   parallelism (main.py:123-140), Spark-shaped.
"""

from __future__ import annotations

from typing import Callable, List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from pycrawler_spark.config import CrawlConfig
from pycrawler_spark.functions.udfs import det_shuffle_key

CANDIDATE_COLS = [
    "task_id", "kind", "parent_seq", "pos", "url", "url_norm", "host",
    "skey", "budget",
]

KERNEL_SCHEMA = T.StructType(
    [
        T.StructField("task_id", T.LongType()),
        T.StructField("kind", T.StringType()),      # 'self' | 'link'
        T.StructField("url", T.StringType()),
        T.StructField("url_norm", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("from_url", T.StringType()),
        T.StructField("order_rank", T.LongType()),
        T.StructField("inserted", T.BooleanType()),
    ]
)


def candidate_links(
    hits: DataFrame,
    tasks_dim: DataFrame,
    cfg: CrawlConfig,
    adult_sites: DataFrame | None = None,
    url_filters: Optional[List[Callable]] = None,
) -> DataFrame:
    """Distributed candidate pipeline.

    ``hits``: successfully fetched parents —
    (task_id, seq, url, url_norm, links), ``links`` being the resolved
    link array of ``page_features_resolve_udf`` (or its slim twin),
    optionally with redirect resolution (final_norm): links resolve
    against the FINAL document url and the self-seen key is the FINAL
    url's normalized form (the reference adds ``page.url`` — post-redirect —
    to seen, CollectUrls.py:46-49), while ``from_url`` linkage keeps
    the requested url (SaveURL.py fromurl_id = the dequeued URL row).
    ``tasks_dim``: (task_id, scheme, site, landing_origin, budget) —
    small, broadcast (J3 FK hydration).

    ``url_filters`` is the F6 pluggable filter-out hook (reference:
    modules register ``Callable[[tld.Result], bool]`` predicates,
    Module.py:23-24, applied after the F3-F5 checks and before the
    seen check, CollectUrls.py:101-102). Each entry is a callable
    taking the parsed-link struct Column (fields: scheme, netloc,
    host, path, query, fragment, fld, suffix, origin, url_full, norm)
    and returning a boolean Column; a row evaluating True (nulls count
    as False, as in Python bool semantics) is FILTERED OUT. Being
    Column predicates they stay JVM-side — a pluggable module costs no
    extra Arrow pass. The simulator twin takes plain-Python
    ``Callable[[ParsedUrl], bool]`` filters for parity testing.

    Returns the kernel input: one parent row per fetched page
    (kind='parent', pos=-1, so it sorts first in its group) plus
    surviving link rows (kind='link') with normalized keys and skey.
    """
    final_norm = F.col("final_norm") if "final_norm" in hits.columns else F.col("url_norm")
    parents = hits.select(
        "task_id",
        F.lit("parent").alias("kind"),
        F.col("seq").alias("parent_seq"),
        F.lit(-1).alias("pos"),
        F.col("url"),
        final_norm.alias("url_norm"),
        F.lit(None).cast("string").alias("host"),
        F.lit(None).cast("string").alias("skey"),
    )

    # links arrive ALREADY RESOLVED from the wave's fused per-page UDF
    # (page_features_resolve_udf): the explode below is pure JVM.
    # Unresolvable hrefs ride along as all-null structs and are
    # filtered AFTER posexplode, so pos is the href's document position.
    parsed = hits.select(
        "task_id",
        F.col("seq").alias("parent_seq"),
        F.posexplode("links").alias("pos", "link"),
    ).filter(F.col("link.url_full").isNotNull())

    j = parsed.join(F.broadcast(tasks_dim), "task_id")
    if cfg.same_scheme:   # F3 (CollectUrls.py:86-87)
        j = j.filter(F.col("link.scheme") == F.col("scheme"))
    if cfg.same_origin:   # F4 (CollectUrls.py:90-91)
        j = j.filter(F.col("link.origin") == F.col("landing_origin"))
    if cfg.same_etldp1:   # F5 (CollectUrls.py:94-95)
        j = j.filter(F.col("link.fld") == F.col("site"))
    if cfg.adult_filter and adult_sites is not None:  # F7: broadcast anti-join
        j = j.join(
            F.broadcast(adult_sites.select(F.col("site").alias("link_fld"))),
            j["link.fld"] == F.col("link_fld"),
            "left_anti",
        )
    for filt in url_filters or []:  # F6 (CollectUrls.py:101-102)
        j = j.filter(~F.coalesce(filt(F.col("link")), F.lit(False)))

    links = j.select(
        "task_id",
        F.lit("link").alias("kind"),
        "parent_seq",
        "pos",
        F.col("link.url_full").alias("url"),
        F.col("link.norm").alias("url_norm"),
        F.col("link.host").alias("host"),
        # O5 shuffle key computed HERE, JVM-side (md5 builtin) — the
        # per-task kernel sorts on it but must never hash in Python
        det_shuffle_key(F.col("link.url_full"), cfg.shuffle_seed).alias("skey"),
    )
    budgets = tasks_dim.select("task_id", "budget")
    return (
        parents.unionByName(links)
        .join(F.broadcast(budgets), "task_id")
        .select(*CANDIDATE_COLS)
    )


def dedup_budget_kernel(
    candidates: DataFrame, seen_rel: DataFrame, cfg: CrawlConfig
) -> DataFrame:
    """Per-task core (see module docstring).

    Emits, per task: kind='self' rows (page self-seen additions,
    CollectUrls.py:46-49) and kind='link' rows for every *found* link
    (added to seen whether or not inserted — CollectUrls.py:105-111 vs
    :131), with ``inserted`` marking budget survivors and
    ``order_rank`` their insertion order within the wave.

    The reference's serial per-parent loop is evaluated as whole-frame
    column ops, exact whether or not the budget runs out:

    - in ``(parent_seq, pos)`` order each parent row opens its group,
      so "already seen" is "in the persistent set OR duplicated earlier
      in the frame";
    - the budget left when a group starts is ``max(0, budget - links
      found by earlier groups)``. A group starting below 1 is skipped
      whole (CollectUrls.py:39-40, before self-seen), and so is every
      later group because the budget never grows — so dedup over the
      whole frame, skipped groups included, never changes a live row;
    - within a live group the found links take the O5 order
      ``(first_and_last split, skey, pos)``, and the first ``before``
      of them are inserted (CollectUrls.py:119-141).
    """
    first_and_last = cfg.first_and_last
    out_cols = [f.name for f in KERNEL_SCHEMA.fields]

    def kernel(key, cand: pd.DataFrame, seen_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(cand):
            return pd.DataFrame([], columns=out_cols)
        budget = int(cand["budget"].iat[0])
        cand = cand.sort_values(["parent_seq", "pos"], kind="mergesort")
        is_link = (cand["kind"] == "link").to_numpy()
        found = is_link & ~(
            cand["url_norm"].isin(seen_pdf["url_norm"])
            | cand["url_norm"].duplicated()
        ).to_numpy()
        starts = np.flatnonzero(~is_link)  # parent rows open the groups
        n_found = np.add.reduceat(found.astype(np.int64), starts)
        before = np.maximum(0, budget - (np.cumsum(n_found) - n_found))
        group = np.cumsum(~is_link) - 1
        keep = (found | ~is_link) & (before[group] >= 1)
        live, group = cand[keep], group[keep]
        is_link = is_link[keep]
        gof = np.where(is_link, 0, -1)  # the parent stays first in its group
        if first_and_last:  # O5 (CollectUrls.py:119-124): middle 70% last
            i = np.arange(len(live)) - np.searchsorted(group, group) - 1
            n = n_found[group]
            gof[(i >= (n * 0.15).astype(int)) & (i < (n * 0.85).astype(int))] = 1
        live = live.assign(_g=group, _gof=gof).sort_values(
            ["_g", "_gof", "skey", "pos"], kind="mergesort"
        )
        group = live["_g"].to_numpy()
        is_link = (live["kind"] == "link").to_numpy()
        first = np.searchsorted(group, group)  # row of each group's parent
        inserted = is_link & (np.arange(len(live)) - first - 1 < before[group])
        url = live["url"].to_numpy()
        return pd.DataFrame(
            {
                "task_id": np.int64(key[0]),
                "kind": np.where(is_link, "link", "self"),
                "url": url,
                "url_norm": live["url_norm"].to_numpy(),
                "host": live["host"].to_numpy(),
                "from_url": np.where(is_link, url[first], None),
                "order_rank": np.where(inserted, np.cumsum(inserted), 0),
                "inserted": inserted,
            }
        )

    return (
        candidates.groupBy("task_id")
        .cogroup(seen_rel.select("task_id", "url_norm").groupBy("task_id"))
        .applyInPandas(kernel, KERNEL_SCHEMA)
    )
