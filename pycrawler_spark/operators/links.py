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

2. **Sequential per-task kernel** (:func:`dedup_budget_kernel`): the
   reference's intra-site loop state — URL-seen membership
   (database.py:287-291), MAX_URLS budget burn
   (CollectUrls.py:139-141: decremented by links *found*, before
   truncation), FIRST_AND_LAST split + shuffle (CollectUrls.py:119-127)
   and insertion order — is inherently serial per site. It runs as a
   ``cogroup(task).applyInPandas`` over (candidates, relevant-seen):
   per-task work is bounded by one wave's discoveries for that site,
   and tasks process in parallel — the reference's
   one-process-per-site parallelism (main.py:123-140), Spark-shaped.
"""

from __future__ import annotations

import hashlib
from typing import Callable, List, Optional

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

    Returns the kernel input: parent rows (kind='parent', pos=-1) plus
    surviving link rows (kind='link') with normalized keys.
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


# test hook: force the exact sequential fold even when the vectorized
# fast path would apply (equivalence tests drive both paths on the
# same data)
FORCE_SLOW_KERNEL = False


def _shuffle_key(seed: str, url: str) -> str:
    return hashlib.md5((seed + url).encode("utf-8")).hexdigest()[:16]


def dedup_budget_kernel(
    candidates: DataFrame, seen_rel: DataFrame, cfg: CrawlConfig
) -> DataFrame:
    """Sequential per-task core (see module docstring).

    Emits, per task: kind='self' rows (page self-seen additions,
    CollectUrls.py:46-49) and kind='link' rows for every *found* link
    (added to seen whether or not inserted — CollectUrls.py:105-111 vs
    :131), with ``inserted`` marking budget survivors and
    ``order_rank`` their insertion order within the wave.
    """
    seed = cfg.shuffle_seed
    first_and_last = cfg.first_and_last

    def kernel(key, cand: pd.DataFrame, seen_pdf: pd.DataFrame) -> pd.DataFrame:
        has_skey = "skey" in cand.columns
        task_id = int(key[0])
        out: List[tuple] = []
        if not len(cand):
            return pd.DataFrame(out, columns=[f.name for f in KERNEL_SCHEMA.fields])
        budget = int(cand["budget"].iloc[0])
        rank = 0
        cand = cand.sort_values(["parent_seq", "pos"], kind="mergesort")
        # ---- vectorized fast path: budget provably cannot exhaust ----
        # When budget > total link rows, no group is ever skipped and
        # every deduped link is inserted, so the whole sequential fold
        # collapses into pandas column ops: the seen-insertion order is
        # exactly frame order (parents sort before their links), so
        # "already seen" == "in the persistent set OR duplicated
        # earlier in the frame". Equivalence with the loop below is
        # pinned by test_kernel_fast_path_matches_loop + parity suite.
        links_mask = cand["kind"] != "parent"
        parents_df = cand[~links_mask]
        if (
            not FORCE_SLOW_KERNEL
            and has_skey
            and budget > int(links_mask.sum())
            and len(parents_df)
            and not parents_df["parent_seq"].duplicated().any()
            and set(cand["parent_seq"].unique())
            == set(parents_df["parent_seq"].unique())
            # the fast path assumes each parent sorts BEFORE its links
            # (parent pos=-1 < link pos>=0 from posexplode); a
            # hand-built frame violating that would diverge from the
            # fold's "first row must be the parent" group check, so it
            # must take the exact path instead
            and bool((parents_df["pos"] < 0).all())
            and bool((cand.loc[links_mask, "pos"] >= 0).all())
        ):
            seen0 = (
                cand["url_norm"].isin(set(seen_pdf["url_norm"]))
                if len(seen_pdf)
                else pd.Series(False, index=cand.index)
            )
            dup = seen0 | cand["url_norm"].duplicated(keep="first")
            fl = cand[links_mask & ~dup].copy()
            n_g = fl.groupby("parent_seq")["pos"].transform("size")
            idx_g = fl.groupby("parent_seq").cumcount()
            if first_and_last:
                head = (n_g * 0.15).astype(int)
                tail = (n_g * 0.85).astype(int)
                gof = ((idx_g >= head) & (idx_g < tail)).astype(int)
            else:
                gof = pd.Series(0, index=fl.index)
            fl = fl.assign(_gof=gof).sort_values(
                ["parent_seq", "_gof", "skey", "pos"], kind="mergesort"
            )
            parent_url = parents_df.set_index("parent_seq")["url"]
            self_rows = pd.DataFrame(
                {
                    "task_id": task_id,
                    "kind": "self",
                    "url": parents_df["url"].values,
                    "url_norm": parents_df["url_norm"].values,
                    "host": None,
                    "from_url": None,
                    "order_rank": 0,
                    "inserted": False,
                }
            )
            link_rows = pd.DataFrame(
                {
                    "task_id": task_id,
                    "kind": "link",
                    "url": fl["url"].values,
                    "url_norm": fl["url_norm"].values,
                    "host": fl["host"].values,
                    "from_url": fl["parent_seq"].map(parent_url).values,
                    "order_rank": range(1, len(fl) + 1),
                    "inserted": True,
                }
            )
            res = pd.concat([self_rows, link_rows], ignore_index=True)
            return res[[f.name for f in KERNEL_SCHEMA.fields]].astype(
                {"task_id": "int64", "order_rank": "int64"}
            )
        # ---- exact sequential fold (budget may exhaust) ----
        seen = set(seen_pdf["url_norm"]) if len(seen_pdf) else set()
        for parent_seq, grp in cand.groupby("parent_seq", sort=True):
            first = grp.iloc[0]
            if first["kind"] != "parent":
                # parent row missing (shouldn't happen) -> skip group
                continue
            if budget < 1:  # CollectUrls.py:39-40 (before self-seen)
                continue
            parent_url, parent_norm = first["url"], first["url_norm"]
            seen.add(parent_norm)
            out.append((task_id, "self", parent_url, parent_norm, None,
                        None, 0, False))
            found: List[tuple] = []  # (url, norm, host, pos, skey)
            for row in grp.iloc[1:].itertuples(index=False):
                if row.url_norm in seen:
                    continue
                seen.add(row.url_norm)
                found.append((
                    row.url, row.url_norm, row.host, row.pos,
                    # precomputed JVM-side in candidate_links; the
                    # hashlib fallback only serves hand-built frames
                    row.skey if has_skey else _shuffle_key(seed, row.url),
                ))
            n = len(found)
            if first_and_last:  # O5 (CollectUrls.py:119-124)
                head, tail = int(n * 0.15), int(n * 0.85)
                grp_of = lambda i: 0 if (i < head or i >= tail) else 1
            else:
                grp_of = lambda i: 0
            order = sorted(
                range(n),
                key=lambda i: (grp_of(i), found[i][4], found[i][3]),
            )
            for out_pos, i in enumerate(order):
                url, norm, host = found[i][0], found[i][1], found[i][2]
                ins = out_pos < max(0, budget)
                if ins:
                    rank += 1
                out.append(
                    (task_id, "link", url, norm, host, parent_url,
                     rank if ins else 0, ins)
                )
            budget = max(0, budget - n)  # CollectUrls.py:139-140
        return pd.DataFrame(out, columns=[f.name for f in KERNEL_SCHEMA.fields])

    return (
        candidates.groupBy("task_id")
        .cogroup(seen_rel.select("task_id", "url_norm").groupBy("task_id"))
        .applyInPandas(kernel, KERNEL_SCHEMA)
    )
