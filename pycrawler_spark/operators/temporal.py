"""Temporal join operators Spark lacks natively — as-of join and
range join — composed from built-in DataFrame ops (the brief's
preferred strategy: composition first, Pandas kernels only when
semantics demand).

Both are staples of event-log analytics over the crawl/event tables:
"which page-load state was current when this click happened" (as-of),
"which events fall inside each incident window" (range).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F, types as T


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols=None,
    chunk: int | None = None,
) -> DataFrame:
    """For every left row, attach the LATEST right row with
    ``right.ts <= left.ts`` within the same ``by`` key (DuckDB/kdb
    ASOF JOIN semantics; ties at equal timestamps match).

    Spark-first plan: instead of a per-row subquery or an O(n*m)
    conditional join, both sides are UNIONED and sorted once per key —
    ``last(right_row_struct, ignorenulls=True)`` over an
    unbounded-preceding window carries the most recent right ROW
    forward onto each left row. ONE shuffle keyed by ``by``; cost is a sort per
    key group, independent of how far back the match lies. Right rows
    order BEFORE left rows at equal timestamps (side flag in the sort
    key) so the tie matches, exactly like ASOF JOIN.

    Returns all left columns plus ``value_cols`` (default: every
    non-key right column) with ``r_`` prefix (null when no right row
    precedes the left row).

    Skew bound: each distinct ``by`` value is ONE window partition, so
    a mega-key (every row sharing one key) serializes into a single
    task — the same per-key bound as the crawl kernel's per-task
    cogroup (see ``dedup_budget_kernel``). That is the correct
    shape for host-keyed/user-keyed telemetry (key cardinality >>
    cores, per-key volume bounded by politeness/session length); for a
    corpus-scale key (e.g. ``by=lang``) pass ``chunk=N`` (seconds) —
    the built-in time-range-chunked mode — instead of salting: the
    carried "latest right row" state is order-dependent within the
    key, so a random salt would break semantics, but TIME splits
    don't, provided each chunk sees the latest right row from before
    its own start.

    ``chunk=N`` plan: both sides land on ``floor(unix_ts / N)``
    chunks; per (key, chunk) the latest right row is reduced map-side
    (``max_by`` aggregation over the right side only), then carried
    forward across the per-key CHUNK INDEX (a window over one row per
    (key, chunk) — thousands of rows per key, not billions) and
    injected into each chunk as a boundary row that sorts before every
    real row. The main window then partitions by (key, chunk), so a
    mega-key spreads over span/N tasks instead of one. Results are
    identical to the unchunked mode for any N (property-tested vs
    ``pandas.merge_asof``); cost is two extra small shuffles (the
    right-side reduce and the chunk-index carry), so keep the default
    unchunked mode when key cardinality >> cores. Unchunked shape
    pinned by ``test_asof_mega_key_single_partition``; chunked shape
    by ``test_asof_chunked_multi_partition_plan``. NULL timestamps
    stay consistent with the unchunked NULLS-FIRST sort: both sides'
    NULL-ts rows land in a LONG_MIN sentinel chunk that orders before
    every real chunk (a NULL chunk index would fall out of the
    carry's equi-join), and its latest right row carries forward —
    verified equal-output in
    ``test_asof_chunked_null_ts_matches_unchunked`` and
    ``test_asof_chunked_null_only_right_rows_carry``.
    """
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in (by, right_ts)]
    # the right row travels as ONE struct: carrying each value column
    # independently with last(ignorenulls) would backfill a NULL field
    # of the matched row from an OLDER row — fabricating a row that
    # never existed. The struct is null iff no right row precedes the
    # left row; its fields keep the matched row's own nulls.
    rv_type = T.StructType(
        [T.StructField(c, right.schema[c].dataType) for c in value_cols]
    )
    # the left key/timestamp travel ONCE, as _k/_ts, and are restored
    # under their original names in the final select — before r6 the
    # union carried (by, left_ts) twice per row (as _k/_ts AND as the
    # verbatim left columns), inflating the one shuffle's bytes by the
    # width of key+timestamp (measured at x32 replication: 1.43 ->
    # 1.18 s noop median, rows and schema identical)
    carry = [c for c in left.columns if c not in (by, left_ts)]
    _restore = {by: F.col("_k").alias(by),
                left_ts: F.col("_ts").alias(left_ts)}
    out_cols = [_restore.get(c, F.col(c)) for c in left.columns]
    l_tag = left.select(
        F.col(by).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        *[F.col(c) for c in carry],
        F.lit(None).cast(rv_type).alias("_rv"),
    )
    r_tag = right.select(
        F.col(by).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in carry],
        F.struct(*[F.col(c) for c in value_cols]).alias("_rv"),
    )
    if chunk is None:
        w = (
            Window.partitionBy("_k")
            .orderBy("_ts", "_side")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        carried = l_tag.unionByName(r_tag).withColumn(
            "_rmatch", F.last("_rv", ignorenulls=True).over(w)
        )
        return carried.filter(F.col("_side") == 1).select(
            *out_cols,
            *[F.col(f"_rmatch.{c}").alias(f"r_{c}") for c in value_cols],
        )

    # chunked mode: split each key by time range so a mega-key spreads
    # across span/chunk window partitions (see docstring)
    def _secs(df: DataFrame) -> F.Column:
        dt = df.schema["_ts"].dataType
        c = F.col("_ts")
        if isinstance(dt, (T.TimestampType, getattr(T, "TimestampNTZType",
                                                    T.TimestampType))):
            return F.unix_timestamp(c)
        return c.cast("double")

    # NULL-ts rows land in a SENTINEL chunk (LONG_MIN) rather than a
    # NULL chunk index: the carry below attaches r_last with an
    # equi-join on (_k, _c), and NULL join keys never match — a NULL
    # chunk would silently fall out of the carry (pinned by
    # test_asof_chunked_null_only_right_rows_carry). LONG_MIN orders
    # before every real chunk, preserving the NULLS-FIRST semantics.
    _null_chunk = F.lit(-(2 ** 63)).cast("long")

    def _chunk_of(df: DataFrame) -> F.Column:
        return F.coalesce(
            F.floor(_secs(df) / F.lit(chunk)).cast("long"), _null_chunk)

    lc = l_tag.withColumn("_c", _chunk_of(l_tag))
    rc = r_tag.withColumn("_c", _chunk_of(r_tag))
    # latest right row per (key, chunk) — reduced map-side; ties at
    # equal _ts are arbitrary, matching the unchunked sort's tie
    # behavior among duplicate right timestamps. The ordering key is a
    # (is-not-null, ts) struct, NOT the bare _ts: max_by skips rows
    # whose ordering value is NULL, which would silently drop the
    # NULL-timestamp chunk's rows from the carry — unchunked
    # NULLS-FIRST semantics instead treat a NULL-ts right row as the
    # earliest possible match, so it must carry forward when no real
    # right row precedes (pinned by
    # test_asof_chunked_null_only_right_rows_carry).
    r_last = rc.groupBy("_k", "_c").agg(
        F.max_by(
            "_rv", F.struct(F.col("_ts").isNotNull().alias("_nn"),
                            F.col("_ts").alias("_t"))
        ).alias("_rvl"))
    # carry the running latest across the per-key CHUNK INDEX: one row
    # per (key, chunk) ever touched by either side — a tiny table (the
    # mega-key contributes span/chunk rows here, not its row count)
    chunks = (
        lc.select("_k", "_c").unionByName(rc.select("_k", "_c")).distinct()
    )
    wc = (
        Window.partitionBy("_k").orderBy("_c")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry_t = (
        chunks.join(r_last, ["_k", "_c"], "left")
        .withColumn("_rv", F.last("_rvl", ignorenulls=True).over(wc))
        .filter(F.col("_rv").isNotNull())
    )
    # boundary row per (key, chunk): sorts before every real row
    # (_ts NULL sorts ASC NULLS FIRST; _side -1 precedes right's 0)
    bnd = carry_t.select(
        "_k",
        F.lit(None).cast(left.schema[left_ts].dataType).alias("_ts"),
        F.lit(-1).alias("_side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in carry],
        F.col("_rv"),
        "_c",
    )
    w = (
        Window.partitionBy("_k", "_c")
        .orderBy("_ts", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        lc.unionByName(rc).unionByName(bnd)
        .withColumn("_rmatch", F.last("_rv", ignorenulls=True).over(w))
    )
    return carried.filter(F.col("_side") == 1).select(
        *out_cols,
        *[F.col(f"_rmatch.{c}").alias(f"r_{c}") for c in value_cols],
    )


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    by: str,
    point_ts: str = "ts",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    bucket_seconds: int | None = None,
    max_buckets_per_interval: int = 4096,
    validate: bool = True,
) -> DataFrame:
    """Inner join of point rows to every interval containing them
    (``start <= point <= end``) within the same ``by`` key — the
    bucketed range join.

    Spark's naive plan for a BETWEEN join is a conditional join that
    degenerates toward per-key cross products. Here both sides explode
    onto coarse time buckets (intervals onto every bucket they
    overlap) and meet on a (key, bucket) EQUI-join; the exact BETWEEN
    predicate then filters the bucket-local candidates. Shuffle is
    keyed by (key, bucket) — skew-bounded by bucket width — and each
    candidate pair is bucket-co-resident, never all-pairs.
    ``bucket_seconds`` trades bucket fan-out (long intervals explode
    onto more buckets) against candidate density; intervals are
    assumed MUCH rarer than points (incident windows vs event logs),
    so the interval-side explosion is the cheap side.

    Fan-out guard: an interval emits ``(end-start)/bucket_seconds``
    rows, so ONE corrupt interval (an ``end_ts`` years in the future)
    at a fixed bucket width can blow the per-task row count or the
    sequence-length limit. Two defenses, both driven by one tiny
    aggregation over the (small) interval side:

    * ``bucket_seconds=None`` (the default) — auto-size: the width is
      derived from the LONGEST interval so that no interval spans more
      than ``max_buckets_per_interval`` buckets (floor 600 s). Result
      rows are identical for any width; only the candidate density
      shifts. Long intervals degrade gracefully (wider buckets) rather
      than erroring.
    * explicit ``bucket_seconds`` — validated: raises ``ValueError``
      when the longest interval would exceed
      ``max_buckets_per_interval`` buckets, instead of silently
      skewing a task. Callers that trust their data can raise the cap
      or pass ``validate=False``, which also skips the span scan
      entirely — plan construction is then fully lazy (no Spark job
      at build time).

    Result: one row per (point, containing interval), point columns
    plus ``start_col``/``end_col``.
    """
    auto = bucket_seconds is None
    if auto or validate:
        # one tiny driver-side aggregation over the (small) interval
        # side per call — the price of the guard; both branches use
        # the conservative bound floor(span/b)+2 (a misaligned
        # interval can straddle one more bucket than span/b+1:
        # start=9,end=20,b=10 hits buckets 0,1,2 while span//b+1 = 2)
        span = intervals.agg(
            F.max(
                F.unix_timestamp(F.col(end_col))
                - F.unix_timestamp(F.col(start_col))
            )
        ).first()[0]
        max_span = int(span or 0)
        if auto:
            denom = max(max_buckets_per_interval - 2, 1)
            bucket_seconds = max(600, -(-max_span // denom))
        # validate BOTH paths against the same bound: auto-sizing
        # always satisfies it for cap >= 3, but a degenerate cap (<= 2)
        # must raise rather than silently violate its own limit
        if max_span // bucket_seconds + 2 > max_buckets_per_interval:
            raise ValueError(
                f"range_join: an interval spans {max_span} s = up to "
                f"{max_span // bucket_seconds + 2} buckets at "
                f"bucket_seconds={bucket_seconds}"
                f"{' (auto-sized)' if auto else ''} (cap "
                f"{max_buckets_per_interval}); "
                + ("raise max_buckets_per_interval"
                   if auto else
                   "pass bucket_seconds=None to auto-size or raise "
                   "max_buckets_per_interval")
            )
    bsec = F.lit(bucket_seconds)
    p = points.withColumn(
        "_b", (F.unix_timestamp(F.col(point_ts)) / bsec).cast("long")
    )
    iv = intervals.select(
        F.col(by).alias("_ik"),
        start_col,
        end_col,
        F.explode(
            F.sequence(
                (F.unix_timestamp(F.col(start_col)) / bsec).cast("long"),
                (F.unix_timestamp(F.col(end_col)) / bsec).cast("long"),
            )
        ).alias("_b"),
    )
    joined = p.join(
        iv,
        (p[by] == iv["_ik"]) & (p["_b"] == iv["_b"]),
    ).filter(
        F.col(point_ts).between(F.col(start_col), F.col(end_col))
    )
    return joined.select(*points.columns, start_col, end_col)
