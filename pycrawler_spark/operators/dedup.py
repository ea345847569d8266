"""Deduplication operators for training-data pipelines.

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard dedup over a document
DataFrame — the operations a 100 TB web-text pipeline runs after the
crawl (no reference analog; the reference dedups only URLs, J1).

All hashing is md5-derived (JVM built-in, whole-stage codegen) so
every operator is reproducible in ANSI SQL — the matching DuckDB
oracles live in __spark_entry__. No Python UDF in any hot path except
SimHash-64 (whose 64-bit bit-bucket accumulation is cheaper in numpy
than as 64 JVM aggregate expressions).
"""

from __future__ import annotations

from typing import List, Sequence

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from pycrawler_spark.util import release

DEFAULT_SALTS = ("s1", "s2", "s3", "s4", "s5", "s6", "s7", "s8")


# --- exact ------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep one row (min id) per distinct text.

    Plan shape: ``groupBy(md5(text)).min(id)`` + a semi-join back on
    the (hash, id) COMPOSITE key. The earlier window
    (``partitionBy(md5(text))`` + row_number) shipped every member of
    a duplicate class into ONE task — a mega-class (empty docs, a
    boilerplate error page duplicated 10^8 times) serializes the whole
    job. The aggregation path absorbs the hot key map-side (partial
    min), and the join key includes ``id`` so the hot class spreads
    across partitions; text never shuffles either way.

    NULL text is one class (sentinel key — an equality join would drop
    every NULL-text row since NULL never equals NULL), matching the
    window implementation this replaced. Fully identical (hash, id)
    duplicates collapse to one survivor via the pre-join
    dropDuplicates, also matching the window's row_number()==1.
    NULL ids survive too: a class holding only NULL-id rows keeps one
    (string-sentinel join key). The one documented divergence from the
    window's asc_nulls_first order: when a class has BOTH null and
    non-null ids, the min NON-NULL id wins (keeping the real key is
    strictly more useful than keeping the corrupt row)."""
    h = F.coalesce(F.md5(F.col(text_col)), F.lit("<null-text>"))
    # prefix real ids so the null sentinel can never collide with a
    # string id whose VALUE is the sentinel text
    id_s = F.when(F.col(id_col).isNull(), F.lit("<null-id>")).otherwise(
        F.concat(F.lit("v:"), F.col(id_col).cast("string"))
    )
    keyed = (
        df.withColumn("_h", h)
        .withColumn("_id_s", id_s)
        .dropDuplicates(["_h", "_id_s"])
    )
    winners = keyed.select("_h", id_col).groupBy("_h").agg(
        # min over non-null ids; NULL iff the class has only NULL ids
        F.min(id_col).alias("_w")
    ).select(
        "_h",
        F.when(F.col("_w").isNull(), F.lit("<null-id>"))
        .otherwise(F.concat(F.lit("v:"), F.col("_w").cast("string")))
        .alias("_id_s"),
    )
    return (
        keyed.join(winners, ["_h", "_id_s"], "left_semi")
        .drop("_h", "_id_s")
    )


# --- shingling / words -------------------------------------------------------

def _words(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return df.select(id_col, F.explode(F.split(F.col(text_col), " ")).alias("w"))


def shingle(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            k: int = 3, extra_cols: Sequence[str] = ()) -> DataFrame:
    """Distinct k-token shingles via JVM array ops (transform over a
    sequence of offsets — no Python). ``extra_cols`` are carried
    through the explode for free (narrow projection over the generate
    output) — consumers that need a grouping column alongside each
    shingle should pass it here rather than re-joining the source
    table, which would re-shuffle the explode's occurrence-sized
    output on the id key."""
    # stage the split as a real column: referencing `split(text)`
    # inside the transform lambda re-evaluates it once PER OFFSET
    # (HOF lambdas have no subexpression caching) — O(n) splits of the
    # full text per document. The double reference below (size +
    # slice) keeps CollapseProject from re-inlining it.
    toks_df = df.select(
        F.col(id_col), *[F.col(c) for c in extra_cols],
        F.split(F.col(text_col), " ").alias("_toks"),
    )
    n = F.size(F.col("_toks"))
    # the k tokens feed concat_ws via 0-based get() rather than a
    # slice(): same joined string — get() past the end yields NULL and
    # concat_ws skips NULLs, reproducing the short-slice join for docs
    # with < k tokens — but the per-position k-element array copy is
    # gone (allocation rate is the binding constraint on these map
    # stages; r6, measured: 0.55 -> 0.40 s noop for the k=2 sf0.1
    # shingle stage, outputs equal incl. short/empty docs).
    sh = F.transform(
        F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
        lambda i: F.concat_ws(
            " ", *[F.get(F.col("_toks"), i + j) for j in range(k)]),
    )
    return toks_df.select(
        id_col, *extra_cols,
        F.explode(F.array_distinct(sh)).alias("shingle"),
    )


def id_pairs(ids: Column, a_name: str = "id_a", b_name: str = "id_b") -> Column:
    """All (i < j) element pairs of a SORTED id array, as an array of
    two-field structs — the pair-generation kernel of
    :func:`fingerprint_dup_pairs`. Grouping ids by the blocking key
    and exploding pairs WITHIN each group consumes the expensive
    upstream exactly once; a self-join plans it as two physical
    subtrees with no ReusedExchange (measured — see
    fingerprint_dup_pairs). ONLY appropriate behind a SELECTIVE
    blocking key (small groups): each group's D^2/2 pairs materialize
    as one in-row array, so a weak key with thousands-deep clusters
    must use a streaming self-join instead (measured 30x on q12 —
    see lsh_candidate_pairs). Pass ``ids`` as a bound ATTRIBUTE
    column (not an expensive expression — HOF lambdas re-evaluate
    per element), and filter ``size(ids) >= 2`` BEFORE exploding the
    result: for a 1-element array the index sequence would descend
    and element_at would throw under ANSI."""
    n = F.size(ids)
    return F.flatten(F.transform(
        F.sequence(F.lit(0), n - 2),
        lambda i: F.transform(
            F.sequence(i + 1, n - 1),
            lambda j: F.struct(
                F.element_at(ids, i + 1).alias(a_name),
                F.element_at(ids, j + 1).alias(b_name),
            ),
        ),
    ))


def token_shingle_hash(toks: Column, i: Column, k: int) -> Column:
    """k-gram identity at 0-based offset ``i`` of an already-split
    token array: ONE variadic ``xxhash64`` over the k token strings
    (position-sensitive seed chaining), via ``element_at`` — no
    per-position slice or concat_ws. Shared by
    :func:`winnow_fingerprints` and
    ``quality.ngram_repetition_stats`` so the calibrated hot-loop
    pattern cannot drift between them: the binding constraint on
    these map stages is host memory bandwidth from per-position
    string building, not arithmetic (measured — see BENCH.md, r5).
    Caller must guarantee ``i + k <= size(toks)``: ``element_at``
    past the end throws under ANSI mode."""
    return F.xxhash64(*[F.element_at(toks, i + 1 + j) for j in range(k)])


# --- MinHash + LSH ------------------------------------------------------------

def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    salts: Sequence[str] = DEFAULT_SALTS,
    shingle_k: int = 1,
) -> DataFrame:
    """One min(md5(salt || shingle)) per salt — the classic permutation
    approximation. shingle_k=1 degrades to word-set minhash."""
    if shingle_k == 1:
        units = _words(df, text_col, id_col).withColumnRenamed("w", "u")
    else:
        units = shingle(df, text_col, id_col, shingle_k).withColumnRenamed(
            "shingle", "u"
        )
    aggs = [
        F.min(F.md5(F.concat(F.lit(s), F.col("u")))).alias(f"mh_{i}")
        for i, s in enumerate(salts)
    ]
    return units.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
) -> DataFrame:
    """Band the signature columns into ``bands`` groups; docs sharing a
    band key are candidates. Self-join happens on the band key only —
    the shuffle carries (id, 32-byte key).

    Deliberately a streaming SELF-JOIN, not the grouped ``id_pairs``
    form that :func:`fingerprint_dup_pairs` uses: LSH bands are a
    WEAK blocking key by design (few hashes, coarse bands — high
    recall), so candidate clusters are large, and building each
    cluster's D^2/2 pair array inside one row materializes the
    quadratic output that the join form streams through the shuffle
    iterator (measured on q12: the grouped form was 30x slower at
    sf0.1, where the 2-band key yields thousands-deep clusters).
    Group-form wins only when the blocking key is SELECTIVE (winnow
    fingerprints); callers that need the upstream signature
    aggregation computed once should cache/checkpoint ``sigs`` — it
    is signature-sized (id + a few hashes), the cheapest table in the
    pipeline, unlike the text-sized inputs upstream of it."""
    sig_cols = [c for c in sigs.columns if c.startswith("mh_")]
    assert len(sig_cols) % bands == 0, "bands must divide signature size"
    r = len(sig_cols) // bands
    flat = None
    for b in range(bands):
        cols = sig_cols[b * r : (b + 1) * r]
        part = sigs.select(
            id_col,
            F.md5(F.concat_ws("|", F.lit(str(b)), *cols)).alias("band_key"),
        )
        flat = part if flat is None else flat.unionByName(part)
    a, b_ = flat.alias("a"), flat.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    salts: Sequence[str] = DEFAULT_SALTS,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Drop LSH near-duplicates, keeping the smallest id of each
    connected component's star (greedy: a doc survives unless it pairs
    with a smaller-id doc)."""
    sigs = minhash_signatures(df, text_col, id_col, salts, shingle_k)
    pairs = lsh_candidate_pairs(sigs, id_col, bands)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# --- Jaccard ------------------------------------------------------------------

def jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 1,
) -> DataFrame:
    """Exact Jaccard for given (id_a, id_b) candidate pairs — the
    verify stage after LSH. Shuffles only (id, unit) pairs."""
    units = (
        _words(df, text_col, id_col).withColumnRenamed("w", "u").distinct()
        if shingle_k == 1
        else shingle(df, text_col, id_col, shingle_k).withColumnRenamed(
            "shingle", "u"
        )
    )
    sizes = units.groupBy(id_col).agg(F.count("*").alias("n"))
    ua = units.select(F.col(id_col).alias("id_a"), F.col("u").alias("u_a"))
    ub = units.select(F.col(id_col).alias("id_b"), F.col("u").alias("u_b"))
    inter = (
        candidates.join(ua, "id_a")
        .join(ub, ["id_b"])
        .filter(F.col("u_a") == F.col("u_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )


# --- SimHash -------------------------------------------------------------------

def simhash_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash per doc (vectorized pandas UDF)."""
    from pycrawler_spark.functions.udfs import simhash_udf

    return df.select(id_col, simhash_udf(F.col(text_col)).alias("simhash"))


def simhash_near_pairs(
    sims: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by Hamming distance <= k, blocked on 16-bit
    chunks (pigeonhole: any pair within distance 3 shares at least one
    of 4 chunks) — turns the quadratic scan into 4 equi-joins."""
    chunks = [
        F.shiftrightunsigned(F.col("simhash"), 16 * i).bitwiseAND(0xFFFF).alias(f"c{i}")
        for i in range(4)
    ]
    t = sims.select(id_col, "simhash", *chunks)
    out = None
    for i in range(4):
        a, b = t.alias("a"), t.alias("b")
        pairs = a.join(
            b,
            (F.col(f"a.c{i}") == F.col(f"b.c{i}"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        ).select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        out = pairs if out is None else out.unionByName(pairs)
    return out.filter(F.col("hamming") <= max_hamming).distinct()


def dup_clusters(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 20,
) -> DataFrame:
    """Connected components over a near-dup pair graph -> canonical
    document selection (the step every dedup pipeline needs after pair
    finding: keep ONE representative per duplicate cluster).

    Min-label propagation with pointer jumping: every node starts
    labeled with its own id; each round takes the min over its own
    label, its neighbors' labels, AND its label's label (labels only
    decrease and always point at a node with an equal-or-smaller
    label, so the label-of-label hop is the classic pointer-jumping
    step). The jump makes convergence O(log diameter) instead of
    O(diameter) — a chain of 2^20 nodes finishes inside the default
    ``max_iters`` — at the cost of one extra equi-join per round. Each
    round is wave-sized shuffles keyed by node id with per-round
    lineage truncation; no driver-side graph ever exists, the only
    driver value is the per-round convergence counter.

    Raises ``RuntimeError`` if labels still changed on the last
    allowed round — silently returning unconverged labels would mark
    several "canonical" docs inside one true cluster and let
    duplicates survive dedup with no signal.

    Returns (id_col, cluster_id, is_canonical) where cluster_id is the
    component's min id and is_canonical marks the kept representative
    (deterministic: lowest id wins).
    """
    # materialize the symmetric edge list ONCE — every round joins it,
    # and the upstream pair finder (LSH blocking / cosine verify) must
    # not recompute per round
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    ).localCheckpoint()
    labels = nodes.select(
        F.col(id_col).alias("id"), F.col(id_col).cast("long").alias("label")
    ).localCheckpoint()
    changed = 0
    try:
        for _ in range(max_iters):
            nb = (
                edges.join(labels, edges["dst"] == labels["id"])
                .groupBy("src")
                .agg(F.min("label").alias("nb_label"))
            )
            stepped = labels.join(nb, labels["id"] == nb["src"], "left").select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("nb_label", F.col("label"))
                ).alias("label"),
            )
            # pointer jumping: label <- min(label, label(label))
            ptr = stepped.select(
                F.col("id").alias("p_id"), F.col("label").alias("p_label")
            )
            nxt = (
                stepped.join(ptr, stepped["label"] == ptr["p_id"], "left")
                .select(
                    "id",
                    F.least(
                        F.col("label"), F.coalesce("p_label", F.col("label"))
                    ).alias("label"),
                )
                .localCheckpoint()  # truncate the iterative lineage
            )
            changed = (
                nxt.alias("n")
                .join(labels.alias("o"), "id")
                .filter(F.col("n.label") != F.col("o.label"))
                .count()
            )
            release(labels)
            labels = nxt
            if changed == 0:
                break
        if changed != 0:
            release(labels)
            raise RuntimeError(
                f"dup_clusters did not converge in {max_iters} rounds "
                f"({changed} labels still changing) — raise max_iters"
            )
    finally:
        release(edges)
    return labels.select(
        F.col("id").alias(id_col),
        F.col("label").alias("cluster_id"),
        (F.col("label") == F.col("id")).alias("is_canonical"),
    )


# --- Winnowing fingerprints (rolling-hash document fingerprinting) ----------

def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    sql_twin: bool = False,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD'03): hash every k-token shingle, take the minimum hash of
    each sliding window of ``window`` consecutive shingle hashes, and
    keep the distinct minima as the document's fingerprint set.
    Guarantees every shared run of >= k+window-1 tokens between two
    documents yields at least one shared fingerprint, so
    ``fingerprint_dup_pairs`` finds containment/partial overlap that
    whole-document MinHash dilutes (a 10-page doc quoting one page of
    another still collides on that page's fingerprints).

    Scale design: winnowing is a per-document computation, so the
    whole operator is array expressions inside a short chain of
    projections — shingle, hash, window-min, and dedup all happen in
    ``transform``/``slice``/``array_min``/``array_distinct`` BEFORE
    the single explode. ZERO shuffles, zero Window functions, no
    Python; at 100 TB this is a map-only stage that scales linearly
    with input splits (plan pinned by
    ``test_winnow_plan_has_no_exchange``). The projection chain is
    load-bearing, not style — see the inline comment on lambda
    re-evaluation (collapsing it into one nested expression makes the
    operator quadratic per document).

    Hashing: the default path is one VARIADIC ``xxhash64`` over the k
    token strings per position — no per-position string building, no
    slice allocation. Allocation rate is the binding constraint, not
    arithmetic: with the original concat-and-hash form the host
    pegged all 16 cores while wall time stayed flat from 8 cores up
    (~3x CPU inflation vs 2 cores — memory-bandwidth/GC saturation;
    see BENCH.md). With ``sql_twin=True`` the
    shingle hash is the md5-prefix bigint of the joined shingle text,
    matching the DuckDB oracle (same pattern as q27_host_bucket).
    WHICH shingle positions become fingerprints depends on the hash
    ordering, so the two variants select different (similar-sized)
    fingerprint sets — the shared-run guarantee above holds under
    either; only consume fingerprints produced with one hash
    consistently.

    A pure-Python reference of the same algorithm (different hash) is
    ``textkit.winnow_fingerprint``; equivalence of the structure is
    tested in ``test_winnow_matches_python_reference``.

    Returns (id_col, fp: long), distinct per document. Documents with
    fewer than k+window-1 tokens have no complete window and are
    absent (matching the reference semantics of "too short to
    fingerprint").
    """
    empty = F.array().cast("array<bigint>")

    # STAGED projections, deliberately: higher-order-function lambdas
    # are evaluated per element with NO common-subexpression caching,
    # so nesting `hashes` (itself a transform over `split(text)`)
    # inside the window-min lambda re-evaluates the whole shingle-hash
    # array — including the split — once per window position: O(n^2)
    # hash evaluations and O(n^2) text splits per document. Measured
    # 51 ms/doc on 54-token documents in that form. Each intermediate
    # is therefore materialized as a real column and referenced more
    # than once in the next stage, which keeps CollapseProject from
    # re-inlining the expensive expression back into the lambda
    # (it only inlines single-use or trivially-cheap producers).
    toks_df = df.select(F.col(id_col), F.split(F.col(text_col), " ")
                        .alias("_toks"))

    n = F.size(F.col("_toks"))
    if sql_twin:
        # oracle twin: md5 of the joined shingle TEXT (DuckDB-matched).
        # The k tokens feed concat_ws via element_at rather than a
        # slice(): the joined string (and so the hash) is identical,
        # but the per-position k-element array copy is gone — the same
        # allocation-rate lesson as the default path, applied to the
        # twin (r6, measured: 0.86 -> 0.72 s noop on the sf0.1 map
        # stage, output equal).
        def shingle_hash(i: Column) -> Column:
            return F.conv(F.substring(F.md5(
                F.concat_ws(" ", *[F.element_at(F.col("_toks"), i + 1 + j)
                                   for j in range(k)])),
                1, 15), 16, 10).cast("long")
    else:
        # default path: one VARIADIC xxhash64 over the k token strings
        # per position (token_shingle_hash) — a single expression node
        # consuming the tokens in order, no per-position string or
        # array allocation. Interpreted HOF eval pays per expression
        # NODE and per ALLOCATION; this form minimizes both (measured
        # against a string-building variant and a rotate-xor
        # token-hash fold — see BENCH.md).
        def shingle_hash(i: Column) -> Column:
            return token_shingle_hash(F.col("_toks"), i, k)

    hashes = F.when(
        n >= k + window - 1,
        F.transform(F.sequence(F.lit(0), n - k), shingle_hash),
    ).otherwise(empty)
    hs_df = toks_df.select(F.col(id_col), hashes.alias("_hs"))

    # window minima at every window start 0..size(_hs)-window; least()
    # over element_at instead of array_min(slice()) — same value, no
    # per-position array copy
    m = F.size(F.col("_hs"))
    fps = F.when(
        m >= window,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), m - window),
                lambda p: (
                    F.least(*[F.element_at(F.col("_hs"), p + 1 + j)
                              for j in range(window)])
                    if window > 1
                    else F.element_at(F.col("_hs"), p + 1)
                ),
            )
        ),
    ).otherwise(empty)
    return hs_df.select(id_col, F.explode(fps).alias("fp"))


def fingerprint_dup_pairs(
    fps: DataFrame,
    id_col: str = "doc_id",
    min_shared: int = 2,
    max_df: int | None = None,
    max_df_hard: int = 1_000_000,
) -> DataFrame:
    """Near-dup / containment pairs from winnow fingerprints
    (MOSS-style): self-join on fp, count shared fingerprints per pair,
    keep pairs sharing >= ``min_shared``.

    Scale design: ONE fp-keyed aggregation groups the doc ids sharing
    each fingerprint, then pairs are generated WITHIN each group —
    the fps input is consumed exactly once. The previous self-join
    form consumed it twice: Spark plans a self-join as two physical
    subtrees, and (measured on q58) the whole upstream winnowing
    pipeline — tokenize, hash, window-min, explode — executed once
    PER SIDE with no ReusedExchange. The grouped form is correct
    HERE because winnow fingerprints are a SELECTIVE blocking key
    (a 64-bit content hash shared only by genuinely overlapping
    spans, groups of a handful of docs); for a weak key with huge
    candidate clusters the in-row pair array materializes what a
    join would stream — see lsh_candidate_pairs for the measured
    counter-case and ``id_pairs`` for the rule. The shuffle key is
    the 64-bit fingerprint — high cardinality, near-uniform — and
    each group's pair fan-out is the same df^2 the join form
    produced, just generated from one grouped row. The skew/OOM risk is
    boilerplate fingerprints shared by MILLIONS of docs (cookie
    banners, license headers): one hot fp makes a quadratic pair
    output (join form) or a df-sized id array (this form). ``max_df``
    caps document frequency — oversize groups are dropped by a size
    filter BEFORE pair generation (the standard MOSS/plagiarism-index
    mitigation, and the analog of q46's boilerplate removal); here it
    is a free filter on the already-built group rather than an extra
    agg + join. At web scale always set it; default None keeps small
    corpora exact. When ``max_df`` is unset, ``max_df_hard`` is the
    skew SENTINEL (the analog of range_join's fan-out guard, r6): a
    group whose id array exceeds it raises with the offending fp and
    its size instead of silently building a df-sized in-row array on
    the way to an executor OOM — a zero-cost per-group comparison on
    the already-built group, no extra pass or driver action.

    Input contract: one row per (id, fp) — ``winnow_fingerprints``
    output is distinct by construction. Duplicate rows are collapsed
    defensively (``array_distinct`` over the sorted group, a no-op on
    distinct input, r6), so self-pairs (id_a == id_b) can never be
    emitted regardless of input; note the join form would instead
    inflate n_shared on duplicated input, so the two forms are only
    interchangeable on DISTINCT input either way.

    Returns (id_a, id_b, n_shared), id_a < id_b.
    """
    groups = fps.groupBy("fp").agg(
        F.array_distinct(
            F.array_sort(F.collect_list(id_col))).alias("_ids"))
    if max_df is not None:
        groups = groups.filter(F.size("_ids") <= max_df)
    else:
        # skew sentinel: fail loudly on a boilerplate fp shared by an
        # absurd number of docs rather than OOM inside pair fan-out
        groups = groups.withColumn(
            "_ids",
            F.when(F.size("_ids") <= max_df_hard, F.col("_ids")).otherwise(
                F.raise_error(F.concat(
                    F.lit("fingerprint_dup_pairs: fp "),
                    F.col("fp").cast("string"),
                    F.lit(" is shared by "),
                    F.size("_ids").cast("string"),
                    F.lit(f" docs (> max_df_hard={max_df_hard}) "
                          "- boilerplate fingerprint; set max_df to "
                          "cap document frequency"),
                ))
            ),
        )
    # sorted array makes id_a < id_b structural
    return (
        groups.filter(F.size("_ids") >= 2)
        .select(F.explode(id_pairs(F.col("_ids"))).alias("_p"))
        .groupBy(F.col("_p.id_a").alias("id_a"),
                 F.col("_p.id_b").alias("id_b"))
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
