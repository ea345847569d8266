"""Link-graph operators — PageRank for frontier prioritization.

A production crawl scheduler orders its frontier by link authority
("crawl important pages first"); PageRank over the discovered link
graph is the canonical signal. Like `dedup.dup_clusters`, this is an
iterative fixed-round DataFrame algorithm: per round one equi-join
keyed by node id + one aggregation, with `localCheckpoint` lineage
truncation. No driver-side graph ever exists, and the driver blocks
ONCE per round (the checkpoint materialization) — the dangling mass
is a one-row DataFrame folded into the rank update via a broadcast
cross join, never a per-round `.first()`.

Scale shape at 10^10 edges: the upstream edge computation (often an
expensive extraction pipeline — href parsing UDFs over the corpus)
is materialized ONCE at entry and every setup table derives from
that checkpoint; before round 6 the setup consumed the raw ``edges``
plan four times (out-degrees, both sides of the node union, and the
degree-annotated edge table), and Spark plans each consumer as its
own physical subtree — four full upstream executions (measured: ~9%
of q54 wall even on the tiny bench graph, where the extraction is
one Arrow batch; at corpus scale it is four scans instead of one).
The dangling-node flag is computed ONCE (a left join at setup) and
travels with the rank table, so no per-round anti-join re-derives
the static dangling set.
Per-round cost is a (dst-keyed) shuffle of (edge, rank-fraction)
pairs — 16 bytes per edge — plus a node-sized aggregation and a scan
of the (checkpointed) rank table for the dangling sum. Rounds are
fixed (default 10), so the whole computation is ~20 bounded shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pycrawler_spark.util import release


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Standard PageRank with dangling-node redistribution: nodes are
    the union of sources and destinations, ranks start uniform at
    1/N, and each round

        rank(v) = (1-d)/N + d * (sum of rank(u)/outdeg(u) over
                  in-neighbors u) + d * dangling_mass/N

    Fixed iteration count (deterministic); returns (node, rank).
    """
    # materialize the upstream edge computation ONCE: deg, the node
    # union and the degree-annotated edge table below each consume the
    # edge list, and Spark plans every consumer as a separate physical
    # subtree — without this checkpoint the (possibly UDF-heavy)
    # upstream pipeline executes four times during setup. ``ed`` is
    # released as soon as ``e`` (the degree-annotated copy every round
    # reads) is materialized, so two edge copies never outlive setup.
    ed = edges.select(src_col, dst_col).localCheckpoint()
    deg = ed.groupBy(src_col).agg(F.count("*").alias("outdeg"))
    # dangling flag computed ONCE at setup (it is a static property of
    # the graph) and carried through every round on the node table —
    # re-deriving it per round with an anti-join would add one
    # node-sized shuffle per iteration for an unchanging answer
    nodes = (
        ed.select(F.col(src_col).alias("node"))
        .unionByName(ed.select(F.col(dst_col).alias("node")))
        .distinct()
        .join(deg.select(F.col(src_col).alias("node"),
                         F.lit(False).alias("_dang")), "node", "left")
        .select("node", F.coalesce("_dang", F.lit(True)).alias("_dang"))
        .localCheckpoint()
    )
    n = nodes.count()
    # out-degree travels with each edge; materialized once, reused
    # every round
    e = (
        ed.join(deg, src_col)
        .localCheckpoint()
    )
    release(ed)
    ranks = nodes.select("node", "_dang", F.lit(1.0 / n).alias("rank"))
    for _ in range(iters):
        # ONE join + ONE aggregation per round (r6): zero-inflow nodes
        # are kept by unioning a node-sized stream of 0.0 rows (from
        # the previous rank table, which carries the full node set and
        # the _dang flag) INTO the contribution aggregation, instead
        # of a second per-round join of the aggregate back onto the
        # node table. The added 0.0 terms are IEEE-exact no-ops (x +
        # 0.0 == x; every rank is > 0, so no -0.0 edge case) and the
        # _dang flag rides as max() over the one non-null value per
        # group; measured interleaved: q54 2.18 -> 1.95 s warm median,
        # round(4) output identical, and the fixed oracle graph's
        # closest rank sits 5.8e-7 from a 4-decimal rounding boundary
        # vs ~1e-15 summation reassociation drift. At scale this drops
        # a node-sized shuffle+join per round.
        contribs_in = (
            e.join(ranks, e[src_col] == ranks["node"])
            .select(
                F.col(dst_col).alias("node"),
                (F.col("rank") / F.col("outdeg")).alias("c"),
                F.lit(None).cast("boolean").alias("_dang"),
            )
        )
        zeros = ranks.select("node", F.lit(0.0).alias("c"), "_dang")
        agg = (
            contribs_in.unionByName(zeros)
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"), F.max("_dang").alias("_dang"))
        )
        # dangling mass (rank held by no-out-edge nodes) as a ONE-ROW
        # DataFrame broadcast-cross-joined into the update: the round
        # stays a single job (the checkpoint), no driver round-trip
        dangling = ranks.filter(F.col("_dang")).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dmass")
        )
        prev = ranks
        ranks = (
            agg.crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "_dang",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping) * F.col("_dmass") / F.lit(float(n))
                    + F.lit(damping) * F.col("inflow")
                ).alias("rank"),
            )
            .localCheckpoint()
        )
        release(prev)
    release(e)
    if iters:  # with no rounds the result still reads ``nodes``
        release(nodes)
    return ranks.select("node", "rank")


def pagerank_local(edge_list, damping: float = 0.85, iters: int = 10):
    """Pure-Python twin of :func:`pagerank` (same update rule, same
    rounds) — used to inline expected ranks as oracle constants for
    deterministic small graphs, exactly like simulator-based crawl
    oracles. Returns {node: rank}."""
    nodes = sorted({s for s, _ in edge_list} | {d for _, d in edge_list})
    n = len(nodes)
    outdeg: dict = {}
    for s, _ in edge_list:
        outdeg[s] = outdeg.get(s, 0) + 1
    ranks = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        inflow = {v: 0.0 for v in nodes}
        for s, d in edge_list:
            inflow[d] += ranks[s] / outdeg[s]
        dangling = sum(r for v, r in ranks.items() if v not in outdeg)
        base = (1.0 - damping) / n + damping * dangling / n
        ranks = {v: base + damping * inflow[v] for v in nodes}
    return ranks
