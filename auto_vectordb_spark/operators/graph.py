"""Graph analytics over relationship tables derived by the engine (edges
from dedup pairs, co-purchase pairs, event transitions — any (src, dst)
DataFrame). The reference has no graph surface; this extends the engine the
same way dedup's connected components do (operators/dedup.py), with the
same iterative-algorithm discipline: per-round ``localCheckpoint`` plan
truncation, scalar-only collects, never an N² join.

PageRank (Brin & Page 1998) is the standard power iteration WITH
dangling-mass redistribution: rank stranded on out-degree-0 nodes is
aggregated each round (one scalar collect, the same discipline as the node
count) and folded into the base term, so total rank mass is conserved
exactly on ANY directed (src, dst) input — sinks included. The pure-Python
reference in tests/test_graph.py uses the identical formulation and is
asserted equal on a directed chain with a sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialized, release_materialized


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration power-method PageRank over a directed edge list.

    Returns (node, rank). Every iteration is two shuffles over the edge
    table — contributions grouped by destination, then the rank refresh
    left-join — with the logical plan truncated per round
    (``localCheckpoint``; K nested join rounds otherwise accrete a plan
    whose optimization alone dominates, the same failure mode
    tokenizer.py documents). Scalar collects: the node count once, plus
    one dangling-mass aggregate per iteration (skipped entirely when the
    graph has no sinks — the common undirected case detects this with a
    single upfront count). Rank stranded on out-degree-0 nodes is folded
    into the base term (``damping * dangling_mass / n``), so total mass
    is exactly 1.0 on any directed input.

    At 100 TB-derived graphs: the edge table shuffles on its natural keys,
    ranks are one row per node, and nothing in the loop is ever quadratic;
    skewed high-degree destinations are AQE's skew-split problem by
    construction (contribution aggregation is a plain groupBy). The
    dangling aggregate is a semi-join + global sum on the 1-row-per-node
    rank table — no new shuffle of the edge table.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    all_nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    with materialized(all_nodes, "localCheckpoint") as nodes:
        n = nodes.count()
        if n == 0:
            # e.g. copurchase_edges with a high min_support: a legitimate
            # empty graph, not an error (lazy: the checkpoint is released)
            return all_nodes.select("node", F.lit(0.0).alias("rank"))
        out_deg = e.groupBy("src").agg(F.count("*").alias("deg"))
        # Pre-partition the edge table by the join key ONCE (r13, guide
        # §2.4): the per-iteration contribution join re-shuffled the EDGE
        # table — the big side — every round when the rank side was too
        # large to broadcast; a checkpoint preserves its
        # outputPartitioning, so all ``iterations`` joins are satisfied
        # without another edge exchange (ranks leave each round
        # partitioned by node from the groupBy, which satisfies the rank
        # side too). One exchange per iteration remains: the contribution
        # groupBy(dst).
        with materialized(
            e.join(out_deg, "src").repartition("src"), "localCheckpoint"
        ) as ed, materialized(
            nodes.join(
                out_deg.select(F.col("src").alias("node")), "node", "left_anti"
            ),
            "localCheckpoint",
        ) as dangling:
            has_dangling = dangling.limit(1).count() > 0
            ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
            base = (1.0 - damping) / n
            for _ in range(iterations):
                dangling_mass = 0.0
                if has_dangling:
                    dm_row = (
                        ranks.join(dangling, "node", "left_semi")
                        .agg(F.sum("rank").alias("dm"))
                        .first()
                    )
                    dangling_mass = dm_row["dm"] or 0.0
                step_base = base + damping * dangling_mass / n
                contribs = (
                    ed.join(ranks, ed["src"] == ranks["node"])
                    .select(
                        F.col("dst").alias("node"),
                        (F.col("rank") / F.col("deg")).alias("c"),
                    )
                    .groupBy("node")
                    .agg(F.sum("c").alias("s"))
                )
                prev = ranks
                ranks = (
                    nodes.join(contribs, "node", "left")
                    .select(
                        "node",
                        (
                            F.lit(step_base)
                            + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
                        ).alias("rank"),
                    )
                    .localCheckpoint()
                )
                # rolling state (first round's `prev` is the un-checkpointed
                # seed projection — a no-op)
                release_materialized(prev)
    return ranks  # reads only the last round's blocks: the caller's


def copurchase_edges(lineitem: DataFrame, min_support: int = 2) -> DataFrame:
    """Undirected co-purchase graph as a symmetric directed edge list:
    (src part, dst part) for part pairs appearing in >= ``min_support``
    shared orders — the same bounded-fan-out pair generation as
    basket_pair_lift (plans/parity.py), emitted in both directions so
    PageRank sees an undirected graph with no dangling nodes.
    """
    items = lineitem.select("l_orderkey", "l_partkey").distinct()
    pair = (
        items.alias("a")
        .join(
            items.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= min_support)
    )
    return pair.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).union(
        pair.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
