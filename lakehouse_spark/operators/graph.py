"""Iterative graph algorithms as DataFrame joins (no driver-side graph,
no GraphX dependency — the same discipline as
operators/dedup.connected_components).

PageRank here is the canonical "iterative joins at scale" shape: each
round is ONE shuffle (contributions grouped by destination) plus a
broadcast-scale scalar for dangling mass; lineage is cut with an
observed localCheckpoint every round so 10+ rounds don't build a
10-deep plan.
At 100 TB the edge table partitions by src and the rank table by node;
AQE handles the power-law hub skew the same way it handles hot keys in
any aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iters: int = 10,
) -> DataFrame:
    """Standard PageRank (sum of ranks = 1): uniform seed, per round

        rank'(v) = (1-d)/N + d * (Σ_{u→v} rank(u)/outdeg(u) + dangling/N)

    where ``dangling`` is the rank mass sitting on nodes with no out
    edges (redistributed uniformly — without it rank mass leaks and the
    sum drifts below 1). Deterministic: no sampling; results are
    reproducible to the double ulp.

    Loop shape (the connected_components/closure discipline): each round
    is ONE action — the localCheckpoint that materializes the new rank
    vector — and both per-round scalars ride it as an ``Observation``:

    - ``dangling`` (needed to BUILD the next round's expression) is
      summed over the checkpointed rows, so the old per-round
      ``collect()`` job — which re-ran every round since the last
      cadence checkpoint just to produce one double — is gone;
    - ``delta`` = max |rank − prev rank| detects an EXACT fixed point
      (the update is a deterministic function of the rank vector, so once
      a round reproduces its input bit-for-bit every later round would
      too) and stops the loop early — at scale that is whole full passes
      saved after convergence, with a bit-identical result.

    ``out_deg`` is a static node attribute, so it is joined onto the rank
    vector ONCE before the loop and carried through the checkpoints
    (NULL = dangling node) instead of re-joined every round.

    Returns (node, rank).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    out_deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
    ranks = (
        nodes.join(out_deg, nodes["node"] == out_deg["src"], "left")
        .select(
            "node",
            "out_deg",
            F.lit(1.0 / n).alias("rank"),
            F.lit(None).cast("double").alias("prev"),
        )
    )

    for _ in range(iters):
        obs = Observation()
        ranks = ranks.observe(
            obs,
            # sum over when/otherwise(0.0) instead of filter+sum: adding
            # +0.0 terms leaves every IEEE partial sum unchanged, so the
            # scalar equals the filtered sum exactly.
            F.sum(
                F.when(F.col("out_deg").isNull(), F.col("rank")).otherwise(
                    0.0
                )
            ).alias("dangling"),
            F.max(F.abs(F.col("rank") - F.col("prev"))).alias("delta"),
        ).localCheckpoint()
        m = obs.get
        if m["delta"] is not None and m["delta"] == 0.0:
            break  # exact fixed point (delta is NULL on the seed round)
        dangling = m["dangling"] or 0.0
        contribs = (
            e.join(ranks, e["src"] == ranks["node"])
            .select("dst", (F.col("rank") / F.col("out_deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("c_sum"))
        )
        ranks = ranks.join(
            contribs, ranks["node"] == contribs["dst"], "left"
        ).select(
            "node",
            "out_deg",
            F.col("rank").alias("prev"),
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping)
                * (F.coalesce(F.col("c_sum"), F.lit(0.0)) + F.lit(dangling / n))
            ).alias("rank"),
        )
    return ranks.select("node", "rank")
