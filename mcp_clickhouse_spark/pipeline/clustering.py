"""Connected-components duplicate clustering.

Near-dup pipelines (MinHash-LSH, n-gram Jaccard, embedding near-dup) emit
PAIRS; deduplication needs CLUSTERS — duplicate relations are transitive in
practice (A~B, B~C => keep one of {A,B,C}).  This module turns a pair list
into per-node component labels with the alternating "large-star /
small-star" algorithm (Kiveris et al., *Connected Components in MapReduce
and Beyond*, SoCC'14) — the same algorithm GraphFrames ships for its
DataFrame-native connected components.

Why this algorithm at 100 TB:

- O(log^2 n) rounds proven (observed ~log n); each round is two shuffles
  keyed on node id — no driver-side graph, no vertex-program framework.
- This implementation is MIN-BASED, not neighborhood-materializing: each
  star step needs only min(neighbor) per node, computed with a partial
  (map-side) aggregate and re-joined on the same key.  No collect_set of
  neighbor arrays, so a celebrity node with 10^8 duplicate neighbors costs
  a mergeable min, not an OOM array.
- Per-round ``localCheckpoint`` truncates lineage, so the iterative plan
  does not grow and the convergence comparison re-reads materialized
  blocks instead of recomputing the chain.

Convergence: the edge set of star graphs is a fixed point of both steps;
we stop when (count, xor-of-row-hashes) of the edge set is unchanged by a
full large+small round.  The per-round signature is the round's ONLY
action: checkpoints are lazy (persist-based), so the signature job
materializes the round's blocks and truncates lineage as a side effect —
iterative algorithms need a convergence action; everything else stays
declarative.

Reference parity note: the reference MCP server (mcp_clickhouse/
mcp_server.py) delegates clustering-style queries to its engine; this is
the Spark-native equivalent for the training-data dedup extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _edge_signature(edges: DataFrame) -> tuple[int, int]:
    """Order-independent fingerprint of an edge set: (count, xor of row
    hashes).  One action; map-side combinable; collision odds ~2^-64 per
    comparison are dwarfed by the max-iteration backstop."""
    row = edges.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            # bit_xor is commutative -> safe under any row order/partitioning
            F.expr("bit_xor(xxhash64(src, dst))"),
            F.lit(0),
        ).alias("sig"),
    ).first()
    return int(row["n"]), int(row["sig"])


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u}).

    Min-based formulation: the only neighborhood statistic needed is the
    minimum, so groupBy(min) + same-key join replaces neighborhood arrays.
    Both the aggregate and the join shuffle on ``src`` — AQE coalesces them
    onto one exchange footprint.
    """
    sym = edges.where(F.col("src") != F.col("dst"))
    sym = sym.union(sym.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = sym.groupBy("src").agg(F.min("dst").alias("_mn"))
    mins = mins.select("src", F.least("src", "_mn").alias("_m"))
    return (
        sym.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect every smaller-or-equal neighbor of u (and u itself) to the
    minimum among them.  Operates on edges oriented big->small."""
    e = (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .distinct()
    )
    mins = e.groupBy("src").agg(F.min("dst").alias("_m"))
    rewired = (
        e.join(mins, "src")
        .where(F.col("dst") != F.col("_m"))
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
    )
    self_link = mins.select("src", F.col("_m").alias("dst"))
    return rewired.union(self_link).distinct()


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Label each node of an undirected pair list with the minimum node id
    of its connected component.

    Returns ``(node, cluster_id)`` — one row per distinct node appearing in
    ``pairs``; singleton inputs (self-pairs) label themselves.

    ``max_iterations`` is a backstop only: large-star/small-star provably
    converges in O(log^2 n) rounds (~log n observed), so 25 covers any
    realistic corpus (2^25 ≫ nodes in the longest path after round 1).
    """
    edges = (
        pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        # r18 (guide §2 fewer driver round-trips): LAZY checkpoints
        # throughout — localCheckpoint is persist-based, so the NEXT action
        # (the convergence signature, which must run anyway) materializes
        # the blocks and truncates lineage in the same job.  Eager
        # checkpoints cost a dedicated materialization job each: 8 jobs per
        # dedup_clusters run → 4, labels identical.
        .localCheckpoint(eager=False)
    )
    nodes = edges.select(F.col("src").alias("node")).union(
        edges.select(F.col("dst").alias("node"))
    ).distinct().localCheckpoint(eager=False)

    # Measured note (sf0.1): the iterative rounds cost ~3-6 s total here —
    # the pair GENERATION feeding this function is what dominates an
    # end-to-end clustering query (~32 s of exact blocked Jaccard at
    # sf0.1), so round-level micro-tuning (an adaptive repartition per
    # round was tried) buys nothing measurable; AQE already coalesces the
    # tiny iteration shuffles.
    sig = _edge_signature(edges)
    converged = False
    for _ in range(max_iterations):
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        new_sig = _edge_signature(edges)
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        # a non-star edge set would silently emit multiple inconsistent
        # labels per node through the join below — fail loud instead
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations (theoretical bound is O(log^2 n) rounds — this "
            "indicates a bug or an adversarial signature collision)"
        )

    # Fixed point = forest of stars: every edge is (member, root).  Roots
    # appear only on the dst side; re-attach them (and isolated
    # self-pair nodes) with a left join labelling missing nodes as
    # themselves.
    membership = edges.select(F.col("src").alias("node"), F.col("dst").alias("cluster_id"))
    return (
        nodes.join(membership, "node", "left")
        .select("node", F.coalesce("cluster_id", "node").alias("cluster_id"))
    )


def dedup_clusters(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Full dedup-clustering verdict from a near-dup pair list.

    Output, one row per node: ``(doc_id, cluster_id, cluster_size, keep)``
    where ``cluster_id`` is the component's minimum doc id and ``keep``
    marks the canonical (minimum) member — the standard keep-one-per-
    cluster policy of corpus dedup.  cluster_size rides the same
    cluster_id shuffle as a window-free groupBy + rejoin.
    """
    labels = connected_components(pairs, src=src, dst=dst)
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "cluster_id").select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        "cluster_size",
        (F.col("node") == F.col("cluster_id")).alias("keep"),
    )
