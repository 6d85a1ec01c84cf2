"""Distributed connected components for near-dup cluster formation.

The near-dup operators (``textops.minhash_lsh_pairs``, ``simhash_near_dups``,
``ngram_jaccard_pairs``, ``similarity.embedding_near_dups``) emit PAIRS.
A training-data dedup pipeline needs CLUSTERS: the transitive closure of the
pair graph, with one canonical document (the minimum id) per cluster — at
100 TB the pair graph has components far wider than any single join can
close, so the closure itself must be a distributed operator.

Algorithm: alternating **large-star / small-star** (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — the published
shuffle-based CC algorithm. Each round is two groupBy-shaped passes
(window-min per node + edge re-emission); the edge set converges in
O(log^2 n) rounds to one star per component rooted at the component's
minimum node. No driver-side graph state: the only driver values per round
are two scalar convergence counts.

Both operations preserve the connectivity of the edge set (the paper's
Lemmas 1-2): every emitted edge links nodes already connected through the
common neighborhood, and every node of a non-trivial component keeps at
least one incident edge. Rather than trusting an iteration bound, the loop
stops on a SELF-CERTIFYING condition: the edge set is a forest of stars
(no length-2 path) with out-degree <= 1. Under connectivity preservation
that state is exactly one star per component, its root the component
minimum (the minimum can have no outgoing edge — edges always point to a
strictly smaller node after small-star).

Reference analog: the reference deduplicates row-identity only
(`/root/reference/battetl/load/Loader.py:144-234` only-new-rows ingest);
cluster formation over a similarity graph is part of this engine's
LLM-pipeline layer (build brief), not a reference port.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# rounds are O(log^2 n); the loop stops on its self-certifying condition
# long before this, and raises rather than return an unconverged labeling
_MAX_ROUNDS = 50


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of each node u to
    min(N(u) ∪ {u}). One window shuffle + distinct."""
    s = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    m = F.least(F.col("u"), F.min("v").over(Window.partitionBy("u")))
    return (
        s.withColumn("m", m)
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient every edge high→low, then connect each node and all its
    (smaller) neighbors to the minimum neighbor."""
    t = (
        e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    t = t.withColumn("m", F.min("v").over(Window.partitionBy("u")))
    out = t.select(F.col("v").alias("u"), F.col("m").alias("v")).unionByName(
        t.select("u", F.col("m").alias("v"))
    )
    return out.filter(F.col("u") != F.col("v")).distinct()


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Label every node of the undirected ``edges`` graph with the minimum
    node id reachable from it.

    Returns ``(node, component)`` — one row per DISTINCT node appearing in
    ``edges`` (either side; self-loop rows count as their node alone).
    Node ids must be of an orderable type (the canonical label is the
    component minimum).

    Scale shape: each round is ~4 shuffles over the current edge set (which
    the paper bounds by the input size); rounds are O(log^2 n). Per-round
    lineage is truncated with ``localCheckpoint`` so the logical plan stays
    flat over iterations (on a production cluster with a fault-tolerant
    checkpoint dir configured, reliable ``checkpoint`` is the drop-in
    upgrade). Driver traffic per round: two scalar counts.
    """
    # materialize the input edge set ONCE: nodes, the initial edge frame,
    # the empty-check and the final label join all consume it, and without
    # the checkpoint each consumer re-executes the (often expensive)
    # pair-producing pipeline upstream — measured 3 extra candidate+verify
    # runs (~10 s of the 16 s sf1 doc_dup_clusters CC phase). The edge set
    # is what the iteration materializes every round anyway, so this adds
    # no asymptotic cost at any scale.
    ed = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).localCheckpoint(eager=True)
    nodes = (
        ed.select(F.col("u").alias("node"))
        .unionByName(ed.select(F.col("v").alias("node")))
        .distinct()
    )
    e = ed.filter(F.col("u") != F.col("v")).distinct()

    done = e.isEmpty()
    for _ in range(_MAX_ROUNDS):
        if done:
            break
        e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        # self-certifying stop: forest of stars (no 2-path, out-degree <= 1)
        # — ONE degree aggregate instead of a self-join + a count pass:
        # a 2-path exists iff some node is both a source and a target, and
        # out-degree > 1 iff some node is a source twice, so convergence is
        # "no node has (src > 1) or (src > 0 and dst > 0)".
        deg = (
            e.select(F.col("u").alias("n"), F.lit(1).alias("s"),
                     F.lit(0).alias("d"))
            .unionByName(
                e.select(F.col("v").alias("n"), F.lit(0).alias("s"),
                         F.lit(1).alias("d"))
            )
            .groupBy("n")
            .agg(F.sum("s").alias("s"), F.sum("d").alias("d"))
        )
        done = deg.filter(
            (F.col("s") > 1) | ((F.col("s") > 0) & (F.col("d") > 0))
        ).isEmpty()
    else:
        if not done:
            raise RuntimeError(
                f"connected_components did not converge in {_MAX_ROUNDS} rounds"
            )

    # stars: members on the u side each point at their component root; roots
    # appear only on the v side and label themselves. Nodes absent from the
    # converged edge set (isolated via self-loop input rows) label themselves.
    labels = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    return (
        nodes.join(labels, "node", "left")
        .select(
            "node", F.coalesce("component", F.col("node")).alias("component")
        )
    )


def cluster_representatives(
    docs: DataFrame,
    clusters: DataFrame,
    priority_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pick each dup-cluster's canonical KEEP document: the max-``priority_col``
    member, ties broken toward the minimum id (fully deterministic — use an
    integer priority so external engines reproduce the argmax exactly).

    Returns ``(cluster_id, rep_id, n_members)``. One partial-aggregated
    ``max_by`` shuffle keyed by cluster_id — cluster count ≪ corpus size,
    and the struct-ordered ``max_by`` combines map-side, so skewed giant
    clusters reduce to one row per partition before the exchange.
    """
    j = docs.select(F.col(id_col), F.col(priority_col)).join(clusters, id_col)
    return j.groupBy("cluster_id").agg(
        F.max_by(
            F.col(id_col), F.struct(F.col(priority_col), -F.col(id_col))
        ).alias("rep_id"),
        F.count("*").alias("n_members"),
    )


def dup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Near-dup pairs → dedup clusters over the full corpus.

    Every document gets a ``cluster_id`` = the minimum doc id of its
    transitive near-dup group (its own id when it has no near-dups). The
    canonical keep-set of a cluster-level dedup is then simply
    ``doc_id == cluster_id`` — the cluster representative a training-data
    pipeline keeps while dropping the other members.
    """
    comp = connected_components(pairs, src=src, dst=dst)
    return (
        docs.select(F.col(id_col))
        .join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("cluster_id"),
        )
    )
