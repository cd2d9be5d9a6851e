"""Duplicate-cluster resolution: connected components over dup-pair edges.

The reference SMT library has no notion of dedup at all (SURVEY.md §2.4);
this is an engine-surface extension operator.  Every pairwise dedup
operator in this package (``dedup.minhash_lsh_pairs``,
``dedup.simhash_pairs_wide``, ``dedup.ngram_jaccard_pairs``,
``dedup.embedding_dup_pairs``) emits dup PAIRS — but a real training-data
pipeline must resolve pairs into clusters and keep exactly one survivor
per cluster, because near-duplication is transitive in practice (A~B and
B~C usually means A, B, C are one document family even when A~C fell just
below threshold).  That resolution is connected components on the pair
graph.

Scale design (100 TB):

``connected_components`` runs iterative min-label propagation: per round,
ONE shuffle (edge equi-join against the label table + a min-aggregate) and
an exact fixpoint check (count of labels that changed; 0 terminates).
Lineage is truncated every round (``localCheckpoint`` locally,
``checkpoint`` to reliable storage on a cluster — same parameterization as
``dedup._materialize``), so the plan never grows with the round count.
Rounds to converge = graph diameter.  Verified near-dup clusters are
near-cliques (every member pair passed the same similarity verify), so the
diameter is tiny — measured <= 3 on the test corpus — and the loop runs
2-4 rounds.  For adversarial long-chain graphs, alternating
large-star/small-star (Kiveris et al., "Connected Components in MapReduce
and Beyond", SoCC'14) converges in O(log^2 n) rounds with the same
join-shape per round; this loop is the drop-in place to add it, and
``max_rounds`` bounds the worst case either way.

The component label is the MINIMUM node id in the component — a
deterministic, engine-independent definition, which is what makes the
result oracle-checkable (DuckDB recomputes it with a recursive-CTE
transitive closure) and what makes the survivor choice reproducible across
runs and engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kafka_custom_transforms_spark.operators.dedup import _materialize

__all__ = ["connected_components", "resolve_survivors"]


def connected_components(
    pairs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_rounds: int = 25,
    checkpoint: str = "local",
    algorithm: str = "propagate",
) -> DataFrame:
    """Resolve dup pairs into components: returns ``(id, component)``.

    ``id`` ranges over every node that appears in ``pairs``; ``component``
    is the minimum id in that node's connected component (so a node is a
    cluster's canonical survivor iff ``id == component``).  Works for any
    orderable id type — ids are never cast.

    ``algorithm="propagate"`` (default): min-label propagation, one
    shuffle per round, rounds = graph diameter — right for near-dup
    graphs (near-cliques, diameter <= 3).  ``algorithm="star"``:
    alternating large-star/small-star (Kiveris et al., SoCC'14), two
    shuffles per round but O(log^2 n) rounds regardless of diameter —
    right for long-chain / adversarial graphs.  Both produce identical
    labels (test-pinned).

    Raises ``RuntimeError`` if the graph has not converged after
    ``max_rounds`` rounds; near-dup graphs converge in a handful of
    rounds either way, see module docstring.
    """
    half = pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    # Undirected: propagate labels both ways along every edge.
    edges = half.union(half.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    edges = _materialize(edges, checkpoint)
    if algorithm == "star":
        return _star_components(edges, max_rounds, checkpoint)
    if algorithm != "propagate":
        raise ValueError(
            f"algorithm must be propagate|star, got {algorithm!r}"
        )

    labels = edges.select(F.col("u").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    labels = _materialize(labels, checkpoint)

    for _ in range(max_rounds):
        # min label among neighbors, one shuffle: join edges to the label
        # of the source endpoint, aggregate min per destination.
        nbr_min = (
            edges.join(labels.withColumnRenamed("id", "u"), "u")
            .groupBy(F.col("v").alias("id"))
            .agg(F.min("component").alias("nbr_component"))
        )
        updated = labels.join(nbr_min, "id", "left").select(
            "id",
            F.least("component", "nbr_component").alias("component"),
            (F.col("nbr_component") < F.col("component")).alias("_changed"),
        )
        updated = _materialize(updated, checkpoint)
        changed = updated.filter(F.col("_changed")).count()
        labels = updated.drop("_changed")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components: no fixpoint after {max_rounds} rounds "
        "(graph diameter exceeds max_rounds); raise max_rounds or switch "
        "to large-star/small-star for long-chain graphs"
    )


def _edge_fingerprint(edges: DataFrame) -> tuple:
    """(count, hash-sum) of the canonical undirected edge set — a
    collision-resistant (~2^-64) convergence check that costs one
    aggregate instead of a full set-difference join per round."""
    canon = edges.select(
        F.least(F.col("u"), F.col("v")).alias("lo"),
        F.greatest(F.col("u"), F.col("v")).alias("hi"),
    ).distinct()
    row = canon.agg(
        F.count("*").alias("n"),
        # bit_xor: order-independent and overflow-free under ANSI mode
        # (a hash SUM of 64-bit values throws ARITHMETIC_OVERFLOW)
        F.bit_xor(
            F.xxhash64(F.col("lo").cast("string"), F.col("hi").cast("string"))
        ).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def _star_components(edges: DataFrame, max_rounds: int, checkpoint: str) -> DataFrame:
    """Alternating large-star/small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): converges to star
    graphs centered on each component's minimum in O(log^2 n) rounds
    regardless of diameter.  ``edges`` must be the symmetric closure.

    Per round: large-star connects every neighbor larger than u to
    m(u) = min(Gamma(u) ∪ {u}); small-star (on min-oriented edges)
    connects every smaller neighbor and u itself to m(u).  Each is a
    groupBy-join on uniform node keys — two shuffles per round.
    """
    nodes = edges.select(F.col("u").alias("id")).distinct()
    nodes = _materialize(nodes, checkpoint)
    fp = _edge_fingerprint(edges)
    for _ in range(max_rounds):
        # large-star over the symmetric closure
        m = (
            edges.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", "u").alias("m"))
        )
        large = (
            edges.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        sym = large.union(
            large.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()
        # small-star over min-oriented edges (u = larger endpoint)
        oriented = sym.filter(F.col("v") < F.col("u"))
        m2 = oriented.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            oriented.join(m2, "u")
            .select(
                F.col("v").alias("n"), F.col("m"), F.col("u").alias("self_u")
            )
        )
        new_half = small.select(F.col("n").alias("u"), F.col("m").alias("v")).union(
            small.select(F.col("self_u").alias("u"), F.col("m").alias("v"))
        ).filter(F.col("u") != F.col("v")).distinct()
        edges = _materialize(
            new_half.union(
                new_half.select(F.col("v").alias("u"), F.col("u").alias("v"))
            ).distinct(),
            checkpoint,
        )
        new_fp = _edge_fingerprint(edges)
        if new_fp == fp:
            labels = (
                edges.groupBy("u")
                .agg(F.min("v").alias("mv"))
                .select(F.col("u").alias("id"), F.least("mv", "u").alias("component"))
            )
            # nodes whose component collapsed around them may have lost
            # every edge — they are their own (minimum) label
            return nodes.join(labels, "id", "left").select(
                "id", F.coalesce("component", "id").alias("component")
            )
        fp = new_fp
    raise RuntimeError(
        f"connected_components(star): no fixpoint after {max_rounds} rounds"
    )


def resolve_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a_id",
    b_col: str = "b_id",
    checkpoint: str = "local",
) -> DataFrame:
    """Keep one survivor per dup cluster: df minus every non-minimum member.

    Rows of ``df`` never mentioned in ``pairs`` pass through untouched
    (they are singleton clusters).  The survivor of each cluster is the
    row whose id equals the component minimum — deterministic and
    engine-independent.  Plan shape: connected components (see above) then
    ONE broadcast-friendly left-anti join of ``df`` against the loser set
    (losers are a small fraction of the corpus in realistic dedup, and the
    anti join needs only the loser ids, not the full label table).
    """
    comp = connected_components(
        pairs, a_col=a_col, b_col=b_col, checkpoint=checkpoint
    )
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def pagerank_int(
    edges: DataFrame,
    nodes: DataFrame,
    iterations: int = 3,
    damping_milli: int = 850,
    src_col: str = "src",
    dst_col: str = "dst",
    id_col: str = "id",
    checkpoint: str = "local",
) -> DataFrame:
    """Integer-exact PageRank: ``iterations`` rounds of damped rank
    propagation in per-mille fixed point.

        contrib(e)  = pr[src] div out_degree[src]
        pr'[n]      = (1000 - damping_milli)
                      + (damping_milli * sum(contrib)) div 1000

    All arithmetic is bigint: scores are independent of partitioning,
    join order, and summation order — reproducible across engines (the
    oracle unrolls the same iterations as chained SQL CTEs) and across
    retries, unlike float PageRank whose low bits drift with reduction
    order. Dangling nodes simply leak mass (standard simplification;
    deterministic).

    Scale: each round is one equi-join (edges x current ranks, both keyed
    by node id) + one aggregation — the classic iterative-join shape.
    Rounds are a Python loop over LAZY plans; ``_materialize`` truncates
    lineage per round exactly as connected_components does, so the plan
    never grows with the iteration count. Edges/degrees are computed once
    and reused. Complements connected_components (label propagation) with
    weighted-mass propagation.
    """
    deg = edges.groupBy(src_col).agg(F.count(F.lit(1)).alias("_pr_deg"))
    ed = _materialize(
        edges.join(deg, src_col).select(
            F.col(src_col).alias("_pr_src"),
            F.col(dst_col).alias("_pr_dst"),
            "_pr_deg",
        ),
        checkpoint,
    )
    base = 1000 - damping_milli
    pr = nodes.select(F.col(id_col).alias("_pr_id"), F.lit(1000).alias("_pr_rank"))
    for _ in range(iterations):
        contrib = (
            ed.join(pr, ed["_pr_src"] == pr["_pr_id"])
            .select(
                "_pr_dst",
                F.expr("_pr_rank div _pr_deg").alias("_pr_contrib"),
            )
            .groupBy("_pr_dst")
            .agg(F.sum("_pr_contrib").alias("_pr_in"))
        )
        pr = _materialize(
            nodes.select(F.col(id_col).alias("_pr_id"))
            .join(contrib, F.col("_pr_id") == F.col("_pr_dst"), "left")
            .select(
                "_pr_id",
                (
                    F.lit(base)
                    + F.expr(
                        f"{damping_milli} * coalesce(_pr_in, 0L) div 1000"
                    )
                ).cast("long").alias("_pr_rank"),
            ),
            checkpoint,
        )
    return pr.select(
        F.col("_pr_id").alias(id_col), F.col("_pr_rank").alias("rank_milli")
    )
