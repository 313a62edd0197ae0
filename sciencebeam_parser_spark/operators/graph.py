"""Connected components over near-duplicate pairs (north-star dedup).

A dedup pipeline doesn't stop at candidate PAIRS: transitive closure turns
pairs into dedup GROUPS (keep one representative per component). The
reference's dedup analog is set-based page/pattern grouping (SURVEY A9/A22);
at corpus scale the standard formulation is small-star/large-star label
propagation over the similarity graph.

Implementation: iterative minimum-label propagation —

    comp[v] ← min(comp[v], min over neighbors comp[u])

repeated until fixpoint. Each round is one join + one aggregation (both
equi-keyed shuffles); rounds needed = graph diameter in the worst case,
O(log n) for the short chains near-dup graphs actually produce. Lineage is
cut with localCheckpoint every round — without it the plan doubles per
iteration and the driver OOMs on plan size long before data is a problem.

The DuckDB oracle states the same fixpoint as a recursive CTE (min
reachable node id per vertex), so correctness is checked end-to-end.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    *,
    src: str = "doc1",
    dst: str = "doc2",
    max_iterations: int = 20,
    partition_by_neighbor: bool = False,
) -> DataFrame:
    """(src, dst) undirected edges → (doc_id, component_id) with
    component_id = the smallest doc_id reachable from doc_id.

    Deterministic: pure min-propagation, no randomness. Only vertices that
    appear in at least one edge are returned (singletons are trivially
    their own component and usually not worth materializing at scale).
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
        .distinct()
    )
    if partition_by_neighbor:
        # hash-partition by the per-round join key before materializing:
        # LogicalRDD preserves the partitioning, so every round's
        # sym-side shuffle is elided (only the changing labels relation
        # shuffles). Measured OFF by default: warm A/B at the 10x smoke
        # (BASELINE.md §12, 496k-row components over 26.7M LSH
        # pairs) was a wash — 43.5 s vs 43.7 s min — because each round's
        # cost is the groupBy(doc_id) on the join OUTPUT (keyed by `a`),
        # which must shuffle regardless of sym's layout.
        from sciencebeam_parser_spark.utils import repartition_for_python

        sym = repartition_for_python(sym, "b")
    # materialize ONCE: sym joins into every round, and without the
    # checkpoint each iteration re-executes the edge lineage from
    # scratch (for LSH pairs that's the whole minhash pipeline per
    # round — the loop cost was dominated by recomputing its input)
    sym = sym.localCheckpoint(eager=True)
    labels = sym.select(F.col("a").alias("doc_id")).distinct().withColumn(
        "comp", F.col("doc_id")
    )
    # per-vertex labels only ever DECREASE, so any change moves the label
    # multiset and an O(1)-row fingerprint aggregate detects convergence
    # without the per-round join a row-diff check would need. The
    # fingerprint hashes the label (xxhash64), NOT sum(comp): summing the
    # raw column is NULL for string ids (TOKENS_SCHEMA doc_id IS a
    # string), which used to terminate the loop after one round.
    prev_fp = None
    for _ in range(max_iterations):
        # candidate label per vertex: min over self + neighbor labels
        neighbor_labels = (
            sym.join(labels, sym["b"] == labels["doc_id"])
            .select(F.col("a").alias("doc_id"), "comp")
        )
        labels = (
            labels.unionByName(neighbor_labels)
            .groupBy("doc_id")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint(eager=True)  # cut lineage: O(1) plan per round
        )
        # bounded per-row term (crc32 mod p) so the ANSI-mode sum cannot
        # overflow int64 even at billions of vertices
        cur_fp = labels.agg(
            F.sum(F.crc32(F.col("comp").cast("string")) % 1000000007)
        ).collect()[0][0]
        if cur_fp == prev_fp:
            break
        prev_fp = cur_fp
    return labels.select("doc_id", F.col("comp").alias("component_id"))
