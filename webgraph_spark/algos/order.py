"""Compression-friendly vertex reordering: degree order and BFS order.

The reference consumes graphs already renumbered into a locality-friendly
order — BVGraph's gap/reference compression wins come from URL-sort/BFS
orderings (Boldi–Vigna WWW'04 §5), and Zuckerli's evaluation reorders
its inputs the same way; caba5/WebGraph itself never renumbers
(/root/reference/src/ascii_graph/mod.rs:314 indexes offsets[node]
directly, ids assumed dense and well-ordered). Since this engine OWNS
the dictionary-encoding step (graph.dense_ids), it also owns the
permutation that makes the downstream BV/Zuckerli block codecs dense:

  * degree_order  — hubs first: high-degree nodes get small ids, which
    shrinks the ζ-coded residual gaps every list pointing at hubs pays.
    Cost: one degree aggregation + one scale-safe rank. The default.
  * bfs_order     — neighbors get nearby ids, so successor lists turn
    into interval/copy runs. Cost: O(diameter) supersteps (multi-source
    BFS from each component's min vertex) — worth it when the graph is
    stored many times but built once.

Scale design: ranks are computed with graph.dense_ids' range-partition +
per-partition-offset machinery — never a single-partition row_number window
(the textbook driver-bottleneck at 10^9 vertices). The BFS loop follows
the components.py discipline: per round ONE co-partitioned join + ONE
hash exchange for the min-aggregation, lazy localCheckpoint fused with
the fixpoint signature into a single action, AQE disabled inside the
loop and restored in `finally`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webgraph_spark.graph import dense_ids


def _sym(edges: DataFrame) -> DataFrame:
    """Both arc directions (UNION ALL — mutual arcs count twice, the
    same convention as the SQL oracle twins)."""
    return edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def degree_order(edges: DataFrame) -> DataFrame:
    """(vertex_id, new_id): rank by total degree desc, vertex_id asc.

    new_id is dense 0..n-1; vertices are every endpoint of `edges`.
    The rank is a dense_ids call on the key (-degree, vertex_id), so
    no stage ever funnels the vertex relation through one task.
    """
    deg = _sym(edges).groupBy(F.col("src").alias("v")).agg(
        F.count("*").alias("d")
    )
    keys = deg.select((-F.col("d")).alias("_negd"), F.col("v"))
    ranked = dense_ids(keys, ["_negd", "v"], id_col="new_id")
    return ranked.select(
        F.col("v").cast("long").alias("vertex_id"),
        F.col("new_id").cast("long").alias("new_id"),
    )


def bfs_levels(edges: DataFrame, max_iter: int = 100) -> DataFrame:
    """(v, root, dist): multi-source BFS over the undirected graph.

    root = the component's minimum vertex id (FIXTURES.md F4's
    component id), dist = unweighted shortest-path distance from it.
    Converges by lexicographic min-propagation of (root, dist): every
    vertex starts as its own root at dist 0; each round neighbors offer
    (root, dist+1) and the vertex keeps the lexicographic minimum.
    Monotone on a finite lattice -> fixpoint; at fixpoint root is the
    component min (hash-min argument) and dist its BFS distance
    (Bellman–Ford argument, unit weights).

    Scale: per round, the message join is co-partitioned (edges cached
    hash(src), state hash(v), same partition count), then one hash
    exchange aggregates min(struct(root,dist)) per vertex. The fixpoint
    signature (order-insensitive xxhash) rides the same action that
    materializes the round's lazy checkpoint. O(diameter+log) rounds.
    """
    spark = edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    aqe_was = spark.conf.get("spark.sql.adaptive.enabled", "true")
    # AQE re-plans checkpointed partitioning to Unknown and reinstates
    # exchanges inside iterative loops (pagerank.py rationale).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    und = _sym(edges).repartition(p, "src").persist()
    try:
        state = (
            und.select(F.col("src").alias("v"))
            .distinct()
            .withColumn("root", F.col("v"))
            .withColumn("dist", F.lit(0).cast("long"))
            .repartition(p, "v")
            .localCheckpoint(eager=True)
        )
        prev_sig = None
        for _ in range(max_iter):
            msgs = und.join(
                state.select(
                    F.col("v").alias("src"),
                    F.col("root").alias("mroot"),
                    (F.col("dist") + 1).alias("mdist"),
                ),
                "src",
            ).select(
                F.col("dst").alias("v"),
                F.col("mroot").alias("root"),
                F.col("mdist").alias("dist"),
            )
            new_state = (
                state.unionAll(msgs)
                .groupBy("v")
                .agg(F.min(F.struct("root", "dist")).alias("s"))
                .select("v", F.col("s.root").alias("root"),
                        F.col("s.dist").alias("dist"))
                .repartition(p, "v")
                .localCheckpoint(eager=False)
            )
            sig = new_state.agg(
                F.count("*").alias("n"),
                # bit_xor, not sum: ANSI mode makes sum(xxhash64) overflow
                # (components.py:156 convention).
                F.expr("bit_xor(xxhash64(v, root, dist))").alias("h"),
            ).collect()[0]
            state = new_state
            cur = (sig["n"], sig["h"])
            if cur == prev_sig:
                break
            prev_sig = cur
        return state
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_was)
        und.unpersist()


def bfs_order(edges: DataFrame, max_iter: int = 100) -> DataFrame:
    """(vertex_id, new_id): rank by (component root, BFS dist, vertex_id).

    Components stay contiguous, each laid out root-first in BFS layers —
    the classic locality ordering BVGraph-family codecs are built for.
    """
    lv = bfs_levels(edges, max_iter=max_iter)
    ranked = dense_ids(lv, ["root", "dist", "v"], id_col="new_id")
    return ranked.select(
        F.col("v").cast("long").alias("vertex_id"),
        F.col("new_id").cast("long").alias("new_id"),
    )


def permute_edges(
    edges: DataFrame, mapping: DataFrame, broadcast: bool = False
) -> DataFrame:
    """Renumber (src, dst) through mapping(vertex_id, new_id).

    Two equi-joins on the vertex id. `broadcast=True` ships the mapping
    to every task (right only when n_vertices is small — a permutation
    at 10^9 vertices must shuffle; edges hash-partitioned on the join
    key each time, which AQE plans as two shuffled hash joins).
    """
    m = mapping.select("vertex_id", "new_id")
    if broadcast:
        m = F.broadcast(m)
    else:
        # referenced by BOTH renumbering joins below — materialize so
        # the (potentially expensive) ordering plan runs once
        m = m.localCheckpoint(eager=True)
    return (
        edges.join(m.withColumnRenamed("vertex_id", "src"), "src")
        .select(F.col("new_id").alias("_nsrc"), "dst")
        .join(m.withColumnRenamed("vertex_id", "dst"), "dst")
        .select(
            F.col("_nsrc").cast("long").alias("src"),
            F.col("new_id").cast("long").alias("dst"),
        )
    )
