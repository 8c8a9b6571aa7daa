"""Graph construction: one dense vertex dictionary, edge table, degrees.

The reference assumes dense contiguous node ids 0..n-1
(/root/reference/src/ascii_graph/mod.rs:314 indexes offsets[node]
directly). `dense_ids` assigns them as the global rank of the sorted key
without a single-partition sort or window: one range shuffle clusters
and orders the keys, each partition ranks its rows in place, and
per-partition offsets turn local ranks into global ones. The result is
identical at any parallelism level, which the reproducibility tests
assert.

`build_graph` materialises that dictionary once and resolves every
import straight to dense ids against it: src by (repo, path), dst by the
extension-less target key. The only edge shuffle is the (src, dst)
dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webgraph_spark.ingest import extract_import_targets, file_key


def dense_ids(
    keys: DataFrame, key_cols: list[str], id_col: str = "vertex_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign dense ids 0..n-1 = global rank of the (distinct) sorted key.

    Range partitioning already clusters equal keys, so the dedup
    aggregate and the sort reuse its exchange. monotonically_increasing_id
    is (partition index << 33) + row number within the partition (its
    documented layout), so after sortWithinPartitions subtracting the
    partition bits leaves the local rank. Per-partition offsets are a
    literal array; no window and no offset join.
    """
    p = num_partitions or int(
        keys.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    cols = [F.col(c) for c in key_cols]
    pid = F.spark_partition_id()
    ranked = (
        keys.select(*cols)
        .repartitionByRange(p, *cols)
        .dropDuplicates(key_cols)
        .sortWithinPartitions(*cols)
        .select(
            *cols, pid.alias("_pid"),
            (F.monotonically_increasing_id()
             - F.shiftleft(pid.cast("long"), 33)).alias("_rn"),
        )
        # materialised once: the offsets collect and the returned plan
        # both read it (range sampling would otherwise re-run upstream)
        .localCheckpoint(eager=True)
    )
    counts = dict(ranked.groupBy("_pid").count().collect())
    offsets, acc = [], 0
    for i in range(max(counts, default=0) + 1):
        offsets.append(acc)
        acc += counts.get(i, 0)
    off = F.array(*[F.lit(o) for o in offsets]).cast("array<bigint>")
    return ranked.select(
        *cols, (F.col("_rn") + F.element_at(off, F.col("_pid") + 1)).alias(id_col)
    )


def build_graph(sources: DataFrame) -> tuple[DataFrame, DataFrame]:
    """sources -> (vertices(repo, path, vertex_id), edges(src, dst)).

    Edge direction: importer -> imported (a link graph over files, the
    analog of the reference's ImmutableGraph adjacency,
    src/lib.rs:8-16). Vertices cover every file, including isolated ones.
    Two files sharing a target key (a/util.py, a/util.js) resolve to the
    lower vertex id. Both lookups broadcast the dictionary, which suits
    dictionaries up to a few million files.
    """
    vertices = dense_ids(sources, ["repo", "path"])
    src_v = vertices.select("repo", "path", F.col("vertex_id").alias("src"))
    dst_v = vertices.groupBy(
        file_key(F.col("repo"), F.col("path")).alias("target_key")
    ).agg(F.min("vertex_id").alias("dst"))
    edges = (
        extract_import_targets(sources)
        .join(F.broadcast(src_v), ["repo", "path"])
        .join(F.broadcast(dst_v), "target_key")  # unresolved imports drop
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .dropDuplicates(["src", "dst"])
    )
    return vertices, edges


def out_degrees(edges: DataFrame) -> DataFrame:
    """(src, outdeg) — the reference's outdegree() O5, as one partial agg."""
    return edges.groupBy("src").agg(F.count("*").alias("outdeg"))


def suggest_salt_threshold(
    edges: DataFrame, quantile: float = 0.9999, floor: int = 1000
) -> int | None:
    """Two-pass stats (the Zuckerli collect-then-encode pattern,
    /root/reference/src/webgraph/zuckerli_out.rs:1165-1237, repurposed
    for skew detection): one in-degree histogram pass picks the hub
    threshold for salted aggregation. Returns None when the extreme
    in-degree quantile stays below `floor` (no salting worth the extra
    shuffle stage)."""
    q = edges.groupBy("dst").agg(F.count("*").alias("indeg")).approxQuantile(
        "indeg", [quantile], 0.001
    )
    thr = int(q[0]) if q else 0
    return thr if thr >= floor else None


def successors(edges: DataFrame, node: int) -> DataFrame:
    """Point successor query (reference O6, bvgraph.rs:143-146).

    At scale this is served by partition/file pruning on a src-sorted
    edge table — the filter pushes to the parquet scan.
    """
    return edges.filter(F.col("src") == node).select("dst").orderBy("dst")


# ---------------------------------------------------------------------------
# deterministic graph over the driver's TPC-H-ish testdata (oracle-checkable)
# ---------------------------------------------------------------------------

# Same derivation in Spark and ANSI SQL so every downstream graph query
# can be oracle-checked by DuckDB on the driver's parquet views.
TESTDATA_GRAPH_SQL = """
SELECT DISTINCT src, dst FROM (
  SELECT l_partkey % 997 AS src, l_suppkey % 997 AS dst FROM lineitem
  UNION ALL
  SELECT o_custkey % 997 AS src, o_orderkey % 997 AS dst FROM orders
) t WHERE src <> dst
"""


def testdata_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """edges(src,dst) derived deterministically from lineitem+orders."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    e1 = li.select(
        (F.col("l_partkey") % 997).alias("src"), (F.col("l_suppkey") % 997).alias("dst")
    )
    e2 = od.select(
        (F.col("o_custkey") % 997).alias("src"), (F.col("o_orderkey") % 997).alias("dst")
    )
    return (
        e1.unionAll(e2)
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
