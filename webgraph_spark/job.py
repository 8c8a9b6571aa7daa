"""spark-submit entrypoint: the full north-star pipeline as a cluster job.

Launch (north rule, BASELINE.json:14 — "spark-submit --py-files on
multi-executor clusters"):

    python scripts/make_pyfiles.py                  # -> dist/webgraph_spark.zip
    spark-submit --master <cluster> \
        --py-files dist/webgraph_spark.zip \
        webgraph_spark/job.py \
        --algorithm pagerank --source-table <path-or-iceberg-table> \
        --checkpoint-dir /ckpt/run1 --output /out/run1 [--resume]

Stages: ingest (sha256 invariant) -> dictionary-encode dense vertex ids
-> resolve imports to id edges -> build CSR blocks (persisted) -> run the requested
algorithm with per-superstep checkpoints -> write results + a metrics
JSON sidecar. Resume (--resume) restarts from the last completed
superstep recorded in the checkpoint dir — supersteps < k are not
recomputed (tests/test_job.py asserts this via the metrics log).

The same entrypoint drives local[N] in tests; nothing here is
local-mode specific. The reference's analog is the `webgraph` binary
(/root/reference/src/main.rs:248-301): CLI parse -> load -> compress ->
store; ours is CLI parse -> ingest -> build -> iterate -> store.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# Default export ranges are capped at one per this many vertices: a
# range boundary drops up to window_size reference candidates, which
# stays below 0.2% of a range this long.
MIN_NODES_PER_RANGE = 4096


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="webgraph_spark cluster job")
    p.add_argument("--algorithm", required=True,
                   choices=["pagerank", "pagerank_csr", "components", "labelprop",
                            "triangles", "build", "dedup", "order", "hyperball",
                            "stream_degrees", "export"])
    p.add_argument("--export-format", default="bvgraph",
                   choices=["bvgraph", "huffgraph", "zuckerli"],
                   help="file family for --algorithm export")
    p.add_argument("--export-ranges", type=int, default=None,
                   help="parallel encode ranges for --algorithm export "
                        "(default: shuffle partitions, at most one per "
                        "MIN_NODES_PER_RANGE vertices; 1 = single-writer)")
    p.add_argument("--ef-offsets", action="store_true",
                   help="persist Elias-Fano .offsets.ef instead of "
                        "gamma-gap .offsets on export")
    p.add_argument("--stream-input", default=None,
                   help="edge-stream directory for --algorithm "
                        "stream_degrees: every parquet file appearing "
                        "here is folded into the degree table exactly "
                        "once (file-source checkpoint). Default: derive "
                        "edges from the source table and seed "
                        "<output>/stream_input with them")
    p.add_argument("--order-by", default="degree", choices=["degree", "bfs"],
                   help="vertex ordering for --algorithm order: hubs-first "
                        "degree rank (default) or BFS layers per component")
    p.add_argument("--source-table", default=None,
                   help="parquet path (or Iceberg table via --iceberg) of "
                        "(repo,path,commit,lang,content); default: synthesize")
    p.add_argument("--synth-files", type=int, default=2000,
                   help="files to synthesize when no --source-table given")
    p.add_argument("--checkpoint-dir", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--resume", action="store_true")
    p.add_argument("--tol", type=float, default=1e-6)
    p.add_argument("--max-iter", type=int, default=100)
    p.add_argument("--alpha", type=float, default=0.85)
    p.add_argument("--salt-threshold", default=None,
                   help="hub in-degree above which dst aggregation is "
                        "salted; an integer, or 'auto' to pick it from a "
                        "degree-histogram pass")
    p.add_argument("--num-blocks", type=int, default=None,
                   help="CSR range-partition count (default: shuffle partitions)")
    p.add_argument("--master", default=None, help="override master (tests)")
    return p


def run(argv: list[str]) -> dict:
    args = build_parser().parse_args(argv)
    # --checkpoint-dir may be any Hadoop-resolvable URI (hdfs://,
    # s3a://, file://, ...): CheckpointManager routes its resume/metrics
    # bookkeeping through the Hadoop FileSystem API when a scheme is
    # present. --output stays a driver-mounted path because the
    # summary.json sidecar uses local file APIs.
    if "://" in args.output:
        raise SystemExit(
            "--output must be a driver-mounted filesystem path "
            f"(URI schemes unsupported): {args.output!r}"
        )

    from pyspark.sql import functions as F

    from webgraph_spark.algos.components import connected_components
    from webgraph_spark.algos.labelprop import label_propagation
    from webgraph_spark.algos.pagerank import pagerank
    from webgraph_spark.algos.triangles import triangle_counts
    from webgraph_spark.checkpoint import CheckpointManager
    from webgraph_spark.csr import build_csr
    from webgraph_spark.graph import build_graph
    from webgraph_spark.ingest import with_sha
    from webgraph_spark.session import get_spark
    from webgraph_spark.synth import synth_sources

    spark = get_spark(master=args.master, app_name=f"wgs-{args.algorithm}")
    t0 = time.time()

    if args.source_table:
        sources = spark.read.parquet(args.source_table)
    else:
        sources = synth_sources(
            spark, n_repos=max(1, args.synth_files // 10), files_per_repo=10
        )
    sources = with_sha(sources)

    if args.algorithm == "dedup":
        # document pipeline mode: near-dup clustering of file contents
        # (MinHash+LSH candidates -> exact-Jaccard verify -> the
        # engine's own connected-components closure). No graph build.
        from webgraph_spark.pipeline.dedup import near_dedup_clusters

        docs = sources.select(
            F.xxhash64("repo", "path").alias("doc_id"),
            F.col("content").alias("text"),
        )
        clusters = near_dedup_clusters(docs, threshold=0.5).persist()
        n_docs = clusters.count()
        n_clusters = clusters.select("cluster_id").distinct().count()
        out_path = os.path.join(args.output, "dedup")
        clusters.write.mode("overwrite").parquet(out_path)
        summary = {
            "algorithm": "dedup",
            "n_docs": int(n_docs),
            "n_clusters": int(n_clusters),
            "wall_sec": round(time.time() - t0, 3),
            "resumed": False,
        }
        os.makedirs(args.output, exist_ok=True)
        with open(os.path.join(args.output, "summary.json"), "w") as f:
            json.dump(summary, f)
        clusters.unpersist()
        return summary

    if args.algorithm == "export":
        # file-family export surface: derived edges -> a BVGraph /
        # hybrid-Huffman / Zuckerli trio under <output>/<format>/graph,
        # encoded in parallel node ranges (r5; window reset at range
        # boundaries, global entropy header from merged histograms) and
        # verified by a distributed decode-and-count before reporting.
        from webgraph_spark.bvgraph import bvgraph_to_edges, edges_to_bvgraph
        from webgraph_spark.bvgraph_huffman import (
            edges_to_huffgraph,
            huffgraph_to_edges,
        )
        from webgraph_spark.zuckerli import edges_to_zuckerli, zuckerli_to_edges

        exporters = {
            "bvgraph": (edges_to_bvgraph, bvgraph_to_edges),
            "huffgraph": (edges_to_huffgraph, huffgraph_to_edges),
            "zuckerli": (edges_to_zuckerli, zuckerli_to_edges),
        }
        export_fn, load_fn = exporters[args.export_format]
        vertices, edges = build_graph(sources)
        edges = edges.persist()
        n_edges = edges.count()
        # each range pays a task and a compression-window reset, so a
        # small graph gets fewer ranges than there are shuffle partitions
        ranges = args.export_ranges or max(1, min(
            int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
            vertices.count() // MIN_NODES_PER_RANGE,
        ))
        out_dir = os.path.join(args.output, args.export_format)
        os.makedirs(out_dir, exist_ok=True)
        base = os.path.join(out_dir, "graph")
        t_enc = time.time()
        out = export_fn(edges, base, num_ranges=ranges,
                        ef_offsets=args.ef_offsets)
        enc_sec = time.time() - t_enc
        decoded = int(load_fn(spark, base).count())
        summary = {
            "algorithm": "export",
            "format": args.export_format,
            "basename": base,
            "num_ranges": int(ranges),
            "n_nodes": int(out.nodes),
            "n_arcs": int(out.arcs),
            "input_edges": int(n_edges),
            "decoded_edges": decoded,
            "decode_matches": decoded == out.arcs,
            "graph_bytes": os.path.getsize(base + ".graph"),
            "encode_sec": round(enc_sec, 3),
            "wall_sec": round(time.time() - t0, 3),
            "resumed": False,
        }
        os.makedirs(args.output, exist_ok=True)
        with open(os.path.join(args.output, "summary.json"), "w") as f:
            json.dump(summary, f)
        edges.unpersist()
        return summary

    if args.algorithm == "stream_degrees":
        # Structured Streaming mode: fold an edge-file stream into an
        # incremental out-degree table (availableNow drains what is
        # pending, then exits — the cron-driven incremental-batch shape).
        # A SECOND invocation with the same --checkpoint-dir continues
        # from the file-source checkpoint: already-seen files are NOT
        # reprocessed (tests/test_job.py proves this), new files land in
        # new batch_id=N partitions whose per-batch overwrite keeps
        # retries idempotent.
        import glob

        from webgraph_spark.streaming import (
            read_degrees,
            start_incremental_degrees,
        )

        stream_in = args.stream_input
        if stream_in is None:
            stream_in = os.path.join(args.output, "stream_input")
            # Seed the derived edges ONLY on first creation: a crash
            # re-run with the same args must not append a second copy
            # of the same edges — the file-source checkpoint would see
            # the new part files as unseen and double-count degrees
            # (r4 ADVICE). Re-invocations fold in only genuinely new
            # files dropped into the directory.
            if not os.path.isdir(stream_in):
                _, seed_edges = build_graph(sources)
                seed_edges.select("src", "dst").write.mode("append").parquet(
                    stream_in
                )
        log_dir = os.path.join(args.output, "degree_log")
        q = start_incremental_degrees(
            spark, stream_in, log_dir,
            os.path.join(args.checkpoint_dir, "stream_degrees"),
        )
        q.awaitTermination()
        degrees = read_degrees(spark, log_dir).persist()
        out_path = os.path.join(args.output, "stream_degrees")
        degrees.write.mode("overwrite").parquet(out_path)
        total_deg = degrees.agg(F.sum("outdeg").alias("s")).first()["s"]
        summary = {
            "algorithm": "stream_degrees",
            "n_vertices": int(degrees.count()),
            "total_degree": int(total_deg or 0),
            "n_batches": len(glob.glob(os.path.join(log_dir, "batch_id=*"))),
            "wall_sec": round(time.time() - t0, 3),
            "resumed": bool(args.resume),
        }
        os.makedirs(args.output, exist_ok=True)
        with open(os.path.join(args.output, "summary.json"), "w") as f:
            json.dump(summary, f)
        degrees.unpersist()
        return summary

    vertices, edges = build_graph(sources)
    edges = edges.persist()
    n_edges = edges.count()

    ckpt = CheckpointManager(args.checkpoint_dir)

    # CSR block table: the engine's stored form of the graph (written
    # once per run; on Iceberg this is `writeTo(...).createOrReplace()`)
    csr_path = os.path.join(args.output, "csr_blocks")
    blocks = build_csr(edges, num_blocks=args.num_blocks)
    blocks.write.mode("overwrite").parquet(csr_path)

    salt = args.salt_threshold
    if salt == "auto":
        from webgraph_spark.graph import suggest_salt_threshold

        salt = suggest_salt_threshold(edges)
    elif salt is not None:
        salt = int(salt)

    info: dict = {}
    result = None
    if args.algorithm == "pagerank":
        result, info = pagerank(
            edges, alpha=args.alpha, tol=args.tol, max_iter=args.max_iter,
            ckpt=ckpt, resume=args.resume, salt_threshold=salt,
        )
    elif args.algorithm == "pagerank_csr":
        from webgraph_spark.algos.pagerank_csr import pagerank_csr

        result, info = pagerank_csr(
            edges, alpha=args.alpha, tol=args.tol, max_iter=args.max_iter,
            num_blocks=args.num_blocks, ckpt=ckpt, resume=args.resume,
        )
    elif args.algorithm == "components":
        result, info = connected_components(
            edges, max_iter=args.max_iter, ckpt=ckpt, resume=args.resume
        )
    elif args.algorithm == "labelprop":
        result, info = label_propagation(
            edges, max_iter=args.max_iter, ckpt=ckpt, resume=args.resume
        )
    elif args.algorithm == "triangles":
        result, total_df = triangle_counts(edges)
        info = {"n_triangles": int(total_df.first()["n_triangles"])}
    elif args.algorithm == "hyperball":
        from webgraph_spark.algos.hyperball import hyperball

        result = hyperball(
            edges, t=min(args.max_iter, 8), ckpt=ckpt, resume=args.resume
        )
        info = {"rounds": min(args.max_iter, 8)}
    elif args.algorithm == "order":
        # compression-friendly renumbering: write the mapping AND the
        # permuted edge list (the input the BV/Zuckerli codecs want)
        from webgraph_spark.algos.order import (
            bfs_order, degree_order, permute_edges,
        )

        mapping = (
            degree_order(edges) if args.order_by == "degree"
            else bfs_order(edges, max_iter=args.max_iter)
        )
        result = mapping
        permuted = permute_edges(edges, mapping)
        permuted.write.mode("overwrite").parquet(
            os.path.join(args.output, "order_edges")
        )
        info = {"order_by": args.order_by}
    # "build" -> CSR table only

    if result is not None:
        out_path = os.path.join(args.output, args.algorithm)
        result.write.mode("overwrite").parquet(out_path)

    wall = time.time() - t0
    summary = {
        "algorithm": args.algorithm,
        "n_edges": int(n_edges),
        "n_vertices": int(vertices.count()),
        "wall_sec": round(wall, 3),
        "resumed": bool(args.resume),
        **{k: v for k, v in info.items() if k != "deltas"},
    }
    os.makedirs(args.output, exist_ok=True)
    with open(os.path.join(args.output, "summary.json"), "w") as f:
        json.dump(summary, f)
    edges.unpersist()
    return summary


def main() -> None:
    summary = run(sys.argv[1:])
    print(json.dumps(summary))


if __name__ == "__main__":
    # spark-submit runs this file as __main__; the zip on --py-files
    # provides the webgraph_spark package to executors AND driver.
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    main()
