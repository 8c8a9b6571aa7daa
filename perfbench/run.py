"""Layer-attributed benchmark of webgraph_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The workload's inputs are generated from
the seed (perfbench/inputs.py), the engine's public calls run on
local[<nproc>], every output is checked, and the last line of stdout is
one JSON record:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end_to_end metrics of BENCHMARK.json,
each the median, or the pooled percentile, of the samples of the timed
schedule (pipeline.Bench.timed), which lasts about --seconds. With
--trace 1 the metrics are the per_layer ones, from the spans of one
traced round (pipeline.Bench.per_layer_round) plus the Spark event log.
Everything else the run prints goes to stderr; run artifacts (inputs,
event logs, the full span record) stay under perfbench/.work/.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time
from collections import defaultdict

import numpy as np

from spans import EventLog, RssSampler, Tracer, attach_spark_counters

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
MB = 1 << 20


def spark_session(trace: bool):
    """local[nproc] with nproc shuffle partitions, an explicit driver heap
    and every scratch directory inside WORK."""
    from webgraph_spark.session import get_spark

    cpus = os.cpu_count() or 1
    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.driver.memory": "3g",
        # no hsperfdata file in /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # poll executor memory so task-end events carry peak heap values
        conf["spark.executor.metrics.pollingInterval"] = "100ms"
    for d in (tmp, conf["spark.local.dir"]):
        os.makedirs(d, exist_ok=True)
    return get_spark(master=f"local[{cpus}]", app_name="perfbench",
                     shuffle_partitions=cpus, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr,
          flush=True)


def end_to_end(s: dict[str, list[float]], m: dict, setup_s: float,
               spans: list[dict]) -> dict:
    """The end_to_end metrics: medians or pooled percentiles of the
    samples `s` of the timed schedule (`m` holds its last scalars)."""
    def med(key):
        return float(np.median(s[key]))

    edges = m["edges"]
    return {
        "setup_s": setup_s,
        "ingest_edges_per_s": med("ingest_eps"),
        "encode_edges_per_s.bv": edges / med("build_s.bv"),
        "encode_edges_per_s.zuckerli": edges / med("build_s.zuckerli"),
        "decode_edges_per_s.zuckerli": edges / med("decode_s.zuckerli"),
        "bytes_per_edge.bv": m["bytes_per_edge.bv"],
        "bytes_per_edge.zuckerli": m["bytes_per_edge.zuckerli"],
        "point_us_p50.bv": float(np.percentile(s["point_s.bv"], 50)) * 1e6,
        "point_us_p99.bv": float(np.percentile(s["point_s.bv"], 99)) * 1e6,
        "batch_queries_per_s.varint": med("batch_qps.varint"),
        "driver_rss_peak_mb": max(x["rss_growth_bytes"] for x in spans) / MB,
    }


CODEC_CALLS = {"csr.build.bv", "csr.build.zuckerli", "csr.decode.zuckerli"}


def overhead_pct(plain: list[list[dict]], traced: list[dict]) -> float:
    """Wall-time growth of the calls of `Bench.codec_calls` when traced:
    per call name, the mean wall time in the traced round against the
    mean over the plain calls before and after it."""
    def mean_wall(spans):
        by = defaultdict(list)
        for x in spans:
            by[x["name"]].append(x["wall_s"])
        return {k: float(np.mean(v)) for k, v in by.items()}

    base = mean_wall([x for p in plain for x in p if x["name"] in CODEC_CALLS])
    tr = mean_wall(traced)
    return 100.0 * (sum(tr[k] for k in base) / sum(base.values()) - 1.0)


def per_layer(p: dict, s: dict[str, list[float]], spans: list[dict],
              setup: dict, overhead_pct: float) -> dict:
    """The per_layer metrics of one traced round: its scalars `p`, its
    samples `s`, and Spark counters from each span's folded event-log
    record (zero when it ran no job)."""
    def spark(name, key):
        return sum((x.get("spark") or {}).get(key, 0) for x in spans
                   if x["name"] == name)

    def skew(name):
        return max([(x.get("spark") or {}).get("task_skew", 0)
                    for x in spans if x["name"] == name] or [0])

    heap = max((x.get("spark") or {}).get("peak_heap_bytes", 0) for x in spans)
    out = {
        "session.get_spark_s": setup["get_spark_s"],
        "session.warmup_s": setup["warmup_s"],
        "graph.vertices": p["vertices"],
        "graph.edges": p["edges"],
        "ingest.resolve_ratio": p["resolve_ratio"],
        "pagerank.edges_per_s": s["pagerank_eps"][0],
        "pagerank.setup_s": p["pagerank_setup_s"],
        "pagerank.superstep_s_p50": p["superstep_s_p50"],
        "pagerank.superstep_s_max": p["superstep_s_max"],
        "pagerank.shuffle_bytes_per_superstep":
            spark("pagerank", "shuffle_write_bytes") / p["pagerank_iters"],
        "components.wall_s": s["components_s"][0],
        "components.rounds": p["components_rounds"],
        "components.s_per_round": p["components_s_per_round"],
        "triangles.wall_s": p["triangles_s"],
        "triangles.shuffle_write_records": spark("triangles", "shuffle_write_records"),
        "csr.decode_s.bv": p["decode_s.bv"],
        "csr.decode_s.zuckerli": float(np.median(s["decode_s.zuckerli"])),
        "csr.bytes_per_edge.varint": p["bytes_per_edge.varint"],
        "csr.blocks": p["blocks"],
        "bvgraph.export_s": p["export_s"],
        "bvgraph.export_file_bytes": p["export_file_bytes"],
        "bvgraph.export_rss_mb": p["export_rss_bytes"] / MB,
        "bvgraph.import_s": p["import_s"],
        "bvgraph.import_cpu_s": spark("bvgraph.import", "cpu_s"),
        "local_index.load_s.varint": p["load_s.varint"],
        "local_index.load_s.bv": p["load_s.bv"],
        "local_index.point_us_p50.varint":
            float(np.percentile(s["point_s.varint"], 50)) * 1e6,
        "local_index.point_us_p99.varint":
            float(np.percentile(s["point_s.varint"], 99)) * 1e6,
        "local_index.cached_point_us_p50.varint": p["cached_point_us_p50.varint"],
        "local_index.cached_point_us_p50.bv": p["cached_point_us_p50.bv"],
        "local_index.first_touch_ms.bv": p["first_touch_ms.bv"],
        "local_index.batch_queries_per_s.bv": p["batch_qps.bv"],
        "local_index.cache_mb": p["cache_bytes"] / MB,
        "jvm.peak_heap_mb": heap / MB,
        "trace.overhead_pct": overhead_pct,
    }
    for name, prefix in (("graph.build_graph", "graph.build_graph"),
                         ("pagerank", "pagerank"), ("components", "components"),
                         ("triangles", "triangles")):
        out[f"{prefix}.cpu_s"] = spark(name, "cpu_s")
        out[f"{prefix}.gc_s"] = spark(name, "gc_s")
        out[f"{prefix}.shuffle_write_bytes"] = spark(name, "shuffle_write_bytes")
        out[f"{prefix}.spill_bytes"] = spark(name, "spill_bytes")
        out[f"{prefix}.task_skew"] = skew(name)
    for codec in ("varint", "bv", "zuckerli"):
        out[f"csr.build_s.{codec}"] = p[f"build_s.{codec}"]
        out[f"csr.build_cpu_s.{codec}"] = spark(f"csr.build.{codec}", "cpu_s")
        out[f"csr.build_task_skew.{codec}"] = skew(f"csr.build.{codec}")
    for codec in ("bv", "zuckerli"):
        lock, scal = p[f"lockstep_eps.{codec}"], p[f"scalar_eps.{codec}"]
        out[f"bvdecode.lockstep_edges_per_s.{codec}"] = lock
        out[f"bvdecode.scalar_edges_per_s.{codec}"] = scal
        out[f"bvdecode.speedup.{codec}"] = lock / scal
    return out


def validate(record: dict, spec: dict, trace: bool) -> None:
    """Raise unless `record` has the shape BENCHMARK.json asks for: the four
    keys, whole counts, and every metric of the mode with its unit and a
    finite value (nonzero for end-to-end metrics)."""
    if set(record) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"record keys {sorted(record)}")
    if not isinstance(record["correct"], bool):
        raise ValueError("correct is not a bool")
    for k in ("attempted", "failed"):
        if not isinstance(record[k], int) or isinstance(record[k], bool):
            raise ValueError(f"{k} is not an int")
    if record["attempted"] < 1 or not 0 <= record["failed"] <= record["attempted"]:
        raise ValueError("attempted/failed out of range")
    want = {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}
    got = record["metrics"]
    if set(got) != set(want):
        raise ValueError(f"metric names differ: missing {sorted(set(want) - set(got))}, "
                         f"extra {sorted(set(got) - set(want))}")
    for name, entry in got.items():
        if set(entry) != {"value", "unit"} or entry["unit"] != want[name]:
            raise ValueError(f"metric {name}: {entry}")
        v = entry["value"]
        if (not isinstance(v, (int, float)) or isinstance(v, bool)
                or not math.isfinite(v)):
            raise ValueError(f"metric {name} value {v!r}")
        if not trace and v == 0:
            raise ValueError(f"end-to-end metric {name} is 0")


def run(args) -> dict:
    import webgraph_spark  # noqa: F401  (fail before any work without the engine)

    import pipeline

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in pipeline.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(pipeline.WORKLOADS)}")
    wl = pipeline.WORKLOADS[args.workload]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    # inputs and oracles: outside setup and outside every timed region
    sources, gt = pipeline.prepare(WORK, wl, args.seed, wl.n_files)
    warm_sources, warm_gt = pipeline.prepare(WORK, wl, args.seed, pipeline.WARMUP_FILES)
    truth = pipeline.Truth(gt, pipeline.PAGERANK_ITERS)
    warm_truth = pipeline.Truth(warm_gt, pipeline.PAGERANK_ITERS)
    log("inputs and oracles ready")
    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = spark_session(args.trace)
        setup = {"get_spark_s": time.perf_counter() - t0}
        try:
            # untimed first calls of every end-to-end family, on a slice
            warm = pipeline.Bench(spark, warm_truth, warm_sources, args.seed, WORK,
                                  pipeline.Checks(), Tracer(), small=True)
            t0 = time.perf_counter()
            warm_edges, warm_blocks = warm.sweep()
            setup["warmup_s"] = time.perf_counter() - t0
            setup_s = setup["get_spark_s"] + setup["warmup_s"]
            log(f"setup done: {setup}")
            if args.trace:
                warm.per_layer = True
                warm.per_layer_calls(warm_edges, warm_blocks)
                log("per-layer families warmed")
            warm.finish(warm_edges, *warm_blocks.values())

            checks = pipeline.Checks()
            bench = pipeline.Bench(spark, truth, sources, args.seed, WORK, checks,
                                   Tracer(rss=rss))
            if not args.trace:
                bench.timed(args.seconds)
                metrics = end_to_end(bench.s, bench.m, setup_s, bench.tr.spans)
                spans = bench.tr.spans
            else:
                # plain codec calls on one graph before and after the
                # traced round, so a JIT still warming biases neither way
                edges = bench.graph()
                bench.codec_calls(edges)
                plain = [bench.tr.spans]
                bench.tr = Tracer(sc=spark.sparkContext, rss=rss)
                bench.per_layer = True
                with EventLog(spark.sparkContext, os.path.join(WORK, "eventlog")) as ev:
                    bench.per_layer_round()
                traced, traced_s, traced_m = bench.tr.spans, bench.s, dict(bench.m)
                log("traced round done")
                bench.tr, bench.s = Tracer(rss=rss), defaultdict(list)
                bench.codec_calls(edges)
                plain.append(bench.tr.spans)
                bench.finish(edges)
        finally:
            stop_spark(spark)

    log("spark stopped")
    if args.trace:
        attach_spark_counters(traced, ev.path)
        metrics = per_layer(traced_m, traced_s, traced, setup,
                            overhead_pct(plain, traced))
        spans = traced

    units = {m["name"]: m["unit"]
             for m in spec["per_layer" if args.trace else "end_to_end"]}
    record = {
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": {k: {"value": float(v), "unit": units.get(k, "?")}
                    for k, v in metrics.items()},
    }
    validate(record, spec, args.trace)
    detail = os.path.join(
        WORK, f"{args.workload}-seed{args.seed}-trace{int(args.trace)}.json")
    with open(detail, "w") as f:
        json.dump({"record": record, "setup": setup, "spans": spans,
                   "plain_spans": plain if args.trace else None}, f,
                  indent=1, default=float)
    return record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # stdout carries exactly one line, the record: everything else the
    # process or its children write to fd 1 lands on stderr
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.path.insert(0, ROOT)
    record = run(args)
    out.write(json.dumps(record, separators=(",", ":")) + "\n")
    out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
