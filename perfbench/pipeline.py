"""The benchmark's workloads, the engine calls it times and their schedules.

Each workload is a seeded source-code table. `Bench` wraps each public
call into an engine layer in a span and checks its output against the
generator's ground truth outside the span; a failed check is counted,
not raised. Its schedules:

    sweep        build_graph -> build_csr / build_csr_bv / build_csr_zuck
                 -> CsrLocalIndex / BvLocalIndex -> decode_csr_zuck,
                 with a serving step (BvLocalIndex point queries, one
                 CsrLocalIndex batch call) before and after the decode
    timed        a sweep, BV build / Zuckerli build / Zuckerli decode
                 cycles with serving steps between them, a second
                 build_graph (untraced runs)
    per-layer    a sweep, then pagerank, connected_components,
                 triangle_counts, decode_csr_bv, edges_to_bvgraph /
                 bvgraph_to_edges, bvdecode lockstep vs scalar on one
                 block, and the decoded-block caches (traced runs)
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from collections import defaultdict
from collections.abc import Callable
from dataclasses import dataclass
from functools import cached_property

import numpy as np

import inputs
import oracles
from spans import Tracer

PAGERANK_ITERS = 5


@dataclass(frozen=True)
class Workload:
    name: str
    names: Callable[[int], tuple[list[str], list[str]]]
    graph: Callable[[int, int], tuple[np.ndarray, np.ndarray]]  # sorted by src
    n_files: int


def _web(n, seed):
    # cnr-2000 has 325,557 nodes and 3,216,152 arcs; this keeps its
    # arcs-per-node ratio at one sixteenth of its size.
    return inputs.web_graph(n, round(n * 3_216_152 / 325_557), seed)


WORKLOADS = {
    "source-analytics": Workload(
        "source-analytics", inputs.code_names, inputs.code_graph, 40_000),
    "web-storage": Workload("web-storage", inputs.web_names, _web, 20_347),
}
POINT_CHUNK = 6_000       # closed-loop point queries per path and serving step
BATCH_QUERIES = 500_000   # uniform ids per batch call
# Size of the input slice that warm-up calls run on: the first call of a
# family pays class loading, Spark codegen, JIT and, for the codecs,
# Python worker start, whatever its input size.
WARMUP_FILES = 200
# On 4 cores a sweep, a codec cycle and a build_graph take ~30 s and each
# further cycle ~10 s. The cycle count follows --seconds, not the clock,
# so a run measures the same calls in a fast host period as in a slow one.
SWEEP_S, CYCLE_S = 20.0, 10.0


def cycles(seconds: float) -> int:
    return max(1, int((seconds - SWEEP_S) // CYCLE_S))


class Checks:
    """Counts checked operations; a failed check is logged, not raised."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def check(self, ok: bool, what: str, n: int = 1, bad: int | None = None):
        self.attempted += n
        nbad = (0 if ok else n) if bad is None else bad
        self.failed += nbad
        if nbad:
            print(f"CHECK FAILED: {what} ({nbad}/{n})", file=sys.stderr)


# Order-insensitive digest of an (src, dst) multiset: count, the two id
# sums and the sum of a nonlinear mix of each pair (< 10^12 per edge).
# Every term stays below 2^63 up to ~10^6 edges, so Spark (ANSI
# arithmetic) and numpy compute the same integers.
_MIX = "((src * 65537 + dst) % 999983) * ((dst * 40503 + src) % 999979)"


def digest(df) -> tuple:
    from pyspark.sql import functions as F

    r = df.select(F.col("src").cast("long").alias("src"),
                  F.col("dst").cast("long").alias("dst")).agg(
        F.count("*"), F.sum("src"), F.sum("dst"), F.sum(F.expr(_MIX)),
    ).first()
    return tuple(int(v or 0) for v in r)


def digest_np(src: np.ndarray, dst: np.ndarray) -> tuple:
    mix = ((src * 65537 + dst) % 999983) * ((dst * 40503 + src) % 999979)
    return (int(src.size), int(src.sum()), int(dst.sum()), int(mix.sum()))


class Truth:
    """Ground truth for one generated input, and the oracle answers."""

    def __init__(self, gt: dict, pagerank_iters: int):
        self.n_files = gt["n_files"]
        self.imports_written = gt["imports_written"]
        self.src, self.dst = gt["src"], gt["dst"]
        self.arcs = int(self.src.size)
        self.indptr = oracles.indptr(self.src, self.n_files)
        self.digest = digest_np(self.src, self.dst)
        self.components = oracles.component_count(self.src, self.dst)
        self.pagerank_iters = pagerank_iters
        ids, ranks = oracles.pagerank(self.src, self.dst, pagerank_iters)
        self.pr_top = oracles.top_ids(ids, ranks, 20)

    @cached_property
    def triangles(self) -> int:
        return oracles.triangle_count(self.src, self.dst)

    def lists(self, xs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(counts, concatenated successors) of the queried nodes."""
        lo, hi = self.indptr[xs], self.indptr[xs + 1]
        counts = hi - lo
        starts = np.cumsum(counts) - counts
        idx = np.repeat(lo - starts, counts) + np.arange(int(counts.sum()))
        return counts, self.dst[idx]

    def successors(self, x: int) -> np.ndarray:
        return self.dst[self.indptr[x]:self.indptr[x + 1]]


def prepare(work: str, wl: Workload, seed: int, n_files: int) -> tuple[str, dict]:
    """Write the workload's source table for (seed, size); return its path
    and ground truth."""
    d = os.path.join(work, "inputs")
    os.makedirs(d, exist_ok=True)
    table = os.path.join(d, f"{wl.name}-{n_files}.parquet")
    src, dst = wl.graph(n_files, seed)
    return table, inputs.write_source_table(table, wl.names(n_files), src, dst, seed)


class Bench:
    """The engine calls of one workload and the schedules that run them.

    Each call runs in a span of `tr`, appends its timing to the samples
    `s` and is checked outside the span (a failed check is counted in
    `ck`). Callers may swap `tr` and `s` between schedules, and set
    `per_layer` to add varint point queries to the serving steps. The
    host's CPU speed drifts by tens of percent from one second to the
    next, so the schedules repeat calls and spread their serving samples
    out: a chunk of closed-loop point queries and one batch call run
    between consecutive Spark calls. A `small` bench (the warm-up slice)
    serves fewer queries."""

    def __init__(self, spark, truth: Truth, sources_path: str, seed: int,
                 work: str, checks: Checks, tracer: Tracer, small: bool = False):
        self.spark = spark
        self.t = truth
        self.sources_path = sources_path
        self.work = work
        self.ck = checks
        self.tr = tracer
        self.per_layer = False
        self.s: dict[str, list[float]] = defaultdict(list)
        self.m: dict = {}
        self.rng = np.random.default_rng([seed, 7])
        self.point_chunk = 200 if small else POINT_CHUNK
        self.xs_batch = np.random.default_rng([seed, 8]).integers(
            0, truth.n_files, 2_000 if small else BATCH_QUERIES)
        self.expected = truth.lists(self.xs_batch)

    # -- schedules -----------------------------------------------------------
    def sweep(self):
        """One call of each end-to-end family: build_graph, the three block
        builds, a Zuckerli decode, and serving around the decode."""
        edges = self.graph()
        blocks = self.build(edges, ("varint", "bv", "zuckerli"))
        self.load(blocks)
        self.serve()
        self.decode(blocks, "zuckerli")
        self.serve()
        return edges, blocks

    def timed(self, seconds: float) -> None:
        """The untraced schedule: a sweep, `cycles(seconds)` cycles of a BV
        build, a Zuckerli decode, a Zuckerli build and a Zuckerli decode
        with serving between them, then a second build_graph."""
        edges, blocks = self.sweep()
        for _ in range(cycles(seconds)):
            self.codec_cycle(edges, blocks)
        self.finish(edges, *blocks.values())
        self.finish(self.graph())

    def codec_cycle(self, edges, blocks) -> None:
        for codec in ("bv", "zuckerli"):
            self.build(edges, (codec,), keep=False)
            self.serve()
            self.decode(blocks, "zuckerli")
            self.serve()

    def codec_calls(self, edges) -> None:
        """BV and Zuckerli builds and a Zuckerli decode: the calls that
        trace.overhead_pct compares, traced against plain."""
        blocks = self.build(edges, ("bv", "zuckerli"))
        self.decode(blocks, "zuckerli")
        self.finish(*blocks.values())

    def per_layer_round(self) -> None:
        """The traced schedule: a sweep, then every per-layer-only call."""
        edges, blocks = self.sweep()
        self.per_layer_calls(edges, blocks)
        self.finish(edges, *blocks.values())

    def per_layer_calls(self, edges, blocks) -> None:
        """The calls that feed per-layer metrics only, after a sweep."""
        self.pagerank(edges)
        self.components(edges)
        self.triangles(edges)
        self.decode(blocks, "bv")
        self.bvgraph(edges)
        self.bvdecode()
        self.caches()

    def finish(self, *frames) -> None:
        """Drop the indexes and the given checkpointed frames."""
        for attr in ("ci", "bi", "rows"):
            self.__dict__.pop(attr, None)
        for df in frames:
            df.unpersist()
        self.spark.catalog.clearCache()  # frames the engine cached

    # -- ingest + graph ----------------------------------------------------
    def graph(self):
        from webgraph_spark.graph import build_graph

        sources = self.spark.read.parquet(self.sources_path)
        with self.tr.span("graph.build_graph") as s:
            vertices, edges = build_graph(sources)
            edges = edges.localCheckpoint(eager=True)
        d = digest(edges)
        self.ck.check(d == self.t.digest, "build_graph edges")
        n_v = vertices.count()
        self.ck.check(n_v == self.t.n_files, "build_graph vertices")
        self.s["ingest_eps"].append(d[0] / s["wall_s"])
        self.m.update({"build_graph_s": s["wall_s"], "edges": d[0], "vertices": n_v,
                       "resolve_ratio": d[0] / max(self.t.imports_written, 1)})
        return edges

    # -- algorithms --------------------------------------------------------
    def pagerank(self, edges):
        from webgraph_spark.algos.pagerank import pagerank

        with self.tr.span("pagerank") as s:
            ranks, info = pagerank(edges, tol=0.0, max_iter=self.t.pagerank_iters)
        pdf = ranks.toPandas()
        ids = pdf["vertex_id"].to_numpy()
        r = pdf["rank"].to_numpy()
        self.ck.check(abs(float(r.sum()) - 1.0) <= 1e-9, "pagerank mass")
        self.ck.check(oracles.top_ids(ids, r, 20) == self.t.pr_top,
                      "pagerank top-20")
        steps = info["superstep_secs"]
        self.s["pagerank_eps"].append(
            self.t.arcs * info["iterations"] / s["wall_s"])
        self.m.update({
            "pagerank_iters": info["iterations"],
            "pagerank_setup_s": s["wall_s"] - sum(steps),
            "superstep_s_p50": float(np.median(steps)),
            "superstep_s_max": max(steps),
        })

    def components(self, edges):
        from pyspark.sql import functions as F

        from webgraph_spark.algos.components import connected_components

        with self.tr.span("components") as s:
            comps, info = connected_components(edges)
            n_comp = comps.agg(F.countDistinct("component_id")).first()[0]
        self.ck.check(n_comp == self.t.components, "component count")
        self.s["components_s"].append(s["wall_s"])
        self.m.update({
            "components_rounds": info["iterations"],
            "components_s_per_round":
                sum(info["superstep_secs"]) / max(info["iterations"], 1),
        })

    def triangles(self, edges):
        from webgraph_spark.algos.triangles import triangle_counts

        with self.tr.span("triangles") as s:
            _, total = triangle_counts(edges)
            n_tri = total.first()[0]
        self.ck.check(n_tri == self.t.triangles, "triangle total")
        self.m["triangles_s"] = s["wall_s"]

    # -- block codecs ------------------------------------------------------
    def build(self, edges, codecs, keep: bool = True) -> dict:
        """Build, materialise and check each codec's block table. With
        `keep` the tables and their collected rows (`self.rows`) serve the
        rest of the schedule; otherwise they are dropped."""
        from webgraph_spark import csr

        builders = {"varint": csr.build_csr, "bv": csr.build_csr_bv,
                    "zuckerli": csr.build_csr_zuck}
        blocks, rows = {}, {}
        for codec in codecs:
            with self.tr.span(f"csr.build.{codec}") as s:
                blocks[codec] = builders[codec](edges).localCheckpoint(eager=True)
            rows[codec] = sorted((r.asDict() for r in blocks[codec].collect()),
                                 key=lambda r: r["node_lo"])
            payload = "indices" if codec == "varint" else "stream"
            nbytes = sum(len(r[payload]) for r in rows[codec])
            self.ck.check(
                sum(r["n_edges"] for r in rows[codec]) == self.t.arcs
                and sum(r["bytes"] for r in rows[codec]) == nbytes,
                f"{codec} block sizes")
            self.s[f"build_s.{codec}"].append(s["wall_s"])
            self.m[f"build_s.{codec}"] = s["wall_s"]
            self.m[f"bytes_per_edge.{codec}"] = nbytes / self.t.arcs
            if not keep:
                blocks.pop(codec).unpersist()
        if keep:
            self.rows = rows
            self.m["blocks"] = len(rows.get("bv", ()))
        return blocks

    def decode(self, blocks, codec: str):
        from webgraph_spark import csr

        fn = {"bv": csr.decode_csr_bv, "zuckerli": csr.decode_csr_zuck}[codec]
        with self.tr.span(f"csr.decode.{codec}") as s:
            d = digest(fn(blocks[codec]))
        self.ck.check(d == self.t.digest, f"decode_csr {codec}")
        self.s[f"decode_s.{codec}"].append(s["wall_s"])
        self.m[f"decode_s.{codec}"] = s["wall_s"]

    # -- BVGraph file family -----------------------------------------------
    def bvgraph(self, edges):
        from webgraph_spark.bvgraph import bvgraph_to_edges, edges_to_bvgraph

        d = os.path.join(self.work, "bvgraph")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        base = os.path.join(d, "graph")
        ranges = os.cpu_count() or 1
        with self.tr.span("bvgraph.export") as s:
            edges_to_bvgraph(edges, base, num_ranges=ranges)
        self.m["export_s"] = s["wall_s"]
        self.m["export_rss_bytes"] = s.get("rss_growth_bytes", 0)
        self.m["export_file_bytes"] = sum(
            os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))
        with self.tr.span("bvgraph.import") as s:
            dig = digest(bvgraph_to_edges(self.spark, base))
        self.ck.check(dig == self.t.digest, "bvgraph_to_edges")
        self.m["import_s"] = s["wall_s"]

    # -- lockstep vs scalar decode of one block, on the driver's core -------
    def bvdecode(self):
        from webgraph_spark.bvdecode import decode_block, decode_block_zuck
        from webgraph_spark.bvgraph import BVGraphParams, BVGraphReader
        from webgraph_spark.zuckerli import ZuckerliReader

        kernels = {"bv": (decode_block, BVGraphReader),
                   "zuckerli": (decode_block_zuck, ZuckerliReader)}
        for codec, (lockstep, reader_cls) in kernels.items():
            blk = max(self.rows[codec], key=lambda r: r["n_edges"])
            lo, n, m = blk["node_lo"], blk["n_nodes"], blk["n_edges"]
            stream, offs = bytes(blk["stream"]), blk["bit_offsets"]
            params = BVGraphParams(nodes=n, arcs=m)
            times = []
            for _ in range(3):
                with self.tr.span(f"bvdecode.lockstep.{codec}") as s:
                    src, dst = lockstep(stream, offs, lo, n, params)
                times.append(s["wall_s"])
            with self.tr.span(f"bvdecode.scalar.{codec}") as s:
                ref = []
                reader = reader_cls(stream, offs, params, node_base=lo)
                for _x, succ in reader.iter_lists():
                    ref.extend(succ)
            exp = self.t.dst[self.t.indptr[lo]:self.t.indptr[lo + n]]
            self.ck.check(np.array_equal(dst, exp) and ref == exp.tolist(),
                          f"{codec} block decode")
            self.m[f"lockstep_eps.{codec}"] = m / float(np.median(times))
            self.m[f"scalar_eps.{codec}"] = m / s["wall_s"]

    # -- serving -------------------------------------------------------------
    def _points(self, name: str, fn, xs: np.ndarray) -> list[float]:
        """Closed loop, one client: each query is sent when the last returns."""
        lat, out = [], []
        clock = time.perf_counter
        with self.tr.span(name):
            for x in xs.tolist():
                t0 = clock()
                r = fn(x)
                lat.append(clock() - t0)
                out.append(r)
        bad = sum(not np.array_equal(r, self.t.successors(x))
                  for x, r in zip(xs.tolist(), out))
        self.ck.check(bad == 0, name, n=len(out), bad=bad)
        return lat

    def _batch(self, name: str, index) -> float:
        with self.tr.span(name) as s:
            counts, flat = index.batch_successors(self.xs_batch)
        ok = (np.array_equal(counts, self.expected[0])
              and np.array_equal(flat, self.expected[1]))
        self.ck.check(ok, name, n=self.xs_batch.size)
        return self.xs_batch.size / s["wall_s"]

    def load(self, blocks):
        from webgraph_spark.local_index import BvLocalIndex, CsrLocalIndex

        with self.tr.span("local_index.load.varint") as s:
            self.ci = CsrLocalIndex.from_blocks(blocks["varint"])
        self.m["load_s.varint"] = s["wall_s"]
        with self.tr.span("local_index.load.bv") as s:
            self.bi = BvLocalIndex.from_blocks(blocks["bv"])
        self.m["load_s.bv"] = s["wall_s"]
        self.expected = self.t.lists(self.xs_batch)

    def serve(self):
        """One chunk of uniform point queries on every path, then one varint
        batch call on a freshly built index (an index memoizes decoded
        blocks, so a repeat on the same index would time the cache)."""
        from webgraph_spark.local_index import CsrLocalIndex

        xs = self.rng.integers(0, self.t.n_files, self.point_chunk)
        paths = {"bv": self.bi, "varint": self.ci} if self.per_layer else {"bv": self.bi}
        for codec, idx in paths.items():
            self.s[f"point_s.{codec}"] += self._points(
                f"local_index.point.{codec}", idx.successors, xs)
        self.s["batch_qps.varint"].append(self._batch(
            "local_index.batch.varint", CsrLocalIndex(self.rows["varint"])))

    def caches(self):
        """The decoded-block caches: first touch of each block, then cached
        point queries; the memory the caches pin; one BV batch call."""
        import tracemalloc

        from webgraph_spark.local_index import BvLocalIndex, CsrLocalIndex

        xs = self.rng.integers(0, self.t.n_files, self.point_chunk)
        for codec, idx in (("bv", self.bi), ("varint", self.ci)):
            firsts = self._points(
                f"local_index.first_touch.{codec}", idx.successors_cached,
                np.array([r["node_lo"] for r in self.rows[codec]]))
            self.m[f"first_touch_ms.{codec}"] = float(np.median(firsts)) * 1e3
            lat = self._points(f"local_index.cached.{codec}",
                               idx.successors_cached, xs)
            self.m[f"cached_point_us_p50.{codec}"] = float(np.median(lat)) * 1e6
        # memory the caches pin once every block is decoded (untimed)
        fresh = {"varint": CsrLocalIndex(self.rows["varint"]),
                 "bv": BvLocalIndex(self.rows["bv"])}
        tracemalloc.start()
        for codec, idx in fresh.items():
            for r in self.rows[codec]:
                idx.successors_cached(r["node_lo"])
        self.m["cache_bytes"] = tracemalloc.get_traced_memory()[0]
        tracemalloc.stop()
        self.m["batch_qps.bv"] = self._batch(
            "local_index.batch.bv", BvLocalIndex(self.rows["bv"]))
