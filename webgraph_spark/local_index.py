"""Driver-side compressed random-access index over CSR blocks.

The reference's headline capability is decompressing ONE adjacency
list in ~hundreds of ns without touching the rest of the graph
(successors(x), /root/reference/src/webgraph/bvgraph.rs:143-146,
732-978; perf harness: 1M uniform random queries, mean ns/query,
src/main.rs:70-121). In the engine, cluster-side point lookups go
through csr_successors (parquet min/max pruning to one block); this
module is the single-node serving analog: the compressed block table
is collected once (buffers stay gap+zigzag+varint compressed, ~1-2
bytes/edge) and random-access queries decode exactly one list via the
per-node byte_offsets array — same asymptotics as the reference, in
numpy.

`batch_successors` amortizes Python dispatch over a whole query array
(decode every queried list in a handful of vectorized passes) — the
mode a feature-serving pipeline would use; `bench_random_queries`
reproduces the reference's 1M-random-query harness for BENCH.md.
"""

from __future__ import annotations

import time

import numpy as np

from webgraph_spark.codec import decode_one_list, varint_decode, zigzag_decode

# Queries gathered per step of a batch call.
_BATCH_CHUNK = 1 << 16


def _spans(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Indices of the concatenated ranges [starts[i], starts[i] + lens[i])."""
    ends = np.cumsum(lens)
    total = int(ends[-1]) if ends.size else 0
    return np.arange(total, dtype=np.int64) + np.repeat(starts - (ends - lens), lens)


class CsrLocalIndex:
    """In-memory compressed graph with O(1) random-access list decode.

    ef_offsets=True stores the per-node byte_offsets and indptr arrays
    Elias–Fano-compressed (~9x less RAM than int64 — the reference's
    `--ef` offsets option, bvgraph.rs:173-185) at the cost of an O(log)
    select per offset access; both point and batch paths read offsets
    through the same accessor, so the option is transparent.
    """

    def __init__(self, blocks_rows, ef_offsets: bool = False):
        rows = sorted(blocks_rows, key=lambda r: r["node_lo"])
        self._los = np.array([r["node_lo"] for r in rows], dtype=np.int64)
        self._his = np.array([r["node_hi"] for r in rows], dtype=np.int64)
        self._indptr = [np.asarray(r["indptr"], dtype=np.int64) for r in rows]
        self._boffs = [np.asarray(r["byte_offsets"], dtype=np.int64) for r in rows]
        self._bufs = [np.frombuffer(r["indices"], dtype=np.uint8) for r in rows]
        self.num_nodes = int(self._his[-1] + 1) if len(rows) else 0
        self.num_arcs = int(sum(r["n_edges"] for r in rows))
        self.compressed_bytes = int(sum(b.size for b in self._bufs))
        self.offset_bytes = int(
            sum(a.nbytes for a in self._indptr)
            + sum(a.nbytes for a in self._boffs)
        )
        if ef_offsets:
            from webgraph_spark.eliasfano import EliasFano

            self._indptr = [EliasFano(a) for a in self._indptr]
            self._boffs = [EliasFano(a) for a in self._boffs]
            self.offset_bytes = int(
                sum(a.nbytes for a in self._indptr)
                + sum(a.nbytes for a in self._boffs)
            )

    @staticmethod
    def _at(arr, idx):
        """Offset accessor: plain ndarray or EliasFano, int or array."""
        if isinstance(arr, np.ndarray):
            return arr[idx]
        if np.isscalar(idx) or isinstance(idx, (int, np.integer)):
            return arr.get(int(idx))
        return arr.get_many(idx)

    @classmethod
    def from_blocks(cls, blocks_df, ef_offsets: bool = False) -> "CsrLocalIndex":
        """blocks_df: DataFrame from build_csr (or its parquet table)."""
        return cls([r.asDict() for r in blocks_df.collect()], ef_offsets=ef_offsets)

    def _block_of(self, x: int) -> int:
        i = int(np.searchsorted(self._los, x, side="right")) - 1
        if i < 0 or x > self._his[i]:
            return -1
        return i

    def _decoded_block(self, i: int) -> np.ndarray:
        """Memoized full decode of one block (decompressed cache mode —
        trades 8 bytes/edge of RAM for slice-speed point queries; the
        reference instead re-decodes per query and memoizes only the
        outdegree pointer, bvgraph.rs:40-42,716-729)."""
        if not hasattr(self, "_dec_cache"):
            self._dec_cache: dict[int, np.ndarray] = {}
        hit = self._dec_cache.get(i)
        if hit is None:
            from webgraph_spark.codec import decode_adjacency

            ip = self._indptr[i]
            ip_arr = ip if isinstance(ip, np.ndarray) else ip.to_array()
            counts = np.diff(ip_arr)
            nodes = np.arange(self._los[i], self._los[i] + counts.size, dtype=np.int64)
            hit = decode_adjacency(self._bufs[i], nodes, counts)
            self._dec_cache[i] = hit
        return hit

    def successors_cached(self, x: int) -> np.ndarray:
        """Point query against the decompressed block cache: first touch
        of a block pays one vectorized decode, subsequent queries are a
        pure array slice."""
        i = self._block_of(x)
        if i < 0:
            return np.empty(0, dtype=np.int64)
        dec = self._decoded_block(i)
        ip = self._indptr[i]
        k = x - self._los[i]
        lo, hi = int(self._at(ip, k)), int(self._at(ip, k + 1))
        return dec[lo:hi]

    def outdegree(self, x: int) -> int:
        """O5 analog (bvgraph.rs:120-136)."""
        i = self._block_of(x)
        if i < 0:
            return 0
        k = x - self._los[i]
        ip = self._indptr[i]
        return int(self._at(ip, k + 1) - self._at(ip, k))

    def successors(self, x: int) -> np.ndarray:
        """O6/O7 analog: decode one list, nothing else."""
        i = self._block_of(x)
        if i < 0:
            return np.empty(0, dtype=np.int64)
        k = x - self._los[i]
        ip, off = self._indptr[i], self._boffs[i]
        return decode_one_list(
            self._bufs[i], int(self._at(off, k)), int(self._at(off, k + 1)),
            x, int(self._at(ip, k + 1) - self._at(ip, k)),
        )

    def batch_successors(self, xs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Vectorized bulk random access: returns (counts, concatenated
        successors) aligned with xs. All queried lists are decoded in a
        few numpy passes per block instead of per-query Python.

        Counts come first, so the output is allocated once and every
        block writes its lists straight into it, _BATCH_CHUNK queries at
        a time: temporaries stay bounded whatever the batch size."""
        xs = np.asarray(xs, dtype=np.int64)
        order = np.argsort(xs, kind="stable")
        xs_sorted = xs[order]
        # sorted queries form one contiguous run per block
        q_lo = np.searchsorted(xs_sorted, self._los, side="left")
        q_hi = np.searchsorted(xs_sorted, self._his, side="right")
        hit = np.flatnonzero(q_hi > q_lo)
        counts = np.zeros(xs.size, dtype=np.int64)
        for b in hit:
            k = xs_sorted[q_lo[b]:q_hi[b]] - self._los[b]
            ip = self._indptr[b]
            counts[order[q_lo[b]:q_hi[b]]] = self._at(ip, k + 1) - self._at(ip, k)
        out_starts = np.cumsum(counts) - counts
        flat = np.empty(int(counts.sum()), dtype=np.int64)
        for b in hit:
            ip, off, buf = self._indptr[b], self._boffs[b], self._bufs[b]
            # dense query sets re-decode the same lists many times under
            # the per-segment gather below; once the queries cover a
            # meaningful fraction of the block (or the block is already
            # decoded), one memoized whole-block decode + slices wins
            n_blk = int(self._his[b] - self._los[b] + 1)
            dec = None
            if (int(b) in getattr(self, "_dec_cache", {})
                    or (q_hi[b] - q_lo[b]) * 20 >= n_blk):
                dec = self._decoded_block(int(b))
            for c0 in range(q_lo[b], q_hi[b], _BATCH_CHUNK):
                c1 = min(c0 + _BATCH_CHUNK, q_hi[b])
                idx = order[c0:c1]
                cnt = counts[idx]
                nz = cnt > 0
                if not nz.any():
                    continue
                idx, cnt = idx[nz], cnt[nz]
                q = xs_sorted[c0:c1][nz]
                k = q - self._los[b]
                if dec is not None:
                    vals = dec[_spans(np.asarray(self._at(ip, k), dtype=np.int64), cnt)]
                else:
                    # gather queried segments into one compact byte
                    # buffer (empty lists own no bytes)
                    off_k = np.asarray(self._at(off, k), dtype=np.int64)
                    seg_lens = np.asarray(self._at(off, k + 1), dtype=np.int64) - off_k
                    raw = varint_decode(buf[_spans(off_k, seg_lens)])
                    head_pos = np.cumsum(cnt) - cnt
                    vals = raw.astype(np.int64) + 1
                    vals[head_pos] = zigzag_decode(raw[head_pos]) + q
                    csum = np.cumsum(vals)
                    base = csum[head_pos] - vals[head_pos]
                    vals = csum - np.repeat(base, cnt)
                flat[_spans(out_starts[idx], cnt)] = vals
        return counts, flat

    def bench_random_queries(self, n_queries: int = 1_000_000, seed: int = 7) -> dict:
        """Reference O32 harness analog (main.rs:70-121): uniform random
        node ids, mean ns/query, point path and batch path."""
        rng = np.random.default_rng(seed)
        xs = rng.integers(0, self.num_nodes, size=n_queries).astype(np.int64)
        # point path (per-query Python + numpy decode)
        sample = xs[: min(20_000, n_queries)]
        t0 = time.perf_counter()
        for x in sample:
            self.successors(int(x))
        point_ns = (time.perf_counter() - t0) / sample.size * 1e9
        # batch path (vectorized)
        t0 = time.perf_counter()
        counts, flat = self.batch_successors(xs)
        batch_ns = (time.perf_counter() - t0) / n_queries * 1e9
        # cached point path (decompressed-block LRU)
        t0 = time.perf_counter()
        for x in sample:
            self.successors_cached(int(x))
        cached_ns = (time.perf_counter() - t0) / sample.size * 1e9
        return {
            "n_queries": int(n_queries),
            "point_ns_per_query": round(point_ns, 1),
            "cached_point_ns_per_query": round(cached_ns, 1),
            "batch_ns_per_query": round(batch_ns, 1),
            "edges_touched": int(counts.sum()),
            "compressed_bytes_per_edge": round(
                self.compressed_bytes / max(self.num_arcs, 1), 3
            ),
        }


def _block_reader_cls(codec: str):
    """The per-block random-access reader for a codec family — all
    three share the (stream, offsets, params, node_base) constructor
    and outdegree/successors surface."""
    if codec == "bv":
        from webgraph_spark.bvgraph import BVGraphReader

        return BVGraphReader
    if codec in ("huff", "huffman"):
        from webgraph_spark.bvgraph_huffman import HuffBVGraphReader

        return HuffBVGraphReader
    if codec in ("zuck", "zuckerli"):
        from webgraph_spark.zuckerli import ZuckerliReader

        return ZuckerliReader
    raise ValueError(f"unknown codec {codec!r}")


def _block_lockstep_decoder(codec: str):
    """The whole-block numpy lockstep decoder for a codec family
    (bvdecode.py) — (stream, bit_offsets, node_lo, n_nodes, params) ->
    node-grouped (src, dst) arrays."""
    from webgraph_spark import bvdecode

    if codec == "bv":
        return bvdecode.decode_block
    if codec in ("huff", "huffman"):
        return bvdecode.decode_block_huff
    if codec in ("zuck", "zuckerli"):
        return bvdecode.decode_block_zuck
    raise ValueError(f"unknown codec {codec!r}")


class BvLocalIndex:
    """Random-access serving path over entropy-coded CSR blocks —
    build_csr_bv (default), build_csr_huff, or build_csr_zuck via the
    `codec` switch; the density options previously had no single-node
    point-query surface. A point query random-accesses exactly one list
    via the block's per-node bit_offsets, resolving reference chains
    recursively (bounded by max_ref_count) like the reference's entry
    point B (bvgraph.rs:732-978; zuckerli_in.rs random access)."""

    def __init__(self, blocks_rows, codec: str = "bv"):
        from webgraph_spark.bvgraph import BVGraphParams

        reader_cls = _block_reader_cls(codec)
        rows = sorted(blocks_rows, key=lambda r: r["node_lo"])
        self._codec = codec
        self._los = np.array([r["node_lo"] for r in rows], dtype=np.int64)
        self._his = np.array([r["node_hi"] for r in rows], dtype=np.int64)
        self._streams = [bytes(r["stream"]) for r in rows]
        self._bit_offs = [
            np.asarray(r["bit_offsets"], dtype=np.int64) for r in rows
        ]
        self._params = [
            BVGraphParams(nodes=int(r["n_nodes"]), arcs=int(r["n_edges"]))
            for r in rows
        ]
        self._readers = [
            reader_cls(s, o, p, node_base=int(lo))
            for s, o, p, lo in zip(
                self._streams, self._bit_offs, self._params, self._los
            )
        ]
        self._dec_cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self.num_nodes = int(self._his[-1] + 1) if len(rows) else 0
        self.num_arcs = int(sum(r["n_edges"] for r in rows))
        self.compressed_bytes = int(sum(len(b) for b in self._streams))

    @classmethod
    def from_blocks(cls, blocks_df, codec: str = "bv") -> "BvLocalIndex":
        """blocks_df: DataFrame from build_csr_bv / build_csr_huff /
        build_csr_zuck (or their parquet tables)."""
        return cls([r.asDict() for r in blocks_df.collect()], codec=codec)

    def _block_of(self, x: int) -> int:
        i = int(np.searchsorted(self._los, x, side="right")) - 1
        if i < 0 or x > self._his[i]:
            return -1
        return i

    def outdegree(self, x: int) -> int:
        i = self._block_of(x)
        return 0 if i < 0 else self._readers[i].outdegree(x)

    def successors(self, x: int) -> np.ndarray:
        i = self._block_of(x)
        if i < 0:
            return np.empty(0, dtype=np.int64)
        return np.asarray(self._readers[i].successors(x), dtype=np.int64)

    def _decoded_block(self, i: int) -> tuple[np.ndarray, np.ndarray]:
        """Memoized whole-block decode -> (indptr, flat dst), node-
        grouped. First touch pays one numpy lockstep pass over the
        block (bvdecode — the same kernel the distributed decode_csr_*
        scans use); after that every list is an array slice. Trades
        ~8 bytes/edge of RAM per touched block, like
        CsrLocalIndex._decoded_block. Falls back to the scalar reader
        if the block's coding set has no lockstep driver."""
        hit = self._dec_cache.get(i)
        if hit is None:
            lo = int(self._los[i])
            n = self._params[i].nodes
            try:
                src, dst = _block_lockstep_decoder(self._codec)(
                    self._streams[i], self._bit_offs[i], lo, n,
                    self._params[i],
                )
                counts = np.bincount(src - lo, minlength=n)
            except ValueError:  # non-default coding set
                lists = [
                    np.asarray(self._readers[i].successors(lo + k),
                               dtype=np.int64)
                    for k in range(n)
                ]
                counts = np.array([a.size for a in lists], dtype=np.int64)
                dst = (np.concatenate(lists) if counts.any()
                       else np.empty(0, dtype=np.int64))
            indptr = np.concatenate(
                [np.zeros(1, dtype=np.int64), np.cumsum(counts)]
            ).astype(np.int64)
            hit = (indptr, dst)
            self._dec_cache[i] = hit
        return hit

    def successors_cached(self, x: int) -> np.ndarray:
        """Point query against the decoded-block cache (slice-speed
        after the block's first touch)."""
        i = self._block_of(x)
        if i < 0:
            return np.empty(0, dtype=np.int64)
        indptr, flat = self._decoded_block(i)
        k = x - int(self._los[i])
        return flat[int(indptr[k]):int(indptr[k + 1])]

    def batch_successors(self, xs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Vectorized bulk random access over entropy-coded blocks:
        returns (counts, concatenated successors) aligned with xs —
        the same contract as CsrLocalIndex.batch_successors. Touched
        blocks decode once through the lockstep kernel; per-query work
        is pure numpy gather/scatter."""
        xs = np.asarray(xs, dtype=np.int64)
        order = np.argsort(xs, kind="stable")
        xs_sorted = xs[order]
        q_lo = np.searchsorted(xs_sorted, self._los, side="left")
        q_hi = np.searchsorted(xs_sorted, self._his, side="right")
        hit = np.flatnonzero(q_hi > q_lo)
        counts = np.zeros(xs.size, dtype=np.int64)
        for b in hit:
            indptr, _ = self._decoded_block(int(b))
            k = xs_sorted[q_lo[b]:q_hi[b]] - self._los[b]
            counts[order[q_lo[b]:q_hi[b]]] = indptr[k + 1] - indptr[k]
        out_starts = np.cumsum(counts) - counts
        flat_out = np.empty(int(counts.sum()), dtype=np.int64)
        for b in hit:
            indptr, flat = self._decoded_block(int(b))
            for c0 in range(q_lo[b], q_hi[b], _BATCH_CHUNK):
                c1 = min(c0 + _BATCH_CHUNK, q_hi[b])
                idx = order[c0:c1]
                cnt = counts[idx]
                nz = cnt > 0
                k = xs_sorted[c0:c1][nz] - self._los[b]
                flat_out[_spans(out_starts[idx[nz]], cnt[nz])] = (
                    flat[_spans(indptr[k], cnt[nz])])
        return counts, flat_out

    def bench_random_queries(self, n_queries: int = 100_000, seed: int = 7) -> dict:
        rng = np.random.default_rng(seed)
        xs = rng.integers(0, self.num_nodes, size=n_queries).astype(np.int64)
        sample = xs[: min(20_000, n_queries)]
        t0 = time.perf_counter()
        touched = 0
        for x in sample:
            touched += self.successors(int(x)).size
        point_ns = (time.perf_counter() - t0) / sample.size * 1e9
        t0 = time.perf_counter()
        counts, _flat = self.batch_successors(xs)
        batch_ns = (time.perf_counter() - t0) / n_queries * 1e9
        return {
            "n_queries": int(n_queries),
            "point_ns_per_query": round(point_ns, 1),
            "batch_ns_per_query": round(batch_ns, 1),
            "edges_touched": int(counts.sum()),
            "compressed_bytes_per_edge": round(
                self.compressed_bytes / max(self.num_arcs, 1), 3
            ),
        }
