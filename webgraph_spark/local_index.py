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
— the mode a feature-serving pipeline would use — and keeps the
reference's rule of decoding only what is asked for: the distinct ids
are decoded once each, block by block (a byte-segment gather for
varint; a lanes decode of just those lists and their reference closure
for BV / Huffman / Zuckerli, bvdecode), then expanded back to query
order. It fills no cache; only `successors_cached` keeps whole decoded
blocks. `bench_random_queries` reproduces the reference's
1M-random-query harness for BENCH.md.
"""

from __future__ import annotations

import time

import numpy as np

from webgraph_spark.bvdecode import _segs, huff_luts
from webgraph_spark.codec import decode_one_list, varint_decode, zigzag_decode


def _batch(xs, los, his, block_lists) -> tuple[np.ndarray, np.ndarray]:
    """Bulk random access shared by both indexes: the distinct ids of
    xs, grouped by block, go through block_lists(b, sorted in-block
    indices) -> (counts, concatenated lists), and the lists are then
    expanded back to xs order (a repeated id repeats its list, an id
    outside every block gets an empty one). Working memory is the
    distinct lists (plus, for entropy codecs, their reference closure)
    and the output; nothing outlives the call."""
    xs = np.asarray(xs, dtype=np.int64).ravel()
    uq, inv = np.unique(xs, return_inverse=True)
    ucnt = np.zeros(uq.size, dtype=np.int64)
    parts = []
    blk = np.searchsorted(los, uq, side="right") - 1
    for b in np.unique(blk[blk >= 0]).tolist():
        s = int(np.searchsorted(uq, los[b]))
        e = int(np.searchsorted(uq, his[b], side="right"))
        if s < e:
            ucnt[s:e], vals = block_lists(b, uq[s:e] - los[b])
            parts.append(vals)
    uflat = np.concatenate(parts) if parts else np.empty(0, dtype=np.int64)
    counts = ucnt[inv]
    return counts, uflat[_segs((np.cumsum(ucnt) - ucnt)[inv], counts)]


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
        # whole-block decodes, filled only by successors_cached
        self._dec_cache: dict[int, np.ndarray] = {}

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
        successors) aligned with xs. Each distinct queried list is
        decoded once (see _batch); nothing is cached."""
        return _batch(xs, self._los, self._his, self._block_lists)

    def _block_lists(self, b: int, k: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(counts, concatenated lists) of block b's sorted, unique
        in-block indices k: sliced from the block's cached decode when
        successors_cached made one, else the queried byte segments are
        gathered into one buffer and decoded in a few numpy passes."""
        ip, off = self._indptr[b], self._boffs[b]
        first = np.asarray(self._at(ip, k), dtype=np.int64)
        cnt = np.asarray(self._at(ip, k + 1), dtype=np.int64) - first
        dec = self._dec_cache.get(b)
        if dec is not None:
            return cnt, dec[_segs(first, cnt)]
        off_k = np.asarray(self._at(off, k), dtype=np.int64)
        seg_lens = np.asarray(self._at(off, k + 1), dtype=np.int64) - off_k
        raw = varint_decode(self._bufs[b][_segs(off_k, seg_lens)])
        # heads of each nonempty list inside the decoded value array
        nz = cnt > 0
        head_pos = np.cumsum(cnt[nz]) - cnt[nz]
        vals = raw.astype(np.int64) + 1
        vals[head_pos] = zigzag_decode(raw[head_pos]) + self._los[b] + k[nz]
        csum = np.cumsum(vals)
        base = csum[head_pos] - vals[head_pos]
        return cnt, csum - np.repeat(base, cnt[nz])

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
    point B (bvgraph.rs:732-978; zuckerli_in.rs random access). A batch
    decodes its distinct lists plus their reference closure through
    the numpy lockstep decoders' lanes mode. Memory kept per block: the
    Huffman decode tables once a batch or a whole-block decode used
    them, and the whole decoded block once successors_cached touched it."""

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
        self._lockstep = _block_lockstep_decoder(codec)
        # whole-block decodes, filled only by successors_cached
        self._dec_cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self._lut_cache: dict[int, tuple] = {}
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
        CsrLocalIndex._decoded_block."""
        hit = self._dec_cache.get(i)
        if hit is None:
            src, dst = self._decode(i, None)
            counts = np.bincount(src - int(self._los[i]),
                                 minlength=self._params[i].nodes)
            indptr = np.zeros(counts.size + 1, dtype=np.int64)
            np.cumsum(counts, out=indptr[1:])
            hit = (indptr, dst)
            self._dec_cache[i] = hit
        return hit

    def _decode(self, i: int, lanes) -> tuple[np.ndarray, np.ndarray]:
        """Block i's lists at the sorted in-block indices lanes (all of
        them when None) -> node-grouped (src, dst), through the codec's
        lockstep decoder; a coding set without one falls back to the
        scalar reader for just those lists and their reference chains."""
        lo = int(self._los[i])
        n = self._params[i].nodes
        luts = {} if self._codec == "bv" else {"luts": self._luts(i)}
        try:
            return self._lockstep(self._streams[i], self._bit_offs[i], lo, n,
                                  self._params[i], lanes=lanes, **luts)
        except ValueError:  # non-default coding set
            ks = np.arange(n, dtype=np.int64) if lanes is None else lanes
            lists = [np.asarray(self._readers[i].successors(lo + int(k)),
                                dtype=np.int64) for k in ks]
            counts = np.array([a.size for a in lists], dtype=np.int64)
            dst = (np.concatenate(lists) if counts.any()
                   else np.empty(0, dtype=np.int64))
            return np.repeat(lo + ks, counts), dst

    def _luts(self, i: int) -> tuple:
        """Block i's Huffman decode tables, built on first use from the
        headers its reader already parsed (bvdecode.huff_luts; 1 KiB per
        context, ~0.2 MiB per block) and kept for the index's lifetime."""
        hit = self._lut_cache.get(i)
        if hit is None:
            hit = self._lut_cache[i] = huff_luts(self._readers[i].huff)
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
        the same contract as CsrLocalIndex.batch_successors. Each
        distinct queried list is decoded once, together with the lists
        its reference chain reaches (see _batch); no list is cached."""
        return _batch(xs, self._los, self._his, self._block_lists)

    def _block_lists(self, b: int, k: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(counts, concatenated lists) of block b's sorted, unique
        in-block indices k: sliced from the block's cached decode when
        successors_cached made one, else a lanes decode of just those
        lists and their reference closure."""
        hit = self._dec_cache.get(b)
        if hit is not None:
            indptr, flat = hit
            cnt = indptr[k + 1] - indptr[k]
            return cnt, flat[_segs(indptr[k], cnt)]
        src, dst = self._decode(b, k)
        lo = int(self._los[b])
        return np.bincount(np.searchsorted(k, src - lo), minlength=k.size), dst

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
