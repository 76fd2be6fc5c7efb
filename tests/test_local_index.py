"""Random-access decode path: byte offsets, single-list decode, and the
driver-side compressed index (reference successors(x) + 1M-query
harness analogs)."""

from __future__ import annotations

import numpy as np
import pytest

from webgraph_spark.codec import (
    adjacency_byte_offsets,
    decode_adjacency,
    decode_one_list,
    encode_adjacency,
)
from webgraph_spark.csr import build_csr, csr_successors
from webgraph_spark.local_index import CsrLocalIndex


def _random_adjacency(n, seed, empty_frac=0.3):
    rng = np.random.default_rng(seed)
    counts = rng.integers(0, 30, size=n)
    counts[rng.random(n) < empty_frac] = 0
    nodes = np.arange(n, dtype=np.int64)
    lists = [
        np.unique(rng.integers(0, n * 3, size=c)) if c else np.empty(0, dtype=np.int64)
        for c in counts
    ]
    counts = np.array([len(x) for x in lists], dtype=np.int64)
    dsts = np.concatenate(lists) if any(counts) else np.empty(0, dtype=np.int64)
    return nodes, counts, dsts.astype(np.int64)


def test_byte_offsets_partition_the_buffer():
    nodes, counts, dsts = _random_adjacency(200, seed=3)
    buf = encode_adjacency(nodes, counts, dsts)
    off = adjacency_byte_offsets(nodes, counts, dsts)
    assert off[0] == 0 and off[-1] == len(buf)
    assert (np.diff(off) >= 0).all()
    assert (np.diff(off)[counts == 0] == 0).all()


def test_decode_one_list_matches_full_decode():
    nodes, counts, dsts = _random_adjacency(300, seed=11)
    buf = encode_adjacency(nodes, counts, dsts)
    off = adjacency_byte_offsets(nodes, counts, dsts)
    full = decode_adjacency(buf, nodes, counts)
    indptr = np.concatenate([[0], np.cumsum(counts)])
    for x in [0, 1, 57, 150, 299]:
        got = decode_one_list(buf, int(off[x]), int(off[x + 1]), int(nodes[x]),
                              int(counts[x]))
        want = full[indptr[x]:indptr[x + 1]]
        assert np.array_equal(got, want), x


def test_local_index_successors_match_edges(spark, small_graph):
    edges, n, src, dst = small_graph
    blocks = build_csr(edges, num_blocks=8)
    idx = CsrLocalIndex.from_blocks(blocks)
    rows = edges.collect()
    adj = {}
    for r in rows:
        adj.setdefault(r.src, []).append(r.dst)
    for x in list(adj)[:25]:
        assert np.array_equal(idx.successors(x), np.array(sorted(adj[x])))
        assert idx.outdegree(x) == len(adj[x])
    # nodes with no out-edges
    no_out = (set(range(n)) - set(adj))
    for x in list(no_out)[:5]:
        assert idx.successors(x).size == 0 and idx.outdegree(x) == 0


def test_local_index_batch_matches_point(spark, small_graph):
    edges, n, src, dst = small_graph
    idx = CsrLocalIndex.from_blocks(build_csr(edges, num_blocks=8))
    rng = np.random.default_rng(5)
    xs = rng.integers(0, n, size=2000).astype(np.int64)
    counts, flat = idx.batch_successors(xs)
    pos = 0
    for i, x in enumerate(xs):
        want = idx.successors(int(x))
        got = flat[pos:pos + counts[i]]
        assert counts[i] == want.size
        assert np.array_equal(got, want), (i, x)
        pos += counts[i]


def test_csr_point_query_uses_single_list(spark, small_graph):
    # cluster-side point lookup still correct with byte_offsets path
    edges, n, src, dst = small_graph
    blocks = build_csr(edges, num_blocks=8)
    some_src = edges.first().src
    got = sorted(r.dst for r in csr_successors(blocks, some_src).collect())
    want = sorted(r.dst for r in edges.filter(f"src = {some_src}").collect())
    assert got == want


def test_bench_harness_runs(spark, small_graph):
    edges, n, src, dst = small_graph
    idx = CsrLocalIndex.from_blocks(build_csr(edges, num_blocks=8))
    res = idx.bench_random_queries(n_queries=20_000, seed=3)
    assert res["edges_touched"] > 0
    assert res["batch_ns_per_query"] < res["point_ns_per_query"]


def test_bv_local_index_matches_csr_index(spark, small_graph):
    """BvLocalIndex (BVGraph-coded blocks) answers point queries
    identically to the varint CsrLocalIndex on the same graph."""
    from webgraph_spark.csr import build_csr_bv
    from webgraph_spark.local_index import BvLocalIndex

    edges, n, src, dst = small_graph
    idx = CsrLocalIndex.from_blocks(build_csr(edges, num_blocks=8))
    bv = BvLocalIndex.from_blocks(build_csr_bv(edges, num_blocks=8))
    assert bv.num_arcs == idx.num_arcs
    rng = np.random.default_rng(9)
    for x in rng.integers(0, n, 60).tolist() + [0, n - 1]:
        assert np.array_equal(bv.successors(int(x)), idx.successors(int(x)))
        assert bv.outdegree(int(x)) == idx.outdegree(int(x))
    stats = bv.bench_random_queries(n_queries=2_000)
    assert stats["point_ns_per_query"] > 0
    assert stats["compressed_bytes_per_edge"] > 0


def test_bv_index_batch_matches_point(spark, small_graph):
    """The entropy-coded serving path answers bulk random access
    (lockstep whole-block decode + slice) identically to the scalar
    per-query readers, for all three codec families — including
    out-of-range ids and zero-outdegree nodes."""
    from webgraph_spark.csr import build_csr_bv, build_csr_huff, build_csr_zuck
    from webgraph_spark.local_index import BvLocalIndex

    edges, n, src, dst = small_graph
    for build, codec in (
        (build_csr_bv, "bv"),
        (build_csr_huff, "huffman"),
        (build_csr_zuck, "zuckerli"),
    ):
        k = BvLocalIndex.from_blocks(build(edges, num_blocks=8), codec=codec)
        rng = np.random.default_rng(17)
        xs = np.concatenate([
            rng.integers(0, n, size=1500),
            [0, n - 1, n, n + 50],  # incl. out-of-range
        ]).astype(np.int64)
        counts, flat = k.batch_successors(xs)
        pos = 0
        for i, x in enumerate(xs):
            want = k.successors(int(x))
            assert counts[i] == want.size, (codec, x)
            assert np.array_equal(flat[pos:pos + counts[i]], want), (codec, x)
            assert np.array_equal(k.successors_cached(int(x)), want), (codec, x)
            pos += counts[i]
        stats = k.bench_random_queries(n_queries=2_000)
        assert stats["batch_ns_per_query"] > 0


def test_entropy_codec_indexes_match_csr_index(spark, small_graph):
    """The huffman and zuckerli block codecs serve point queries through
    the same BvLocalIndex surface, identically to the varint truth."""
    from webgraph_spark.csr import build_csr_huff, build_csr_zuck
    from webgraph_spark.local_index import BvLocalIndex

    edges, n, src, dst = small_graph
    idx = CsrLocalIndex.from_blocks(build_csr(edges, num_blocks=8))
    for build, codec in ((build_csr_huff, "huffman"), (build_csr_zuck, "zuckerli")):
        k = BvLocalIndex.from_blocks(build(edges, num_blocks=8), codec=codec)
        assert k.num_arcs == idx.num_arcs
        rng = np.random.default_rng(11)
        for x in rng.integers(0, n, 40).tolist() + [0, n - 1]:
            assert np.array_equal(
                k.successors(int(x)), idx.successors(int(x))
            ), f"{codec} mismatch at node {x}"
            assert k.outdegree(int(x)) == idx.outdegree(int(x))


# ---------------------------------------------------------------------------
# batch_successors: unique ids -> per-block decode of just those lists
# ---------------------------------------------------------------------------


def _web_edges(n=1200, seed=4):
    """Locality-heavy digraph (copied neighbourhoods, runs, a hub) so the
    entropy codecs emit reference chains, intervals and long lists."""
    rng = np.random.default_rng(seed)
    adj = {}
    for x in range(n):
        if rng.random() < 0.2:
            continue  # empty list
        succ = set(((x + rng.integers(-30, 30, rng.integers(1, 10))) % n).tolist())
        if rng.random() < 0.5:
            s = int(rng.integers(0, n - 20))
            succ |= set(range(s, s + int(rng.integers(4, 16))))
        if x > 0 and rng.random() < 0.4 and adj.get(x - 1):
            succ |= set(adj[x - 1])
        succ.discard(x)
        adj[x] = sorted(succ)
    adj[17] = sorted(set(range(0, n, 2)) - {17})  # hub
    src = np.concatenate([np.full(len(v), k) for k, v in sorted(adj.items())])
    dst = np.concatenate([v for _, v in sorted(adj.items())])
    return n, src.astype(np.int64), dst.astype(np.int64)


def _block_rows(codec, src, dst, n_blocks=4):
    """Blocks over contiguous src ranges, packed by the same kernels
    build_csr* run inside Spark."""
    import pyarrow as pa

    from webgraph_spark import csr

    pack = {"varint": csr._pack_partition, "bv": csr._pack_partition_bv,
            "huff": csr._pack_partition_huff,
            "zuck": csr._pack_partition_zuck}[codec]
    cuts = np.searchsorted(src, np.linspace(0, src.max() + 1, n_blocks + 1))
    rows = []
    for s, e in zip(cuts[:-1], cuts[1:]):
        batch = pa.RecordBatch.from_arrays(
            [pa.array(src[s:e]), pa.array(dst[s:e])], names=["src", "dst"])
        for out in pack(iter([batch])):
            rows.extend(out.to_pylist())
    return rows


@pytest.fixture(scope="module")
def web():
    """(n, src, dst, block rows per codec) of _web_edges."""
    n, src, dst = _web_edges()
    return n, src, dst, {c: _block_rows(c, src, dst)
                         for c in ("varint", "bv", "huff", "zuck")}


def _index(rows, codec, ef=False):
    from webgraph_spark.local_index import BvLocalIndex

    if codec == "varint":
        return CsrLocalIndex(rows[codec], ef_offsets=ef)
    return BvLocalIndex(rows[codec], codec=codec)


def _batches(n, lo, hi):
    rng = np.random.default_rng(21)
    sparse = rng.choice(n, 25, replace=False)
    return {
        "sparse": sparse,
        "duplicates": np.concatenate([sparse, sparse[::-1], [17, 17, 17]]),
        "out_of_range": np.array([-5, -1, 0, n - 1, n, n + 40, 10**9, 5]),
        "whole_block": np.arange(lo, hi + 1),
        "dense_random": rng.integers(0, n, 3000),
        "empty": np.empty(0, dtype=np.int64),
    }


@pytest.mark.parametrize("codec", ["varint", "bv", "huff", "zuck"])
def test_batch_successors_matches_point_queries(web, codec):
    n, src, dst, rows = web
    truth = np.split(dst, np.searchsorted(src, np.arange(1, n)))
    block = rows[codec][1]
    idx = _index(rows, codec)
    for name, xs in _batches(n, block["node_lo"], block["node_hi"]).items():
        counts, flat = idx.batch_successors(xs)
        assert counts.shape == (len(xs),), name
        want = [idx.successors(int(x)) for x in xs]
        assert counts.tolist() == [w.size for w in want], (codec, name)
        assert np.array_equal(
            flat, np.concatenate(want) if want else np.empty(0)), (codec, name)
        for x, w in zip(xs.tolist(), want):
            assert np.array_equal(w, truth[x] if 0 <= x < n else []), (codec, x)
        # the batch path fills no whole-block cache: its working memory
        # ends with the call
        assert idx._dec_cache == {}, (codec, name)


def test_batch_successors_ef_offsets_matches_plain(web):
    n, _, _, rows = web
    plain, ef = _index(rows, "varint"), _index(rows, "varint", ef=True)
    for name, xs in _batches(n, 0, 99).items():
        c1, f1 = plain.batch_successors(xs)
        c2, f2 = ef.batch_successors(xs)
        assert np.array_equal(c1, c2) and np.array_equal(f1, f2), name
    assert ef._dec_cache == {}


@pytest.mark.parametrize("codec", ["varint", "bv", "huff", "zuck"])
def test_batch_successors_after_successors_cached(web, codec):
    # a block warmed by successors_cached serves the batch from its
    # cache; the cold blocks still decode just the queried lists
    n, _, _, rows = web
    xs = np.random.default_rng(3).integers(0, n, 2000)
    cold_counts, cold_flat = _index(rows, codec).batch_successors(xs)
    idx = _index(rows, codec)
    warm_block = rows[codec][2]
    idx.successors_cached(int(warm_block["node_lo"]))
    assert list(idx._dec_cache) == [2]
    counts, flat = idx.batch_successors(xs)
    assert np.array_equal(counts, cold_counts)
    assert np.array_equal(flat, cold_flat)
    assert list(idx._dec_cache) == [2]
