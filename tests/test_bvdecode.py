"""Vectorized BV block decoder vs the scalar reference reader.

decode_block must reproduce BVGraphReader.iter_lists bit-for-bit on
every graph shape the encoder can emit: reference chains (depth up to
max_ref_count), copy blocks with/without tails, intervals, zig-zag
first residuals, empty lists, hub lists long enough to trigger the
scalar lockstep tail, and non-zero node_base blocks.
"""

import numpy as np
import pytest

from webgraph_spark.bvdecode import decode_block, supports
from webgraph_spark.bvgraph import BVGraphParams, BVGraphReader, encode_graph


def _check(adj, n, base=0, params=None):
    stream, offs, out = encode_graph(adj, n, params, node_base=base)
    src, dst = decode_block(stream, offs, base, n, out)
    reader = BVGraphReader(stream, offs, out, node_base=base)
    pos = 0
    for x, succ in reader.iter_lists(base, base + n):
        got = dst[pos: pos + len(succ)].tolist()
        assert got == succ, f"node {x}: {got[:8]} != {succ[:8]}"
        assert (src[pos: pos + len(succ)] == x).all()
        pos += len(succ)
    assert pos == len(dst) == out.arcs


def _random_adj(n, avg_deg, seed, base=0, runs=True):
    rng = np.random.default_rng(seed)
    adj = []
    for x in range(base, base + n):
        d = int(rng.poisson(avg_deg))
        if d == 0 and rng.random() < 0.7:
            continue
        succ = set(rng.integers(base, base + n, size=max(d, 1)).tolist())
        if runs and rng.random() < 0.5:
            start = int(rng.integers(base, base + max(1, n - 25)))
            succ |= set(range(start, start + int(rng.integers(4, 18))))
        if succ:
            adj.append((x, sorted(succ)))
    return adj


@pytest.mark.parametrize("seed", range(6))
@pytest.mark.parametrize("base", [0, 12345])
def test_matches_scalar_random(seed, base):
    _check(_random_adj(300, 6, seed, base=base), 300, base=base)


def test_web_like_with_hubs_and_shared_lists():
    rng = np.random.default_rng(2)
    n = 3000
    shared = sorted(set(rng.integers(0, n, 60).tolist()))
    adj = []
    for x in range(n):
        succ = set(
            ((x + rng.integers(1, 200, size=int(rng.pareto(1.3) * 3 + 1))) % n)
            .tolist()
        )
        if rng.random() < 0.4:
            succ |= set(shared)  # encourages reference chains
        if rng.random() < 0.5:
            s = int(rng.integers(0, n - 20))
            succ |= set(range(s, s + 12))  # intervals
        succ.discard(x)
        if succ:
            adj.append((x, sorted(succ)))
    _check(adj, n)


def test_hub_triggers_scalar_lockstep_tail():
    # one list far longer than the rest: the residual lockstep active
    # set collapses to 1 and must hand off to the scalar tail
    rng = np.random.default_rng(3)
    hub = sorted(set(rng.integers(0, 200000, 30000).tolist()))
    adj = [(0, hub)] + [
        (x, sorted(set(rng.integers(0, 200000, 4).tolist())))
        for x in range(1, 50)
    ]
    _check(adj, 50)


def test_empty_and_singleton_lists():
    _check([(1, [5]), (4, [0, 1, 2, 3, 4, 5, 6, 7])], 10)
    _check([], 5)
    _check([(0, [1])], 2)


def test_identical_consecutive_lists_max_ref_chain():
    # identical lists produce pure-copy references (no extras at all);
    # chains bounded by max_ref_count force multi-level resolution
    lst = sorted({3, 9, 17, 40, 41, 42, 43, 44, 80, 99})
    adj = [(x, lst) for x in range(30)]
    _check(adj, 30)


def test_negative_first_residual_and_interval():
    # successors all below the node id: zig-zag first codes go negative
    adj = [(50, [1, 2, 3, 4, 5, 10, 20]), (51, [1, 2, 3, 4, 5, 10, 20])]
    _check(adj, 60)


def test_nondefault_codings_rejected():
    p = BVGraphParams(residual_coding="gamma")
    assert not supports(p)
    stream, offs, out = encode_graph([(0, [1, 2])], 3, p)
    with pytest.raises(ValueError):
        decode_block(stream, offs, 0, 3, out)


# ---------------------------------------------------------------------------
# hybrid Huffman-BVGraph lockstep decoder (decode_block_huff)
# ---------------------------------------------------------------------------


def _check_huff(adj, n, base=0):
    from webgraph_spark.bvdecode import decode_block_huff
    from webgraph_spark.bvgraph_huffman import (
        HuffBVGraphReader,
        encode_graph_huffman,
    )

    stream, offs, out = encode_graph_huffman(adj, n, node_base=base)
    src, dst = decode_block_huff(stream, offs, base, n, out)
    reader = HuffBVGraphReader(stream, offs, out, node_base=base)
    pos = 0
    for x, succ in reader.iter_lists(base, base + n):
        got = dst[pos: pos + len(succ)].tolist()
        assert got == succ, f"node {x}: {got[:8]} != {succ[:8]}"
        assert (src[pos: pos + len(succ)] == x).all()
        pos += len(succ)
    assert pos == len(dst) == out.arcs


@pytest.mark.parametrize("seed", range(4))
@pytest.mark.parametrize("base", [0, 4321])
def test_huff_matches_scalar_random(seed, base):
    _check_huff(_random_adj(250, 6, seed, base=base), 250, base=base)


def test_huff_hub_scalar_tail_with_chained_contexts():
    # long residual run forces the scalar tail mid-chain: the tail must
    # continue from the per-lane prev-value context, not restart
    rng = np.random.default_rng(5)
    hub = sorted(set(rng.integers(0, 100000, 20000).tolist()))
    adj = [(0, hub)] + [
        (x, sorted(set(rng.integers(0, 100000, 5).tolist())))
        for x in range(1, 40)
    ]
    _check_huff(adj, 40)


def test_huff_empty_singleton_and_ref_chains():
    _check_huff([(1, [5]), (4, list(range(8)))], 10)
    _check_huff([], 5)
    lst = sorted({3, 9, 17, 40, 41, 42, 43, 44, 80, 99})
    _check_huff([(x, lst) for x in range(30)], 30)
    # all-below-node ids: zig-zag negatives in intervals + residuals
    _check_huff([(50, [1, 2, 3, 4, 5, 10, 20]),
                 (51, [1, 2, 3, 4, 5, 10, 20])], 60)


# ---------------------------------------------------------------------------
# Zuckerli partial-lockstep decoder (decode_block_zuck, r5)
# ---------------------------------------------------------------------------


def _check_zuck(adj, n, base=0, min_il=None):
    from webgraph_spark.bvdecode import decode_block_zuck
    from webgraph_spark.zuckerli import ZuckerliReader, encode_graph_zuckerli

    p = BVGraphParams() if min_il is None else BVGraphParams(
        min_interval_len=min_il
    )
    stream, offs, out = encode_graph_zuckerli(adj, n, p, node_base=base)
    src, dst = decode_block_zuck(stream, offs, base, n, out)
    reader = ZuckerliReader(stream, offs, out, node_base=base)
    pos = 0
    for x, succ in reader.iter_lists(base, base + n):
        got = dst[pos: pos + len(succ)].tolist()
        assert got == succ, f"node {x}: {got[:8]} != {succ[:8]}"
        assert (src[pos: pos + len(succ)] == x).all()
        pos += len(succ)
    assert pos == len(dst) == out.arcs


@pytest.mark.parametrize("seed", range(4))
@pytest.mark.parametrize("base", [0, 4321])
def test_zuck_matches_scalar_random(seed, base):
    _check_zuck(_random_adj(250, 6, seed, base=base), 250, base=base)


def test_zuck_rle_heavy_runs():
    # long consecutive runs -> zero-delta chains -> RLE records; also
    # runs whose length is exactly min_interval_len (RLE value 0)
    rng = np.random.default_rng(7)
    adj = []
    for x in range(400):
        succ = set()
        if rng.random() < 0.9:
            st = int(rng.integers(0, 350))
            succ |= set(range(st, st + int(rng.integers(4, 40))))
        succ |= set(rng.integers(0, 400, int(rng.integers(0, 5))).tolist())
        if succ:
            adj.append((x, sorted(succ)))
    _check_zuck(adj, 400)
    # exact-threshold runs with default min_interval_len=4: a run of 5
    # consecutive values = 4 zero deltas = RLE(0) after the threshold
    _check_zuck([(0, list(range(10, 15))), (1, list(range(10, 15)))], 4)


def test_zuck_reference_interleave_scalar_path():
    # strong locality forces copy-interleaved referenced lists: those
    # must route through the scalar path resolving targets from the
    # already-final lockstep output
    rng = np.random.default_rng(9)
    adj = []
    for x in range(500):
        succ = set(
            int(v)
            for v in np.clip(x + rng.integers(-15, 16, rng.integers(1, 12)),
                             0, 499)
        )
        if rng.random() < 0.5:
            succ |= set(range(x, min(x + int(rng.integers(4, 20)), 500)))
        adj.append((x, sorted(succ)))
    _check_zuck(adj, 500)


def test_zuck_hub_scalar_tail_mid_chain():
    # the lockstep tail handoff must resume mid-chain (last-delta ctx,
    # zero-run counter, RLE skip budget all live state)
    rng = np.random.default_rng(13)
    hub = sorted(set(rng.integers(0, 100000, 20000).tolist())
                 | set(range(5000, 5600)))
    adj = [(0, hub)] + [
        (x, sorted(set(rng.integers(0, 100000, 5).tolist())))
        for x in range(1, 40)
    ]
    _check_zuck(adj, 40)


def test_zuck_empty_singleton_and_chains():
    _check_zuck([(1, [5]), (4, list(range(8)))], 10)
    _check_zuck([], 5)
    lst = sorted({3, 9, 17, 40, 41, 42, 43, 44, 80, 99})
    _check_zuck([(x, lst) for x in range(30)], 30)
    _check_zuck([(50, [1, 2, 3, 4, 5, 10, 20]),
                 (51, [1, 2, 3, 4, 5, 10, 20])], 60)


# ---------------------------------------------------------------------------
# lanes decode: only the requested lists plus their reference closure
# ---------------------------------------------------------------------------


def _encoder_and_decoder(codec):
    from webgraph_spark import bvdecode
    from webgraph_spark.bvgraph_huffman import encode_graph_huffman
    from webgraph_spark.zuckerli import encode_graph_zuckerli

    return {
        "bv": (encode_graph, bvdecode.decode_block),
        "huff": (encode_graph_huffman, bvdecode.decode_block_huff),
        "zuck": (encode_graph_zuckerli, bvdecode.decode_block_zuck),
    }[codec]


def _check_lanes(codec, adj, n, base=0, extra_lanes=()):
    """Every lanes decode equals the matching slices of the whole-block
    decode: random subsets of several sizes plus the given lanes."""
    encode, decode = _encoder_and_decoder(codec)
    stream, offs, out = encode(adj, n, node_base=base)
    src, dst = decode(stream, offs, base, n, out)
    indptr = np.searchsorted(src, base + np.arange(n + 1))
    rng = np.random.default_rng(n)
    subsets = [np.sort(rng.choice(n, size=s, replace=False))
               for s in {1, 3, max(n // 5, 1), n}]
    subsets += [np.array(sorted(ls), dtype=np.int64) for ls in extra_lanes]
    for lanes in subsets:
        s2, d2 = decode(stream, offs, base, n, out, lanes=lanes)
        want = np.concatenate([dst[indptr[k]:indptr[k + 1]] for k in lanes])
        assert np.array_equal(d2, want), (codec, lanes[:8])
        assert np.array_equal(
            s2, np.repeat(base + lanes, np.diff(indptr)[lanes]))


@pytest.mark.parametrize("codec", ["bv", "huff", "zuck"])
@pytest.mark.parametrize("base", [0, 777])
def test_lanes_match_whole_block_random(codec, base):
    _check_lanes(codec, _random_adj(300, 6, 3, base=base), 300, base=base)


@pytest.mark.parametrize("codec", ["bv", "huff", "zuck"])
def test_lanes_ref_chains_at_max_ref_count(codec):
    # identical lists: every list references its predecessor until the
    # chain hits max_ref_count, so a lone lane pulls in a whole chain
    lst = sorted({3, 9, 17, 40, 41, 42, 43, 44, 80, 99})
    adj = [(x, lst) for x in range(30)]
    _check_lanes(codec, adj, 30, extra_lanes=[[29], [3, 7], [0, 29]])


@pytest.mark.parametrize("codec", ["bv", "huff", "zuck"])
def test_lanes_empty_lists_and_hub_tail(codec):
    rng = np.random.default_rng(5)
    hub = sorted(set(rng.integers(0, 100000, 8000).tolist())
                 | set(range(5000, 5300)))
    adj = [(0, hub)] + [
        (x, sorted(set(rng.integers(0, 100000, 5).tolist())))
        for x in range(1, 200) if x % 3
    ]
    # lanes of empty lists only, the hub alone, the hub with short lists
    _check_lanes(codec, adj, 200,
                 extra_lanes=[[3, 6, 9], [0], [0] + list(range(1, 200, 2))])


@pytest.mark.parametrize("codec", ["bv", "huff", "zuck"])
def test_lanes_web_like_reference_heavy(codec):
    rng = np.random.default_rng(9)
    adj = []
    for x in range(400):
        succ = set(int(v) for v in np.clip(
            x + rng.integers(-15, 16, rng.integers(1, 12)), 0, 399))
        if rng.random() < 0.5:
            succ |= set(range(x, min(x + int(rng.integers(4, 20)), 400)))
        adj.append((x, sorted(succ)))
    _check_lanes(codec, adj, 400)


def test_closure_bounded_by_max_ref_count():
    from webgraph_spark.bvdecode import _closure

    # node i references i - 1 for i % 4 != 0: chains of length 3
    ref = np.array([0 if i % 4 == 0 else 1 for i in range(12)])
    reads = []

    def headers(rows):
        reads.append(rows.tolist())
        return np.ones(rows.size, np.int64), ref[rows], np.zeros(rows.size, np.int64)

    rows, deg, r, P, tref = _closure(headers, np.array([7, 9]), 3)
    assert rows.tolist() == [4, 5, 6, 7, 8, 9]
    # the lanes, then one read per chain level: max_ref_count of them
    assert reads == [[7, 9], [6, 8], [5], [4]]
    assert (rows[tref] == rows - r).all()
    # a chain longer than max_ref_count is a malformed block
    with pytest.raises(ValueError):
        _closure(headers, np.array([7]), 2)
