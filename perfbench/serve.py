"""Serving workload: random-access ``successors(x)`` on a web-shaped
graph, per codec (varint, BV, Zuckerli).

Set-up starts Spark on local[cpus], builds the seeded graph's blocks
with ``csr.build_csr`` / ``build_csr_bv`` / ``build_csr_zuck``, collects
them, stops Spark and loads ``local_index.CsrLocalIndex`` /
``BvLocalIndex`` from the collected rows. A traced run also runs
PageRank (a checkpoint per superstep) and connected components on the
graph before Spark stops, so both workloads report the same layers.

Operations (one closed-loop client, ``serve_graph``; job-synth's traced
run serves the graph its job built the same way):
  * point: ``successors(x)`` on uniform ids, each call timed alone;
  * batch: ``batch_successors`` of 4,096 uniform ids on a freshly built
    index, so the whole-block decode is paid by every batch.
The six (codec, operation) streams run interleaved in short slices over
one window; every result is compared with the generator's adjacency.
"""

from __future__ import annotations

import importlib
import itertools
import os
import time

import numpy as np

from perfbench import algolayers, graphs, oracles, sparkenv
from perfbench.stats import Tracer, percentile_with_floor, rss_mb, summarize

CODECS = ("varint", "bv", "zuck")
BUILDERS = {"varint": "build_csr", "bv": "build_csr_bv", "zuck": "build_csr_zuck"}
POINT_MIN = 2000      # p99 then rests on >= 20 samples beyond it
POINT_MAX = 300_000
TRACED_POINTS = 500
BATCH_SIZE = 4096
BATCH_MIN = 2
WARMUP = 20
SLICE_S = 0.2        # seconds of back-to-back operations per scheduling slice
TRACE_SERVE_S = 4.0  # serving window of a traced run, which reports no end-to-end metric


def build_blocks(edges, codecs, tracer: Tracer) -> tuple[dict, dict]:
    """Blocks of ``codecs`` through ``csr.build_csr*`` on the session of
    ``edges``, collected to the driver -> (rows per codec, seconds per
    builder)."""
    from webgraph_spark import csr

    rows, secs = {}, {}
    for c in codecs:
        name = "csr." + BUILDERS[c]
        t0 = time.perf_counter()
        with tracer.span(name, action="collect"):
            rows[c] = [r.asDict() for r in getattr(csr, BUILDERS[c])(edges).collect()]
        secs[name + ".s"] = time.perf_counter() - t0
    return rows, secs


def make_index(codec: str, rows):
    from webgraph_spark.local_index import BvLocalIndex, CsrLocalIndex

    if codec == "varint":
        return CsrLocalIndex(rows)
    return BvLocalIndex(rows, codec=codec)


class Truth:
    """The generator's adjacency as CSR arrays."""

    def __init__(self, n: int, src: np.ndarray, dst: np.ndarray):
        self.n = n
        self.dst = dst
        self.indptr = oracles.csr_indptr(n, src)

    def succ(self, x: int) -> np.ndarray:
        return self.dst[self.indptr[x]:self.indptr[x + 1]]

    def batch_ok(self, xs, counts, flat) -> bool:
        want_c, want_f = oracles.gather_lists(self.indptr, self.dst, xs)
        return np.array_equal(counts, want_c) and np.array_equal(flat, want_f)


class _Points:
    """Point queries in short slices; each call is timed alone. Ids and
    latencies live in fixed-size arrays, so the client's memory does not
    grow with the number of calls a host manages."""

    min_n = POINT_MIN

    def __init__(self, call, xs: np.ndarray, truth: Truth):
        self.call, self.xs, self.truth = call, xs, truth
        for x in xs[:WARMUP]:
            call(int(x))
        self.pos = WARMUP
        self._lat = np.full(xs.size - WARMUP, np.nan)   # microseconds
        self.failed = 0
        self.busy = 0.0

    @property
    def samples(self) -> np.ndarray:
        return self._lat[:self.pos - WARMUP]

    @property
    def exhausted(self) -> bool:
        return self.pos >= self.xs.size

    def unit(self) -> None:
        # the last id again, untimed: the first call after another task
        # ran pays for caches that task evicted, which a client sending
        # point queries back to back would not
        self.call(int(self.xs[self.pos - 1]))
        t_end = time.perf_counter() + SLICE_S
        while not self.exhausted:
            x = int(self.xs[self.pos])
            t0 = time.perf_counter_ns()
            got = self.call(x)
            dt = time.perf_counter_ns() - t0
            self._lat[self.pos - WARMUP] = dt / 1e3
            self.pos += 1
            self.busy += dt / 1e9
            if not np.array_equal(got, self.truth.succ(x)):
                self.failed += 1
            if time.perf_counter() >= t_end:
                return


class _Batches:
    """Cold batches in short slices: a fresh index per batch, so block
    decode is paid by every batch."""

    min_n = BATCH_MIN
    exhausted = False

    def __init__(self, codec: str, rows, rng, truth: Truth):
        self.codec, self.rows, self.rng, self.truth = codec, rows, rng, truth
        self.samples: list[float] = []   # edges per second
        self.failed = 0
        self.busy = 0.0
        self.edges = 0

    def unit(self) -> None:
        t_end = time.perf_counter() + SLICE_S
        while True:
            idx = make_index(self.codec, self.rows)
            xs = self.rng.integers(0, self.truth.n, BATCH_SIZE)
            t0 = time.perf_counter()
            counts, flat = idx.batch_successors(xs)
            dt = time.perf_counter() - t0
            self.samples.append(flat.size / dt)
            self.busy += dt
            self.edges += flat.size
            if not self.truth.batch_ok(xs, counts, flat):
                self.failed += 1
            if time.perf_counter() >= t_end:
                return


def _progress(task, share: float) -> float:
    return min(len(task.samples) / task.min_n, task.busy / share)


def _interleave(tasks, seconds: float) -> None:
    """Run task units, always the one with the least progress, until each
    has its minimum sample count and its share of ``seconds``. Every
    task's samples are thus spread over the whole window, so host speed
    phases (seconds long on a shared machine) hit all metrics alike."""
    share = seconds / len(tasks)
    while True:
        live = [t for t in tasks if not t.exhausted]
        if not live:
            return
        task = min(live, key=lambda t: _progress(t, share))
        if _progress(task, share) >= 1.0:
            return
        task.unit()


def _take(task, n: int) -> None:
    while len(task.samples) < n and not task.exhausted:
        task.unit()


def _uniform_ids(rng, n: int, count: int) -> np.ndarray:
    """Uniform node ids drawn as shuffled passes over all nodes, so each
    node is queried equally often and a tail percentile does not hinge
    on how many slow lists a sample happened to draw."""
    passes = [rng.permutation(n) for _ in range(-(-count // n))]
    return np.concatenate(passes)[:count]


def run(seed: int, seconds: float, tracer: Tracer, work: str, cpus: int) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    n, src, dst = graphs.web_graph(seed)
    edges_path = os.path.join(work, "edges.parquet")
    pq.write_table(pa.table({"src": src, "dst": dst}), edges_path)

    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = sparkenv.start(work, cpus, "perfbench-serve")
    layer = {"session.get_spark.s": time.perf_counter() - t0}
    algos_s, algos = 0.0, (0, 0, {})
    try:
        edges = spark.read.parquet(edges_path)
        rows, secs = build_blocks(edges, CODECS, tracer)
        layer.update(secs)
        if tracer.enabled:
            t1 = time.perf_counter()
            algos = _algos(spark, edges, src, dst, work, tracer)
            algos_s = time.perf_counter() - t1
    finally:
        sparkenv.stop(spark)
    with tracer.span("local_index.init"):
        indexes = {c: make_index(c, rows[c]) for c in CODECS}
    setup_s = time.perf_counter() - t0 - algos_s
    rss_setup = rss_mb()

    window = min(seconds, TRACE_SERVE_S) if tracer.enabled else seconds
    out = serve_graph(rows, indexes, Truth(n, src, dst), seed, window, tracer)
    layer.update(out["per_layer"])
    layer.update(algos[2])
    out["per_layer"] = layer
    out["attempted"] += algos[0]
    out["failed"] += algos[1]
    out["setup_s"] = setup_s
    out["details"]["rss_mb_after_setup"] = rss_setup
    out["shape"] = oracles.shape_of(n, src, dst, len(rows["varint"]))
    return out


def _algos(spark, edges, src, dst, work, tracer: Tracer):
    """PageRank with a checkpoint per superstep, then connected
    components, on the web graph; checked against the numpy oracles.
    -> (attempted, failed, per-layer metrics)."""
    from webgraph_spark.algos.pagerank import pagerank
    from webgraph_spark.checkpoint import CheckpointManager

    ckpt_dir = os.path.join(work, "ckpt")
    rank_ids, ranks = oracles.pagerank_power(src, dst, algolayers.SUPERSTEPS,
                                             algolayers.ALPHA)
    cc_ids, cc_labels = oracles.min_label_components(src, dst)
    want = {"rank_ids": rank_ids, "ranks": ranks,
            "cc_ids": cc_ids, "cc_labels": cc_labels}
    t0 = time.perf_counter()
    with tracer.span("algos.pagerank.pagerank", action="toArrow"):
        result, info = pagerank(edges, alpha=algolayers.ALPHA, tol=0.0,
                                max_iter=algolayers.SUPERSTEPS,
                                ckpt=CheckpointManager(ckpt_dir))
        got = result.toArrow()
    wall = time.perf_counter() - t0
    failed = not algolayers.ranks_ok(got.column("vertex_id").to_numpy(),
                                     got.column("rank").to_numpy(), want)
    with tracer.span("algos.components.connected_components", action="collect"):
        cc_wall, cc_info, ok = algolayers.components(edges, want)
    return 2, int(failed) + int(not ok), {
        **algolayers.pagerank_layers(wall, info["superstep_secs"]),
        "checkpoint.save_ms": float(np.median(algolayers.checkpoint_ms(ckpt_dir))),
        **algolayers.components_layers(cc_wall, cc_info),
    }


def _geomean(values) -> float:
    return float(np.exp(np.mean(np.log(np.asarray(values, dtype=np.float64)))))


def serve_graph(rows: dict, indexes: dict, truth: Truth, seed: int,
                seconds: float, tracer: Tracer) -> dict:
    """Point and cold-batch serving from every codec's index over one
    window of ``seconds``, then, when tracing, the per-layer probes.

    End-to-end figures pool the codecs: ``latency_ms`` is the geometric
    mean over codecs of the mean point latency, ``edges_per_s`` that of
    the cold-batch edges over batch time, ``bits_per_edge`` that of BV
    and Zuckerli. Means over the whole window rather than medians: on a
    host whose speed flips between phases, a median jumps to whichever
    phase held half the window, a mean moves with the share of each."""
    rngs = {c: np.random.default_rng([seed, 1, i]) for i, c in enumerate(CODECS)}
    points = {c: _Points(indexes[c].successors,
                         _uniform_ids(rngs[c], truth.n, POINT_MAX + WARMUP), truth)
              for c in CODECS}
    batches = {c: _Batches(c, rows[c], rngs[c], truth) for c in CODECS}
    tasks = [*points.values(), *batches.values()]
    _interleave(tasks, seconds)

    arcs = truth.dst.size
    layer, details = {}, {}
    attempted = sum(len(t.samples) for t in tasks)
    failed = sum(t.failed for t in tasks)
    for c in CODECS:
        lat, rates = points[c].samples, batches[c].samples
        layer[f"point_p50_us.{c}"] = float(np.median(lat))
        layer[f"point_p99_us.{c}"] = percentile_with_floor(lat, 99.0)
        layer[f"batch_edges_per_s.{c}"] = batches[c].edges / batches[c].busy
        if c != "varint":
            layer[f"bits_per_edge.{c}"] = 8.0 * _payload_bytes(c, rows[c]) / arcs
        details[c] = {
            "point_us": summarize(lat),
            "point_mean_us": float(np.mean(lat)),
            "batch_edges_per_s": summarize(rates),
            "compressed_bytes": _payload_bytes(c, rows[c]),
        }
        if tracer.enabled:
            ok, bad, lay = _trace_codec(c, rows[c], indexes[c], truth, rngs[c],
                                        tracer)
            attempted += ok
            failed += bad
            layer.update(lay)
    if tracer.enabled:
        layer.update(_ratios(layer))
    e2e = {
        "latency_ms": _geomean([details[c]["point_mean_us"] for c in CODECS]) / 1e3,
        "edges_per_s": _geomean([layer[f"batch_edges_per_s.{c}"] for c in CODECS]),
        "bits_per_edge": _geomean([layer[f"bits_per_edge.{c}"] for c in ("bv", "zuck")]),
    }
    return {"end_to_end": e2e, "per_layer": layer, "attempted": attempted,
            "failed": failed, "details": details}


def _payload_bytes(codec: str, rows) -> int:
    col = "indices" if codec == "varint" else "stream"
    return int(sum(len(r[col]) for r in rows))


# --- traced layers ---------------------------------------------------------

_CHILD = {
    "varint": ("webgraph_spark.local_index", "decode_one_list",
               "codec.decode_one_list"),
    "bv": ("webgraph_spark.bvgraph", "BVGraphReader.successors",
           "bvgraph.BVGraphReader.successors"),
    "zuck": ("webgraph_spark.zuckerli", "ZuckerliReader.successors",
             "zuckerli.ZuckerliReader.successors"),
}


def _owner(module: str, dotted: str):
    obj = importlib.import_module(module)
    *path, attr = dotted.split(".")
    for p in path:
        obj = getattr(obj, p)
    return obj, attr


def _spanned(tracer: Tracer, name: str, fn):
    def call(x):
        with tracer.span(name):
            return fn(x)

    return call


def _trace_codec(c, rows, idx, truth: Truth, rng, tracer: Tracer):
    """Per-layer numbers for one codec; returns (attempted, failed, metrics)."""
    out: dict[str, float] = {}
    attempted = failed = 0
    xs = _uniform_ids(rng, truth.n, TRACED_POINTS + WARMUP)
    owner, attr = _owner(*_CHILD[c][:2])
    child = _CHILD[c][2]

    traced = _Points(_spanned(tracer, "local_index.successors", idx.successors),
                     xs, truth)
    with tracer.patched(owner, attr, child):
        _take(traced, TRACED_POINTS)
    lat = traced.samples
    attempted += len(lat)
    failed += traced.failed
    out[f"{child}.p50_us"] = 1e6 * float(np.median(
        tracer.durations(child, "local_index.successors")))
    out[f"local_index.successors.self_us.{c}"] = 1e6 * float(np.median(
        tracer.self_durations("local_index.successors")[-len(lat):]))
    if c == "varint":
        # the same ids untraced, right after, so both sides see the same
        # host speed phase
        plain = _Points(idx.successors, xs, truth)
        _take(plain, TRACED_POINTS)
        attempted += len(plain.samples)
        failed += plain.failed
        out["trace.overhead_ratio"] = float(np.median(lat) / np.median(plain.samples))

    # cached point path on a fully warm index
    warm = make_index(c, rows)
    for r in rows:
        warm.successors_cached(int(r["node_lo"]))
    cached = _Points(_spanned(tracer, "local_index.successors_cached",
                              warm.successors_cached), xs, truth)
    _take(cached, TRACED_POINTS)
    attempted += len(cached.samples)
    failed += cached.failed
    out[f"local_index.successors_cached.p50_us.{c}"] = float(np.median(cached.samples))

    # one cold batch (wasted decode from block bounds), then a warm one
    fresh = make_index(c, rows)
    q = rng.integers(0, truth.n, BATCH_SIZE)
    with tracer.span("local_index.batch_successors", action="cold"):
        counts, flat = fresh.batch_successors(q)
    failed += not truth.batch_ok(q, counts, flat)
    out[f"local_index.batch_successors.decoded_per_returned.{c}"] = (
        _lists_decoded(fresh, rows, q) / q.size)
    q = rng.integers(0, truth.n, BATCH_SIZE)
    with tracer.span("local_index.batch_successors", action="warm") as sp:
        counts, flat = fresh.batch_successors(q)
    failed += not truth.batch_ok(q, counts, flat)
    attempted += 2
    out[f"local_index.batch_successors.warm_edges_per_s.{c}"] = (
        flat.size / (sp["end"] - sp["start"]))

    ok, bad, scans = _trace_scans(c, rows, truth, tracer)
    out.update(scans)
    return attempted + ok, failed + bad, out


def _lists_decoded(idx, rows, xs) -> int:
    """Lists a batch decoded, from block bounds: a block the index holds
    decoded cost all its lists, any other block only the queried ones."""
    cached = getattr(idx, "_dec_cache", {})
    los = np.array([r["node_lo"] for r in rows])
    his = np.array([r["node_hi"] for r in rows])
    blk = np.searchsorted(los, xs, side="right") - 1
    inside = (blk >= 0) & (xs <= his[np.maximum(blk, 0)])
    total = 0
    for b in np.unique(blk[inside]):
        if int(b) in cached:
            total += int(his[b] - los[b] + 1)
        else:
            total += int(((blk == b) & inside).sum())
    return total


def _trace_scans(c, rows, truth: Truth, tracer: Tracer):
    """Whole-block scans, single core, each checked as a round trip:
    the lockstep decoders and, for BV and Zuckerli, the scalar
    ``iter_lists`` readers they fall back to."""
    from webgraph_spark import bvdecode, codec
    from webgraph_spark.bvgraph import BVGraphParams, BVGraphReader
    from webgraph_spark.zuckerli import ZuckerliReader

    arcs = sum(int(r["n_edges"]) for r in rows)
    attempted = failed = 0

    def block_truth(r):
        lo, hi = int(r["node_lo"]), int(r["node_hi"])
        return truth.dst[truth.indptr[lo]:truth.indptr[hi + 1]]

    def scan(name, decode):
        nonlocal attempted, failed
        with tracer.span(name, action="scan") as sp:
            outs = [decode(r) for r in rows]
        for r, got in zip(rows, outs):
            if isinstance(got, list):  # scalar reader: one list per node
                got = np.fromiter(itertools.chain.from_iterable(got), np.int64)
            attempted += 1
            failed += not np.array_equal(got, block_truth(r))
        return arcs / (sp["end"] - sp["start"])

    def params(r):
        return BVGraphParams(nodes=int(r["n_nodes"]), arcs=int(r["n_edges"]))

    out = {}
    if c == "varint":
        def lockstep(r):
            counts = np.diff(np.asarray(r["indptr"], dtype=np.int64))
            nodes = np.arange(r["node_lo"], r["node_lo"] + counts.size)
            return codec.decode_adjacency(r["indices"], nodes, counts)

        out["codec.decode_adjacency.edges_per_s"] = scan(
            "codec.decode_adjacency", lockstep)
        return attempted, failed, out

    fast = bvdecode.decode_block if c == "bv" else bvdecode.decode_block_zuck
    reader = BVGraphReader if c == "bv" else ZuckerliReader
    fast_name = "bvdecode.decode_block" + ("" if c == "bv" else "_zuck")
    slow_name = ("bvgraph.BVGraphReader" if c == "bv"
                 else "zuckerli.ZuckerliReader") + ".iter_lists"

    def lockstep(r):
        return fast(bytes(r["stream"]), r["bit_offsets"], int(r["node_lo"]),
                    int(r["n_nodes"]), params(r))[1]

    def scalar(r):
        rd = reader(bytes(r["stream"]), r["bit_offsets"], params(r),
                    node_base=int(r["node_lo"]))
        return [s for _, s in rd.iter_lists()]

    out[f"{fast_name}.edges_per_s"] = scan(fast_name, lockstep)
    out[f"{slow_name}.edges_per_s"] = scan(slow_name, scalar)
    return attempted, failed, out


def _ratios(layer: dict) -> dict:
    """Lockstep over scalar, base = the scalar reader's edges/s (the
    base itself is reported as its own metric)."""
    out = {}
    for fast, slow in (
        ("bvdecode.decode_block", "bvgraph.BVGraphReader.iter_lists"),
        ("bvdecode.decode_block_zuck", "zuckerli.ZuckerliReader.iter_lists"),
    ):
        f, s = layer.get(f"{fast}.edges_per_s"), layer.get(f"{slow}.edges_per_s")
        if f and s:
            out[f"{fast}.over_scalar"] = f / s
    return out
