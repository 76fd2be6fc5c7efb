"""The spark-submit job surface: ``job.run`` PageRank over a seeded
synthetic source table.

Set-up starts the session and writes ``synth.synth_sources(seed=...)``
to parquet. The measured operation is ``job.run(["--algorithm",
"pagerank", ...])``: ingest with sha256, derive edges, dense ids, build
and write the CSR, PageRank with a checkpoint every superstep, write the
ranks. It runs at least twice in the same session, and the figures
average over the runs. Outputs are checked against numpy oracles
computed from the source table alone, in a separate process
(``python3 -m perfbench.oracles``).

A traced run first replays the job's pipeline through the same public
functions in the same order, forcing each stage with an action so that
every layer gets its own span, then runs the untraced job and reports
what the replay and the tracing cost over it. It then runs connected
components on the job's edges, builds BV and Zuckerli blocks of them and
serves the graph the job built from all three codecs, so the serving
layers are measured on this graph's shape too.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import time
from contextlib import contextmanager

import numpy as np
import pyarrow.parquet as pq

from perfbench import algolayers, oracles, serve, sparkenv
from perfbench.stats import Tracer, rss_mb, summarize

N_FILES = 10_000
JOBS_MIN = 2


@contextmanager
def _timed_pagerank(record: dict):
    """Time the whole ``algos.pagerank.pagerank`` call that ``job.run``
    makes (it imports the function at call time)."""
    mod = importlib.import_module("webgraph_spark.algos.pagerank")
    orig = mod.pagerank

    def timed(*args, **kwargs):
        t0 = time.perf_counter()
        out = orig(*args, **kwargs)
        record["wall_s"] = time.perf_counter() - t0
        record["info"] = out[1]
        return out

    mod.pagerank = timed
    try:
        yield
    finally:
        mod.pagerank = orig


def _job_edges(csr_dir: str):
    """(src, dst) decoded in this process from the CSR blocks a job wrote."""
    from webgraph_spark.codec import decode_adjacency

    t = pq.read_table(csr_dir).to_pydict()
    src, dst = [], []
    for lo, indptr, buf in zip(t["node_lo"], t["indptr"], t["indices"]):
        counts = np.diff(np.asarray(indptr, dtype=np.int64))
        nodes = np.arange(lo, lo + counts.size, dtype=np.int64)
        src.append(np.repeat(nodes, counts))
        dst.append(decode_adjacency(buf, nodes, counts))
    s, d = np.concatenate(src), np.concatenate(dst)
    order = np.lexsort((d, s))
    return s[order], d[order]


def _ranks_ok(ranks_dir: str, want: dict) -> bool:
    t = pq.read_table(ranks_dir)
    return algolayers.ranks_ok(t.column("vertex_id").to_numpy(),
                               t.column("rank").to_numpy(), want)


def _outputs_ok(out_dir: str, want: dict) -> bool:
    got_src, got_dst = _job_edges(os.path.join(out_dir, "csr_blocks"))
    return (np.array_equal(got_src, want["src"]) and np.array_equal(got_dst, want["dst"])
            and _ranks_ok(os.path.join(out_dir, "pagerank"), want))


def _job_argv(src_dir: str, out: str, ckpt: str) -> list[str]:
    return ["--algorithm", "pagerank", "--source-table", src_dir,
            "--tol", "0", "--max-iter", str(algolayers.SUPERSTEPS),
            "--checkpoint-dir", ckpt, "--output", out]


def _oracle(src_dir: str, work: str) -> dict:
    out = os.path.join(work, "oracle.npz")
    subprocess.run([sys.executable, "-m", "perfbench.oracles", src_dir,
                    str(algolayers.SUPERSTEPS), str(algolayers.ALPHA), out],
                   check=True)
    with np.load(out) as z:
        return {k: z[k] for k in z.files}


def run(seed: int, seconds: float, tracer: Tracer, work: str, cpus: int) -> dict:
    from webgraph_spark.synth import synth_sources

    src_dir = os.path.join(work, "sources")
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = sparkenv.start(work, cpus, "perfbench-job-synth")
    try:
        t1 = time.perf_counter()
        with tracer.span("synth.synth_sources", action="write.parquet"):
            synth_sources(spark, n_repos=N_FILES // 10, files_per_repo=10,
                          seed=seed).write.parquet(src_dir)
        t2 = time.perf_counter()
        rss_setup = rss_mb()
        want = _oracle(src_dir, work)
        if tracer.enabled:
            out = _traced(spark, src_dir, tracer, work, want)
        else:
            out = _measure(src_dir, work, want, seconds)
    finally:
        sparkenv.stop(spark)
    if tracer.enabled:
        serving = serve.serve_graph(out.pop("rows"), out.pop("indexes"),
                                    serve.Truth(int(want["n_files"]), want["src"],
                                                want["dst"]),
                                    seed, serve.TRACE_SERVE_S, tracer)
        out["per_layer"].update(serving["per_layer"])
        out["details"]["serving"] = serving["details"]
        out["attempted"] += serving["attempted"]
        out["failed"] += serving["failed"]
    out["setup_s"] = t2 - t0
    out["details"]["rss_mb_after_setup"] = rss_setup
    out["per_layer"].update({"session.get_spark.s": t1 - t0,
                             "synth.synth_sources.s": t2 - t1})
    out["shape"] = oracles.shape_of(
        int(want["n_files"]), want["src"], want["dst"], out.pop("blocks"))
    return out


def _run_job(src_dir: str, out_dir: str, ckpt_dir: str, want: dict):
    """One untraced ``job.run`` -> (wall seconds, pagerank timing,
    summary, outputs correct)."""
    from webgraph_spark import job

    timing: dict = {}
    with _timed_pagerank(timing):
        t0 = time.perf_counter()
        summary = job.run(_job_argv(src_dir, out_dir, ckpt_dir))
        wall = time.perf_counter() - t0
    ok = summary["n_vertices"] == int(want["n_files"]) and _outputs_ok(out_dir, want)
    return wall, timing, summary, ok


def _measure(src_dir: str, work: str, want: dict, seconds: float) -> dict:
    """The measured jobs and their end-to-end figures: at least
    JOBS_MIN jobs, more while their walls add up to less than
    ``seconds``; each job writes to its own output and checkpoint
    directories, so none resumes from another."""
    walls, pr_walls, steps, summaries, failed = [], [], [], [], 0
    while len(walls) < JOBS_MIN or sum(walls) < seconds:
        i = len(walls)
        out_dir = os.path.join(work, f"job{i}")
        ckpt_dir = os.path.join(work, f"ckpt{i}")
        wall, timing, summary, ok = _run_job(src_dir, out_dir, ckpt_dir, want)
        walls.append(wall)
        pr_walls.append(timing["wall_s"])
        steps += timing["info"]["superstep_secs"]
        summaries.append(summary)
        failed += not ok
    arcs = int(timing["info"]["n_edges"])
    blocks = pq.read_table(os.path.join(out_dir, "csr_blocks"),
                           columns=["indices"]).column("indices")
    e2e = {
        "latency_ms": 1e3 * float(np.mean(walls)),
        "edges_per_s": arcs * len(steps) / sum(pr_walls),
        "bits_per_edge": 8.0 * sum(len(b.as_py()) for b in blocks) / arcs,
    }
    return {
        "end_to_end": e2e,
        "per_layer": {},
        "attempted": len(walls),
        "failed": failed,
        "blocks": len(blocks),
        "details": {"job_summaries": summaries,
                    "job_wall_s": walls,
                    "pagerank_superstep_s": summarize(steps),
                    "checkpoint_save_ms": summarize(algolayers.checkpoint_ms(ckpt_dir))},
    }


def _traced(spark, src_dir: str, tracer: Tracer, work: str, want: dict) -> dict:
    """Replay (traced), then the untraced job, components on the job's
    edges and the BV / Zuckerli blocks of them for serving."""
    from webgraph_spark import csr

    ok_replay, replay = _replay(spark, src_dir, work, tracer, want)
    out_dir, ckpt_dir = os.path.join(work, "job"), os.path.join(work, "ckpt")
    wall, timing, summary, ok_job = _run_job(src_dir, out_dir, ckpt_dir, want)
    layer = {
        **algolayers.pagerank_layers(timing["wall_s"], timing["info"]["superstep_secs"]),
        "checkpoint.save_ms": float(np.median(algolayers.checkpoint_ms(ckpt_dir))),
        # the replay runs first, so it also pays the JVM's warm-up: an
        # upper bound on what tracing adds
        "trace.overhead_ratio": replay.pop("_replay_wall_s") / wall,
        **replay,
    }
    csr_dir = os.path.join(out_dir, "csr_blocks")
    edges = csr.decode_csr(spark.read.parquet(csr_dir)).persist()
    edges.count()
    with tracer.span("algos.components.connected_components", action="collect"):
        cc_wall, cc_info, ok_cc = algolayers.components(edges, want)
    layer.update(algolayers.components_layers(cc_wall, cc_info))
    rows, secs = serve.build_blocks(edges, ("bv", "zuck"), tracer)
    edges.unpersist()
    layer.update(secs)
    rows["varint"] = pq.read_table(csr_dir).to_pylist()
    with tracer.span("local_index.init"):
        indexes = {c: serve.make_index(c, rows[c]) for c in serve.CODECS}
    return {
        "end_to_end": {},
        "per_layer": layer,
        "attempted": 3,
        "failed": int(not ok_replay) + int(not ok_job) + int(not ok_cc),
        "blocks": len(rows["varint"]),
        "rows": rows,
        "indexes": indexes,
        "details": {"job_summary": summary, "job_wall_s": wall,
                    "components_wall_s": cc_wall},
    }


def _replay(spark, src_dir, work, tracer: Tracer, want: dict):
    """The job's pagerank pipeline, one span per layer, each stage
    forced by the action named in its span -> (outputs correct, self
    seconds per layer)."""
    from webgraph_spark import checkpoint
    from webgraph_spark.algos.pagerank import pagerank
    from webgraph_spark.csr import build_csr
    from webgraph_spark.graph import build_graph
    from webgraph_spark.ingest import derive_edges, with_sha

    out_dir, ckpt_dir = os.path.join(work, "replay"), os.path.join(work, "replay_ckpt")
    with tracer.span("job.replay") as root:
        sources = spark.read.parquet(src_dir)
        with tracer.span("ingest.with_sha", action="persist+count"):
            sha = with_sha(sources).persist()
            sha.count()
        with tracer.span("ingest.derive_edges", action="count"):
            derive_edges(sha).count()
        with tracer.span("graph.build_graph", action="persist+count"):
            vertices, edges = build_graph(sha)
            edges = edges.persist()
            edges.count()
        ckpt = checkpoint.CheckpointManager(ckpt_dir)
        with tracer.span("csr.build_csr", action="write.parquet"):
            build_csr(edges).write.mode("overwrite").parquet(
                os.path.join(out_dir, "csr_blocks"))
        with tracer.patched(checkpoint.CheckpointManager, "save", "checkpoint.save"):
            with tracer.span("algos.pagerank.pagerank", action="first"):
                result, _ = pagerank(edges, alpha=algolayers.ALPHA, tol=0.0,
                                     max_iter=algolayers.SUPERSTEPS, ckpt=ckpt)
        with tracer.span("job.write_output", action="write.parquet"):
            result.write.mode("overwrite").parquet(os.path.join(out_dir, "pagerank"))
        with tracer.span("graph.dense_ids", action="count"):
            vertices.count()
        edges.unpersist()
        sha.unpersist()
    self_s = {
        name: sum(tracer.self_durations(name))
        for name in ("ingest.with_sha", "ingest.derive_edges", "graph.build_graph",
                     "csr.build_csr")
    }
    return _outputs_ok(out_dir, want), {
        **{f"{k}.s": v for k, v in self_s.items()},
        "_replay_wall_s": root["end"] - root["start"],
    }
