"""numpy oracles and input-shape stamps.

Everything here is computed from the generated inputs alone, never from
the program's outputs, so a defect in the program cannot hide itself.
scipy is not available; the graph oracles are plain numpy.
"""

from __future__ import annotations

import re
import sys

import numpy as np

OVERLAP_WINDOW = 7


def csr_indptr(n: int, src: np.ndarray) -> np.ndarray:
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.bincount(src, minlength=n), out=indptr[1:])
    return indptr


def gather_lists(indptr: np.ndarray, dst: np.ndarray, xs: np.ndarray):
    """(counts, concatenated successors) of the nodes ``xs`` — the
    expected output of ``batch_successors(xs)``."""
    xs = np.asarray(xs, dtype=np.int64)
    starts, counts = indptr[xs], indptr[xs + 1] - indptr[xs]
    seg = np.arange(int(counts.sum()), dtype=np.int64) - np.repeat(
        np.cumsum(counts) - counts, counts
    )
    return counts, dst[np.repeat(starts, counts) + seg]


def window_overlap(n: int, src: np.ndarray, dst: np.ndarray) -> dict:
    """How much of each list the best of the OVERLAP_WINDOW preceding lists
    could supply — a codec-independent proxy for the referenced-list
    fraction. ``lists``: share of nonempty lists sharing at least one
    successor with a list in the window; ``arcs``: share of arcs that
    the best single list in the window covers."""
    key = src * n + dst
    best = np.zeros(n, dtype=np.int64)
    for r in range(1, OVERLAP_WINDOW + 1):
        hit = np.isin(key, (src + r) * n + dst, assume_unique=True)
        best = np.maximum(best, np.bincount(src[hit], minlength=n))
    nonempty = np.bincount(src, minlength=n) > 0
    return {
        "lists": float((best[nonempty] > 0).mean()) if nonempty.any() else 0.0,
        "arcs": float(best.sum() / max(src.size, 1)),
    }


def shape_of(n: int, src: np.ndarray, dst: np.ndarray, n_blocks: int) -> dict:
    deg = np.bincount(src, minlength=n)
    return {
        "nodes": int(n),
        "arcs": int(src.size),
        "avg_outdegree": float(src.size / n),
        "max_outdegree": int(deg.max()) if n else 0,
        "blocks": int(n_blocks),
        "window7_overlap": window_overlap(n, src, dst),
    }


def pagerank_power(src: np.ndarray, dst: np.ndarray, iters: int,
                   alpha: float = 0.85):
    """Power iteration with dangling-mass redistribution over the
    vertices that appear in the arcs (``algos.pagerank`` semantics when
    no vertex table is given). Returns (vertex ids, ranks)."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = inv[: src.size], inv[src.size:]
    n = ids.size
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        share = np.where(dangling, 0.0, r / np.where(dangling, 1.0, outdeg))
        contrib = np.bincount(d, weights=share[s], minlength=n)
        r = (1.0 - alpha) / n + alpha * r[dangling].sum() / n + alpha * contrib
    return ids, r


def min_label_components(src: np.ndarray, dst: np.ndarray):
    """Undirected components labelled by their minimum vertex id (min-
    label propagation with pointer jumping to a fixpoint). Returns
    (vertex ids, labels) over the vertices that appear in the arcs."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = inv[: src.size], inv[src.size:]
    lbl = np.arange(ids.size)
    while True:
        prev = lbl.copy()
        np.minimum.at(lbl, s, lbl[d])
        np.minimum.at(lbl, d, lbl[s])
        lbl = lbl[lbl]
        if np.array_equal(lbl, prev):
            return ids, ids[lbl]


# import forms written by synth.py, parsed independently of ingest.py
_IMPORT_RE = {
    "python": re.compile(r"from ([\w.]+) import"),
    "java": re.compile(r"import ([\w.]+);"),
    "c": re.compile(r'#include "([^"]+)"'),
    "js": re.compile(r'require\("([^"]+)"\)'),
}
_EXT_RE = re.compile(r"\.[A-Za-z0-9]+$")


def _target_key(lang: str, raw: str) -> str:
    if lang in ("python", "java"):
        return raw.replace(".", "/")
    if lang == "c":
        return raw[:-2] if raw.endswith(".h") else raw
    return raw


def source_graph(repos, paths, langs, contents):
    """Expected (src, dst) dense-id arcs of a source table: every import
    that names another file of the table, deduplicated, loops dropped;
    ids are the rank of (repo, path) in sorted order."""
    files = sorted(set(zip(repos, paths)))
    vid = {f: i for i, f in enumerate(files)}
    by_key = {f"{r}/{_EXT_RE.sub('', p)}": vid[(r, p)] for r, p in files}
    arcs = set()
    for repo, path, lang, text in zip(repos, paths, langs, contents):
        me = vid[(repo, path)]
        for raw in _IMPORT_RE[lang].findall(text):
            tgt = by_key.get(_target_key(lang, raw))
            if tgt is not None and tgt != me:
                arcs.add((me, tgt))
    a = np.array(sorted(arcs), dtype=np.int64).reshape(-1, 2)
    return len(files), a[:, 0], a[:, 1]


def job_oracle(sources_dir: str, iters: int, alpha: float) -> dict:
    """Expected outputs of the PageRank job and of connected components
    over a source table written as parquet."""
    import pyarrow.parquet as pq

    t = pq.read_table(sources_dir).to_pydict()
    n_files, src, dst = source_graph(t["repo"], t["path"], t["lang"], t["content"])
    rank_ids, ranks = pagerank_power(src, dst, iters, alpha)
    cc_ids, cc_labels = min_label_components(src, dst)
    return {"n_files": np.int64(n_files), "src": src, "dst": dst,
            "rank_ids": rank_ids, "ranks": ranks,
            "cc_ids": cc_ids, "cc_labels": cc_labels}


if __name__ == "__main__":
    # python3 -m perfbench.oracles SOURCES_DIR ITERS ALPHA OUT.npz
    # runs job_oracle in its own process, so the source table it parses
    # never enters the memory of the process being measured
    sources_dir, iters, alpha, out = sys.argv[1:5]
    np.savez(out, **job_oracle(sources_dir, int(iters), float(alpha)))
