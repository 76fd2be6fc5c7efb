"""Seeded input graph for the serving workload.

The generator is a pure function of the seed and returns
``(n_nodes, src, dst)`` with the arcs sorted by ``(src, dst)``,
duplicate-free and loop-free — the order the CSR block packers expect.
"""

from __future__ import annotations

import numpy as np

WEB_NODES = 50_000
WEB_ARCS = 470_000


def web_graph(seed: int):
    """cnr-style web graph: power-law outdegrees; 55% local gaps, 25%
    short runs, 10% shared hubs, 10% uniform arcs. Same mixture as
    ``scripts/cnr_scale_validation.py:synth_edges``, at a size the
    benchmark can encode in a few seconds; the arc count lands near
    WEB_ARCS after dedup.

    The outdegrees are the Pareto(1.25) quantiles at evenly spaced
    levels, dealt to the nodes in seeded order: every seed gets the same
    degree sequence, so the heavy tail that point-query tails and block
    decode times hinge on does not change with the seed."""
    n = WEB_NODES
    rng = np.random.default_rng([seed, 0xC4])
    levels = (np.arange(n) + 0.5) / n
    pareto = (1.0 - levels) ** (-1.0 / 1.25) - 1.0
    raw = rng.permutation(np.minimum(pareto * 4.0 + 1.0, 20_000.0))
    deg = np.maximum((raw * (WEB_ARCS * 1.3 / raw.sum())).astype(np.int64), 1)
    src = np.repeat(np.arange(n, dtype=np.int64), deg)
    m = src.size
    kind = rng.random(m)
    dst = np.empty(m, dtype=np.int64)
    loc = kind < 0.55
    dst[loc] = src[loc] + 1 + rng.geometric(0.02, int(loc.sum()))
    run = (kind >= 0.55) & (kind < 0.80)
    k = int(run.sum())
    dst[run] = src[run] + rng.integers(1, 2000, k) + rng.integers(0, 12, k)
    hub = (kind >= 0.80) & (kind < 0.90)
    hubs = rng.integers(0, n, 200)
    dst[hub] = hubs[rng.integers(0, hubs.size, int(hub.sum()))]
    glo = kind >= 0.90
    dst[glo] = rng.integers(0, n, int(glo.sum()))
    dst %= n
    keep = src != dst
    key = np.unique(src[keep] * n + dst[keep])
    return n, key // n, key % n

