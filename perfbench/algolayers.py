"""PageRank and connected-components layers, timed from outside and
checked against the numpy oracles. Both workloads report these layers:
job-synth from the PageRank call inside ``job.run`` and components on
the job's edges, serve-web from direct calls on the web graph while its
Spark session is still up.
"""

from __future__ import annotations

import time

import numpy as np

ALPHA = 0.85
SUPERSTEPS = 3


def pagerank_layers(wall: float, steps: list[float]) -> dict:
    """Per-layer split of one ``pagerank()`` call of ``wall`` seconds
    whose timed supersteps took ``steps``."""
    return {
        "algos.pagerank.prep_s": wall - sum(steps),
        "algos.pagerank.first_superstep_s": steps[0],
        "algos.pagerank.superstep_s": float(np.median(steps[1:] or steps)),
    }


def checkpoint_ms(ckpt_dir: str) -> list[float]:
    """Save times that ``CheckpointManager`` recorded for PageRank."""
    from webgraph_spark.checkpoint import CheckpointManager

    return [float(m["wall_ms"]) for m in CheckpointManager(ckpt_dir).metrics()
            if m.get("algo") == "pagerank"]


def ranks_ok(ids: np.ndarray, ranks: np.ndarray, want: dict) -> bool:
    """Ranks match the power iteration (rtol 1e-6) and keep mass 1."""
    order = np.argsort(ids)
    return (
        np.array_equal(ids[order], want["rank_ids"])
        and np.allclose(ranks[order], want["ranks"], rtol=1e-6, atol=0.0)
        and abs(float(ranks.sum()) - 1.0) < 1e-9
    )


def components(edges, want: dict) -> tuple[float, dict, bool]:
    """One ``connected_components`` call, forced by collecting its
    labels -> (seconds, info, labels match the min-label fixpoint)."""
    from webgraph_spark.algos.components import connected_components

    t0 = time.perf_counter()
    comps, info = connected_components(edges)
    rows = comps.collect()
    wall = time.perf_counter() - t0
    got = np.array(sorted((r["vertex_id"], r["component_id"]) for r in rows),
                   dtype=np.int64).reshape(-1, 2)
    ok = (np.array_equal(got[:, 0], want["cc_ids"])
          and np.array_equal(got[:, 1], want["cc_labels"]))
    return wall, info, ok


def components_layers(wall: float, info: dict) -> dict:
    """Per-layer split of one ``connected_components`` call."""
    return {
        "algos.components.wall_s": wall,
        "algos.components.round_s": float(np.median(info["superstep_secs"])),
        "algos.components.rounds": float(info["iterations"]),
    }
