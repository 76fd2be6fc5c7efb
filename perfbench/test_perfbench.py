"""Tests of the benchmark's own helpers: timing summaries, span self
time, input generators and the numpy oracles.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import algolayers, graphs, oracles, serve  # noqa: E402
from perfbench.stats import (  # noqa: E402
    Tracer,
    covered,
    percentile_with_floor,
    self_times,
    summarize,
    tail_level,
)


@pytest.mark.parametrize("n,want", [
    (19, None), (20, 50.0), (100, 90.0), (999, 90.0), (1000, 99.0),
    (9999, 99.0), (10_000, 99.9),
])
def test_tail_level_keeps_ten_samples_beyond(n, want):
    assert tail_level(n) == want


def test_summarize_reports_median_tail_and_count():
    s = summarize(np.arange(1, 101))
    assert s["n"] == 100 and s["p50"] == 50.5 and s["tail_pct"] == 90.0
    assert s["tail"] == pytest.approx(np.percentile(np.arange(1, 101), 90))
    assert summarize([])["p50"] is None


def test_percentile_with_floor_refuses_thin_tails():
    assert percentile_with_floor(np.arange(1000), 99.0) == pytest.approx(989.01)
    with pytest.raises(ValueError):
        percentile_with_floor(np.arange(999), 99.0)


def test_covered_merges_overlaps():
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert covered([]) == 0


def test_self_time_subtracts_direct_children_only():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 3, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps span 1
    ]
    st = self_times(spans)
    assert st == {0: pytest.approx(5.0), 1: pytest.approx(2.0),
                  2: pytest.approx(1.0), 3: pytest.approx(3.0)}


class _Target:
    def work(self, x):
        return x + 1


def test_tracer_nests_patched_calls_and_restores():
    tr = Tracer("w", "r", enabled=True)
    orig = _Target.work
    with tr.patched(_Target, "work", "target.work"):
        with tr.span("outer", action="count"):
            assert _Target().work(1) == 2
    assert _Target.work is orig
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and outer["action"] == "count"
    assert tr.durations("target.work", "outer") and not tr.durations("target.work", "x")


def test_disabled_tracer_records_nothing():
    tr = Tracer("w", "r", enabled=False)
    with tr.span("a") as sp:
        assert sp is None
    assert tr.spans == []


def test_generator_is_seeded_sorted_and_simple():
    n, s, d = graphs.web_graph(3)
    n2, s2, d2 = graphs.web_graph(3)
    assert n == n2 and np.array_equal(s, s2) and np.array_equal(d, d2)
    _, s3, _ = graphs.web_graph(4)
    assert not np.array_equal(s, s3)
    key = s * n + d
    assert np.all(np.diff(key) > 0) and not np.any(s == d)
    assert 0 <= d.min() and d.max() < n


def test_web_graph_shape_matches_its_model():
    n, s, _ = graphs.web_graph(1)
    assert n == 50_000 and 440_000 < s.size < 500_000


def test_gather_lists_matches_a_python_loop():
    n, s, d = graphs.web_graph(5)
    indptr = oracles.csr_indptr(n, s)
    xs = np.array([0, n - 1, 5, 5, 300])
    counts, flat = oracles.gather_lists(indptr, d, xs)
    want = [d[s == x] for x in xs]
    assert counts.tolist() == [w.size for w in want]
    assert np.array_equal(flat, np.concatenate(want))


def test_window_overlap_counts_copyable_arcs():
    # node 1 repeats node 0's list; node 2 shares one of three arcs
    s = np.array([0, 0, 1, 1, 2, 2, 2])
    d = np.array([5, 6, 5, 6, 6, 7, 8])
    ov = oracles.window_overlap(9, s, d)
    assert ov["lists"] == pytest.approx(2 / 3)
    assert ov["arcs"] == pytest.approx((2 + 1) / 7)


def test_pagerank_power_conserves_mass_with_dangling_nodes():
    s, d = np.array([0, 0, 1, 3]), np.array([1, 2, 2, 2])
    ids, r = oracles.pagerank_power(s, d, iters=20)
    assert ids.tolist() == [0, 1, 2, 3]
    assert r.sum() == pytest.approx(1.0, abs=1e-12)
    assert r[2] == r.max()
    ids, r = oracles.pagerank_power(np.array([0, 1, 2]), np.array([1, 2, 0]), 5)
    assert np.allclose(r, 1 / 3)


def test_min_label_components():
    s, d = np.array([5, 7, 9, 3]), np.array([7, 9, 2, 4])
    ids, lbl = oracles.min_label_components(s, d)
    assert dict(zip(ids.tolist(), lbl.tolist())) == {
        2: 2, 3: 3, 4: 3, 5: 2, 7: 2, 9: 2}


def test_source_graph_resolves_every_import_form():
    repos = ["r", "r", "r", "r"]
    paths = ["a.py", "b.java", "c.c", "d.js"]
    langs = ["python", "java", "c", "js"]
    texts = [
        "from r.b import api\nfrom r.a import api\nfrom nowhere import api",
        'import r.c;\nimport r.c;',
        '#include "r/d.h"',
        'const m = require("r/a");',
    ]
    n, s, d = oracles.source_graph(repos, paths, langs, texts)
    assert n == 4
    assert list(zip(s.tolist(), d.tolist())) == [(0, 1), (1, 2), (2, 3), (3, 0)]


def test_job_oracle_reads_a_source_table(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({
        "repo": ["r", "r", "r"],
        "path": ["a.py", "b.py", "c.py"],
        "lang": ["python"] * 3,
        "content": ["from r.b import x", "from r.a import x", ""],
    }), tmp_path / "t.parquet")
    want = oracles.job_oracle(str(tmp_path), iters=4, alpha=0.85)
    assert want["n_files"] == 3
    assert list(zip(want["src"].tolist(), want["dst"].tolist())) == [(0, 1), (1, 0)]
    assert want["rank_ids"].tolist() == [0, 1]
    assert want["ranks"].sum() == pytest.approx(1.0)
    assert want["cc_labels"].tolist() == [0, 0]


def test_pagerank_layers_split_the_call():
    lay = algolayers.pagerank_layers(10.0, [3.0, 2.0, 1.0])
    assert lay == {"algos.pagerank.prep_s": pytest.approx(4.0),
                   "algos.pagerank.first_superstep_s": 3.0,
                   "algos.pagerank.superstep_s": 1.5}


def test_ranks_ok_needs_order_free_match_and_unit_mass():
    want = {"rank_ids": np.array([0, 1]), "ranks": np.array([0.25, 0.75])}
    assert algolayers.ranks_ok(np.array([1, 0]), np.array([0.75, 0.25]), want)
    assert not algolayers.ranks_ok(np.array([0, 1]), np.array([0.75, 0.25]), want)


def test_components_layers_take_the_median_round():
    lay = algolayers.components_layers(
        4.0, {"superstep_secs": [1.0, 3.0, 2.0], "iterations": 3})
    assert lay == {"algos.components.wall_s": 4.0,
                   "algos.components.round_s": 2.0,
                   "algos.components.rounds": 3.0}


def test_geomean_weighs_codecs_alike():
    assert serve._geomean([1.0, 100.0]) == pytest.approx(10.0)
    assert serve._geomean([2.0, 8.0, 4.0]) == pytest.approx(4.0)


def test_truth_checks_batches_against_the_adjacency():
    n, s, d = graphs.web_graph(2)
    truth = serve.Truth(n, s, d)
    xs = np.array([7, 3, 7])
    counts, flat = oracles.gather_lists(truth.indptr, d, xs)
    assert truth.batch_ok(xs, counts, flat)
    assert not truth.batch_ok(xs, counts + 1, flat)
