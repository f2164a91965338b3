"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

import json
import os
import re

import numpy as np
import pandas as pd
import pytest

from perfbench import checks, gen, layers, rss
from perfbench.run import END_TO_END, engine_fingerprint

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


# ---- generators ----

def test_web_corpus_is_deterministic_per_seed():
    p1, t1 = gen.web_corpus(120, seed=5)
    p2, t2 = gen.web_corpus(120, seed=5)
    p3, _ = gen.web_corpus(120, seed=6)
    pd.testing.assert_frame_equal(p1, p2)
    pd.testing.assert_frame_equal(t1, t2)
    assert not p1.text.equals(p3.text)
    assert set(t1.kind) == {"near", "exact", "substring"}
    assert (t1[t1.kind != "near"].jaccard == 1.0).all()


def test_token_features_and_slices_are_deterministic():
    pages, _ = gen.web_corpus(120, seed=3)
    f1, f2 = gen.token_features(pages), gen.token_features(pages)
    assert all(np.array_equal(a, b) for a, b in zip(f1.features, f2.features))
    assert all((np.diff(f) > 0).all() for f in f1.features)  # sorted, distinct
    s1 = gen.snapshot_slices(pages, 3, seed=3)
    s2 = gen.snapshot_slices(pages, 3, seed=3)
    assert [len(s) for s in s1] == [40, 40, 40]
    for a, b in zip(s1, s2):
        pd.testing.assert_frame_equal(a, b)
    assert sorted(pd.concat(s1).url) == sorted(pages.url)


def test_cached_inputs_build_once(tmp_path):
    calls = []

    def build(d):
        calls.append(d)
        with open(os.path.join(d, "x"), "w") as f:
            f.write("1")

    a = gen.cached_inputs(str(tmp_path), "w", 1, {"n": 2}, build)
    b = gen.cached_inputs(str(tmp_path), "w", 1, {"n": 2}, build)
    c = gen.cached_inputs(str(tmp_path), "w", 2, {"n": 2}, build)
    assert a == b != c
    assert len(calls) == 2
    assert os.path.exists(os.path.join(a, "x"))


# ---- self time ----

def _span(sid, parent, start, end):
    return layers.Span(sid, f"s{sid}", parent, "run", start, end)


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 2.0, 5.0),
        _span(2, 1, 3.0, 4.0),   # grandchild: covered by its parent 1
        _span(3, 0, 4.0, 7.0),   # overlaps child 1: the union counts once
        _span(4, 0, 9.0, 12.0),  # runs past the parent: clipped
    ]
    st = layers.self_times(spans)
    assert st[0] == pytest.approx(10.0 - (7.0 - 2.0) - (10.0 - 9.0))
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(3.0)


def test_covered_length_merges_intervals():
    assert layers.covered_length([]) == 0.0
    assert layers.covered_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def test_layer_report_attributes_spark_metrics_per_span():
    spans = [
        _span(0, None, 0.0, 10.0),
        layers.Span(1, "signatures.featurize", 0, "run", 1.0, 3.0, rows_out=100),
        layers.Span(2, "substring.substring_pairs", 0, "run", 4.0, 6.0,
                    rows_in=300, rows_out=5),
    ]
    stats = {1: {"py_init_s": 4.0, "py_run_s": 0.5, "peak_mem_mb": 7.0}}
    vals = layers.layer_report(
        spans, stats, {k: 1.0 for k in layers.KERNELS}, 0.25, 0.3)
    assert set(vals) == {n for n, _ in layers.layer_metric_names()}
    assert vals["signatures.featurize.py_init_s"] == 4.0
    assert vals["signatures.featurize.kernel_share"] == pytest.approx(
        6 * 1.0 * 100 / 1000 / 0.5)
    assert vals["substring.substring_pairs.scan_ratio"] == 3.0
    assert vals["substring.substring_pairs.self_s"] == pytest.approx(2.0)
    assert vals["api.MinHashNeighbors.kneighbors.recall_at_k"] == 0.0
    assert vals["trace.overhead_s"] == 0.25


def test_parse_sql_metric_formats():
    assert layers.parse_sql_metric("845 ms") == pytest.approx(0.845)
    assert layers.parse_sql_metric("4,000") == 4000
    assert layers.parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n2.7 s (543 ms, 750 ms, "
        "845 ms (stage 0.0: task 0))") == pytest.approx(2.7)
    assert layers.parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n1460.5 KiB (1 B, 2 B, 3 B "
        "(stage 0.0: task 3))") == pytest.approx(1460.5 * 1024)


# ---- metrics arithmetic ----

def test_quarter_growth():
    assert checks.quarter_growth([2.0, 9.0, 9.0, 4.0]) == 2.0
    assert checks.quarter_growth([1, 1, 5, 1, 1, 2, 2, 2]) == 2.0
    assert checks.quarter_growth([3.0]) == 1.0
    assert checks.quarter_growth([1.0, 1.5]) == 1.5
    with pytest.raises(ValueError):
        checks.quarter_growth([])


def test_recall_precision_and_digest():
    truth = [("a", "b"), ("b", "c"), ("d", "e")]
    cluster_of = {"a": 1, "b": 1, "c": 1, "d": 4, "e": 5, "f": 1}
    assert checks.planted_recall(cluster_of, truth) == pytest.approx(2 / 3)
    # cluster 1 = {a, b, c, f}: f has no truth partner
    assert checks.merge_precision(cluster_of, truth) == pytest.approx(3 / 4)
    relabelled = {k: {1: 9, 4: 7, 5: 8}[v] for k, v in cluster_of.items()}
    assert checks.partition_digest(cluster_of) == checks.partition_digest(relabelled)
    cluster_of["d"] = 5
    assert checks.partition_digest(cluster_of) != checks.partition_digest(relabelled)


def test_knn_scores_against_exact_jaccard():
    feats = [np.array([1, 2, 3]), np.array([1, 2, 4]), np.array([7, 8]),
             np.array([1, 2, 3, 4])]
    # exact J(0, .) = [-, 0.5, 0, 0.75]: top-1 of row 0 is row 3
    got = {0: [(3, 0.25)], 2: [(0, 0.5)]}
    recall, exact = checks.knn_scores(feats, np.array([0, 2]), got, 1)
    # row 2 shares nothing with anyone: every row ties at J = 0
    assert recall == 1.0
    assert exact == pytest.approx(1 / 2)


def test_engine_fingerprint_follows_source_not_bytecode(tmp_path):
    pkg = tmp_path / "webdedup"
    (pkg / "__pycache__").mkdir(parents=True)
    (pkg / "lsh.py").write_text("X = 1\n")
    first = engine_fingerprint(str(pkg))
    (pkg / "__pycache__" / "lsh.cpython-311.pyc").write_bytes(b"\0")
    assert engine_fingerprint(str(pkg)) == first
    (pkg / "lsh.py").write_text("X = 2\n")
    assert engine_fingerprint(str(pkg)) != first


# ---- process tree ----

def test_tree_pids_walks_descendants():
    ppid_of = {10: 1, 11: 10, 12: 11, 13: 1, 14: 12}
    assert rss.tree_pids(ppid_of, 10) == {10, 11, 12, 14}
    assert rss.tree_rss_bytes(os.getpid()) > 0


# ---- metric names ----

def test_every_metric_name_and_unit_is_valid():
    names = list(END_TO_END) + [n for n, _ in layers.layer_metric_names()]
    units = list(END_TO_END.values()) + [u for _, u in layers.layer_metric_names()]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME_RE.fullmatch(n), n
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", n), n
    for u in units:
        assert UNIT_RE.fullmatch(u), u


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == \
        layers.layer_metric_names()
    from perfbench.workloads import WORKLOADS
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [m["unit"] for m in spec["end_to_end"]] == list(END_TO_END.values())
