"""Unit tests of the benchmark's own pieces (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
from spans import Span, Tracer, covered, self_times  # noqa: E402
from stats import MIN_BEYOND, percentile, spread  # noqa: E402
from workloads import completed  # noqa: E402


def _write(seed: int, root: str) -> dict:
    return gen.write_corpus(gen.Generator(seed), root, 120)


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    if mismatch or errors:
        return False
    return all(_same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def test_generator_same_seed_same_bytes(tmp_path):
    man_a = _write(5, str(tmp_path / "a"))
    man_b = _write(5, str(tmp_path / "b"))
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert json.dumps(man_a, sort_keys=True) == json.dumps(man_b, sort_keys=True)


def test_generator_other_seed_other_bytes(tmp_path):
    _write(5, str(tmp_path / "a"))
    _write(6, str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))


def test_generator_plants_are_listed(tmp_path):
    man = _write(3, str(tmp_path / "c"))
    for key in ("exact_dups", "near_dups", "repetitive", "pii", "chunks"):
        assert man[key], key
    for copy, orig in man["exact_dups"]:
        t = [open(tmp_path / "c" / p).read() for p in (copy, orig)]
        assert " ".join(t[0].lower().split()) == " ".join(t[1].lower().split())
    for rel, s in man["pii"].items():
        assert s in open(tmp_path / "c" / rel).read()


def test_known_answers_are_exactly_the_chunks(tmp_path):
    """Each listed paragraph is one chunk of the engine's chunker, so a
    paragraph asked as a question has an indexed chunk equal to it."""
    chunker = pytest.importorskip(
        "retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.chunker"
    )
    man = _write(4, str(tmp_path / "d"))
    for rel, paras in man["chunks"].items():
        text = open(tmp_path / "d" / rel).read()
        assert chunker.split_text(text) == paras


def test_percentile_needs_ten_samples_beyond():
    assert MIN_BEYOND == 10
    assert percentile(list(range(19)), 0.5) is None
    assert percentile(list(range(20)), 0.5) == 9
    assert percentile([float(x) for x in range(99)], 0.9) is None
    assert percentile([float(x) for x in range(100)], 0.9) == 89.0
    assert percentile([], 0.5) is None
    with pytest.raises(ValueError):
        percentile([1.0], 1.0)


def test_spread_matches_statistics_quantiles():
    st = spread([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0])
    assert st["median"] == 5.5
    assert st["spread"] == pytest.approx((st["q3"] - st["q1"]) / 5.5)


def test_covered_takes_the_union_clipped_to_the_interval():
    assert covered((0, 10), []) == 0
    assert covered((0, 10), [(1, 3), (2, 5), (8, 12)]) == 6
    assert covered((0, 10), [(-5, 20)]) == 10
    assert covered((0, 10), [(11, 12)]) == 0


def test_self_time_subtracts_children():
    spans = [
        Span(1, "a", None, "r", 0.0, 10.0),
        Span(2, "b", 1, "r", 1.0, 3.0),
        Span(3, "c", 1, "r", 2.0, 5.0),
        Span(4, "d", 3, "r", 2.5, 3.0),
    ]
    st = self_times(spans)
    assert st == {1: 6.0, 2: 2.0, 3: 2.5, 4: 0.5}


def test_tracer_links_parents_and_requests():
    tr = Tracer()
    with tr.span("outer", "req1"):
        with tr.span("inner.call"):
            pass
    inner, outer = tr.spans
    assert inner.parent == outer.sid and outer.parent is None
    assert inner.rid == outer.rid == "req1"
    assert outer.start <= inner.start <= inner.end <= outer.end
    m = tr.layer_metrics()
    assert set(m) == {"outer.self_s", "inner.call.self_s"}


def test_completed_counts_the_share_inside_the_window():
    ops = [(0.0, 2.0, 1.0), (2.0, 6.0, 16.0), (9.0, 11.0, 1.0), (12.0, 13.0, 1.0)]
    assert completed(ops, 0.0, 10.0) == pytest.approx(1 + 16 + 0.5)


def test_benchmark_json_matches_the_metrics_printed():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.E2E)
    for m in spec["end_to_end"]:
        assert (m["unit"], m["better"]) == run.E2E[m["name"]]
        assert 0 < m["bound"] <= 0.25
    assert [m["name"] for m in spec["per_layer"]] == list(run.per_layer_names())
    assert [w["name"] for w in spec["workloads"]] == list(__import__("workloads").WORKLOADS)
