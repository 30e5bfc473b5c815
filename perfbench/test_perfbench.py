"""Tests of the benchmark itself (no Spark session needed):

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from metric_names import END_TO_END, EXACT_COUNTS, PER_LAYER  # noqa: E402
from tracing import Span, Tracer, self_times, tail, tail_mean  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _tree(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, files in os.walk(root) for f in files
    )


def _same_files(a: str, b: str) -> bool:
    files = _tree(a)
    return files == _tree(b) and all(
        filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False) for f in files)


def _generate(root: str, seed: int) -> None:
    datagen.write_corpus(os.path.join(root, "corpus"), seed, sf=0.001)
    datagen.write_partitions(os.path.join(root, "parts"), seed, 3, 50, 20)
    datagen.split_events(os.path.join(root, "corpus", "events.parquet"),
                         os.path.join(root, "stream"), 4, seed)
    datagen.permuted_copy(os.path.join(root, "corpus", "documents.parquet"),
                          os.path.join(root, "copy"), seed)


def test_generator_is_seeded(tmp_path):
    _generate(str(tmp_path / "a"), 7)
    _generate(str(tmp_path / "b"), 7)
    _generate(str(tmp_path / "c"), 8)
    assert _same_files(str(tmp_path / "a"), str(tmp_path / "b"))
    for sub in ("corpus", "parts", "stream", "copy"):
        a, c = str(tmp_path / "a" / sub), str(tmp_path / "c" / sub)
        assert _tree(a) == _tree(c)
        assert not _same_files(a, c), sub


def test_partition_expectations_cover_every_record(tmp_path):
    expect = datagen.write_partitions(str(tmp_path), 3, 4, 100, 30)
    assert sum(e["n"] for e in expect.values()) == 400
    assert all(0 <= e["n_kept"] <= e["n"] for e in expect.values())
    metas = [json.load(open(tmp_path / f"part-{i:05d}.json.meta")) for i in range(4)]
    assert all(m == {"n_records": 100} for m in metas)


def test_metric_names_and_caps():
    assert len(END_TO_END) <= 16 and len(PER_LAYER) <= 128
    assert not set(END_TO_END) & set(PER_LAYER)
    for name in [*END_TO_END, *PER_LAYER]:
        assert NAME.fullmatch(name) and len(name) <= 64 and name[0].isalnum(), name
    assert set(EXACT_COUNTS) <= set(PER_LAYER)
    assert END_TO_END["setup_s"] == "s"


def test_benchmark_json_matches_metric_names():
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    if not os.path.exists(path):
        pytest.skip("BENCHMARK.json is not beside the benchmark directory")
    spec = json.load(open(path))
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    import workloads

    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def test_self_time_on_synthetic_tree():
    # op [0, 10] has children build [1, 3] and exec [2, 8] (overlapping),
    # exec has child write [4, 6]; a second op [20, 25] has no children
    spans = [
        Span(0, "op", "q1", None, 0.0, 10.0),
        Span(1, "build", "q1", 0, 1.0, 3.0),
        Span(2, "exec", "q1", 0, 2.0, 8.0),
        Span(3, "write", "q1", 2, 4.0, 6.0),
        Span(4, "op", "q2", None, 20.0, 25.0),
    ]
    st = self_times(spans)
    assert st["op"] == pytest.approx((10 - 7) + 5)  # children cover [1, 8]
    assert st["build"] == pytest.approx(2)
    assert st["exec"] == pytest.approx(6 - 2)
    assert st["write"] == pytest.approx(2)


def test_self_time_clips_children_to_parent():
    spans = [Span(0, "op", "q", None, 0.0, 4.0), Span(1, "late", "q", 0, 3.0, 9.0)]
    assert self_times(spans)["op"] == pytest.approx(3)


def test_tracer_nesting_and_disabled():
    t = Tracer(True)
    with t.span("op", op="x"):
        with t.span("build"):
            pass
    assert [(s.name, s.op, s.parent) for s in t.spans] == [("op", "x", None), ("build", "x", 0)]
    off = Tracer(False)
    with off.span("op", op="x"):
        pass
    assert off.spans == []


def test_tail_has_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    v, pct, n = tail(xs)
    assert n == 100 and sum(1 for x in xs if x > v) == 10 and pct == 90.0
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    v, pct, n = tail([float(i) for i in range(20)])
    assert (v, pct, n) == (9.0, 50.0, 20)


def test_tail_mean_is_the_slowest_third():
    assert tail_mean([float(i) for i in range(1, 31)]) == pytest.approx(sum(range(21, 31)) / 10)
    assert tail_mean([5.0, 1.0, 3.0, 2.0]) == pytest.approx((5.0 + 3.0) / 2)


def test_failed_operations_count_against_attempted():
    import run

    timed_samples = [("a", 1.0, True), ("a", 3.0, False), ("b", 2.0, True), ("b", 2.5, True)]
    failed, attempted, lat = run.tally(timed_samples, {"a": None, "b": "wrong rows"})
    assert (failed, attempted) == (3, 4)
    assert lat == [1.0, 2.0, 2.5]
    failed, attempted, _ = run.tally(timed_samples, {"a": None, "b": None})
    assert (failed, attempted) == (1, 4)
