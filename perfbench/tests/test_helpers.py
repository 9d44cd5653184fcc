"""Unit tests for the benchmark's pure helpers; no Spark session needed.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, layers  # noqa: E402
from perfbench.layers import Span  # noqa: E402


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert layers.tail_percentile(range(10)) is None
    # 11 samples: only the lowest has 10 above it
    assert layers.tail_percentile(range(11)) == (100.0 / 11, 0)
    pct, value = layers.tail_percentile(range(100))
    assert value == 89 and pct == 90.0
    assert sum(1 for x in range(100) if x > value) == 10


def test_tail_percentile_ignores_input_order():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 0.0, 10.0, 11.0]
    assert layers.tail_percentile(xs) == layers.tail_percentile(sorted(xs))
    assert layers.tail_percentile(xs)[1] == 1.0


def test_union_length_merges_overlap_and_touching_intervals():
    assert layers.union_length([]) == 0.0
    assert layers.union_length([(0, 1), (2, 3)]) == 2
    assert layers.union_length([(0, 2), (1, 3)]) == 3
    assert layers.union_length([(1, 3), (0, 2), (2, 2.5)]) == 3
    assert layers.union_length([(0, 10), (2, 3), (4, 5)]) == 10
    assert layers.union_length([(0, 1), (1, 2)]) == 2
    assert layers.union_length([(3, 1)]) == 0.0  # empty interval


def test_idle_time_clips_jobs_to_the_window():
    # a job that started before the window and one running past its end
    assert layers.idle_time((10, 20), [(5, 12), (18, 30)]) == 6
    assert layers.idle_time((0, 10), []) == 10
    assert layers.idle_time((0, 10), [(0, 10), (2, 3)]) == 0


def _span(i, kind, start, end, parent):
    return Span(i, f"s{i}", kind, start, end, parent, "r")


def test_self_time_subtracts_children_union():
    spans = [
        _span(0, "unit", 0, 10, None),
        _span(1, "query", 1, 4, 0),
        _span(2, "query", 3, 6, 0),  # overlaps its sibling
        _span(3, "job", 1.5, 2.5, 1),
        _span(4, "job", 5, 5.5, 2),
    ]
    got = layers.self_times(spans)
    assert got["unit"] == pytest.approx(10 - 5)
    assert got["query"] == pytest.approx((3 - 1) + (3 - 0.5))
    assert got["job"] == pytest.approx(1.5)


def test_tracer_nests_spans_and_places_jobs_in_the_innermost():
    tr = layers.Tracer("run")
    with tr.span("unit", "unit") as u:
        with tr.span("q", "query") as q:
            with tr.span("build", "build") as b:
                pass
    assert (q.parent, b.parent, u.parent) == (u.id, q.id, None)
    assert tr.innermost((b.start + b.end) / 2, u).id == b.id
    assert tr.innermost(u.end, u).id in (u.id, q.id, b.id)
    assert tr.innermost(u.start - 1, u).id == u.id
    dumped = tr.as_json()
    assert {d["run_id"] for d in dumped} == {"run"} and len(dumped) == 3
    json.dumps(dumped)


@pytest.mark.parametrize("name,ok", [
    ("pass_s", True), ("spark.shuffle_write_bytes", True),
    ("queries.graph_pagerank.build_s", True), ("9lives", True), ("a-b.c_d", True),
    ("_hidden", False), (".dot", False), ("has space", False), ("slash/x", False),
    ("x" * 64, True), ("x" * 65, False), ("", False),
])
def test_metric_name_validity(name, ok):
    assert layers.valid_metric_name(name) is ok


def test_declared_metric_names_and_units_are_valid():
    from perfbench import run

    names = list(run.END_TO_END) + list(run.PER_LAYER)
    assert len(names) == len(set(names))
    assert all(layers.valid_metric_name(n) for n in names)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(run.PER_LAYER)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_cut_points_are_seeded_ordered_and_non_empty():
    import numpy as np

    a = inputs.cut_points(np.random.default_rng(3), 100, 4)
    b = inputs.cut_points(np.random.default_rng(3), 100, 4)
    assert a == b and a[0] == 0 and a[-1] == 100 and len(a) == 5
    assert all(x < y for x, y in zip(a, a[1:]))
    assert inputs.cut_points(np.random.default_rng(3), 3, 3) == [0, 1, 2, 3]


def test_events_keep_ts_order_and_unique_ids():
    import numpy as np

    ev = inputs.events(np.random.default_rng(7), 500)
    ts = ev.column("ts").to_pylist()
    assert ts == sorted(ts) and len(set(ts)) == len(ts)
    ids = ev.column("event_id").to_pylist()
    assert ids == list(range(500))


def test_shuffled_keeps_rows_and_follows_the_seed():
    import numpy as np

    docs = inputs.documents(np.random.default_rng(5), 50)
    a = inputs.shuffled(docs, np.random.default_rng(1))
    b = inputs.shuffled(docs, np.random.default_rng(1))
    c = inputs.shuffled(docs, np.random.default_rng(2))
    assert a.equals(b) and not a.equals(c)
    assert sorted(a.column("doc_id").to_pylist()) == list(range(50))
    assert a.sort_by("doc_id").equals(docs)


def test_documents_have_near_duplicates_and_unique_ids():
    import numpy as np

    docs = inputs.documents(np.random.default_rng(5), 300)
    ids = docs.column("doc_id").to_pylist()
    assert sorted(ids) == list(range(300))
    texts = docs.column("text").to_pylist()
    assert any(t.endswith(" dup") for t in texts)
    same = inputs.documents(np.random.default_rng(5), 300)
    assert same.equals(docs)
