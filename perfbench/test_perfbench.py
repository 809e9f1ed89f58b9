"""Unit tests of the benchmark's own arithmetic and generators.

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import json
import os
import random
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
from spans import Span, self_times, tail_percentile, union_length  # noqa: E402


def _span(sid, parent, t0, t1):
    return Span(sid, parent, f"s{sid}", t0, t1)


def test_union_length_merges_overlaps_and_gaps():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.75)]) == 4


def test_self_time_is_span_minus_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),   # overlaps its sibling: counted once
        _span(3, 1, 2.0, 3.0),   # a grandchild is its parent's business
        _span(4, 0, 9.0, 12.0),  # runs past the root: clipped to it
    ]
    st = self_times(spans)
    assert st[0] == 10 - (5 + 1)
    assert st[1] == 3 - 1
    assert st[2] == 3
    assert st[3] == 1
    assert st[4] == 3


def test_self_times_account_for_the_root_wall():
    spans = [_span(0, None, 0, 8), _span(1, 0, 1, 3), _span(2, 0, 3, 7),
             _span(3, 2, 4, 5)]
    assert sum(self_times(spans).values()) == 8


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile([1.0] * 39) is None
    xs = [float(i) for i in range(1, 41)]
    assert tail_percentile(xs) == (75.0, 30.0)  # 10 samples above 30
    xs = [float(i) for i in range(1, 101)]
    assert tail_percentile(xs) == (90.0, 90.0)
    assert tail_percentile([float(i) for i in range(1000)])[0] == 99.0
    assert tail_percentile([float(i) for i in range(10_000)])[0] == 99.9


def test_tail_percentile_ignores_input_order():
    xs = [float(i) for i in range(100)]
    ys = list(xs)
    random.Random(3).shuffle(ys)
    assert tail_percentile(xs) == tail_percentile(ys)


def _all_inputs(seed: int):
    rng = random.Random(seed)
    ev = gen.eval_set(rng, 5)
    d = gen.docs(rng, 0, 300, 0.05, 0.05, 2, evals=ev, contam_rate=0.05)
    originals = [(r[0], r[3]) for r in d.rows]
    b = gen.docs(rng, 300, 100, 0.1, 0.1, 2, originals=originals)
    vecs = gen.embeddings(rng, list(range(50)))
    qs = gen.queries(rng, vecs, 5)
    p = gen.panel(rng, 12)
    p2 = gen.revise(rng, p, 0.1)
    return (ev, d, b, vecs, qs,
            {i: p.records(i) for i in gen.INDICATORS},
            {i: p2.records(i) for i in gen.INDICATORS})


def test_generator_is_deterministic_per_seed():
    assert _all_inputs(5) == _all_inputs(5)
    assert _all_inputs(5) != _all_inputs(6)


def test_planted_copies_are_what_they_claim():
    rng = random.Random(1)
    d = gen.docs(rng, 0, 2000, 0.05, 0.05, 2)
    texts = d.texts()
    assert d.exact and d.near
    for o, c in d.exact:
        assert texts[o] == texts[c] and o < c
    for o, c in d.near:
        a, b = texts[o].split(), texts[c].split()
        assert len(a) == len(b)
        assert 1 <= sum(x != y for x, y in zip(a, b)) <= 2
    assert all(gen.WORDS_MIN <= len(t.split()) <= gen.WORDS_MAX
               for t in texts.values())


def test_cross_batch_copies_come_from_the_originals():
    rng = random.Random(2)
    base = gen.docs(rng, 0, 200, 0.0, 0.0, 0)
    b = gen.docs(rng, 200, 400, 0.1, 0.1, 2,
                 originals=[(r[0], r[3]) for r in base.rows])
    assert all(o < 200 <= c for o, c in b.exact + b.near)


def test_panel_revision_keeps_keys_and_nulls():
    rng = random.Random(4)
    p = gen.panel(rng, 20)
    q = gen.revise(rng, p, 0.5)
    for ind in gen.INDICATORS:
        assert p.series[ind].keys() == q.series[ind].keys()
        assert ({k for k, v in p.series[ind].items() if v is None}
                == {k for k, v in q.series[ind].items() if v is None})


def test_benchmark_json_matches_the_metrics_run_prints():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert ({m["name"]: m["unit"] for m in spec["per_layer"]}
            == run.layer_metrics())
    from workloads import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
