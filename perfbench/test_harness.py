"""Self-tests of the benchmark harness (no Spark session needed).

    python3 -m pytest perfbench -q
"""

import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import inputs  # noqa: E402
from harness import (  # noqa: E402
    Span, Tracer, rank_mismatch, self_times, union_length, window_drift,
)
from sparkstats import parse_metric_total  # noqa: E402
from workloads import bytes_written, shingle_jaccard  # noqa: E402


# ------------------------------------------------------------ statistics
def test_window_drift():
    assert window_drift([1.0, 1.0, 2.0, 2.0]) == 2.0
    # an odd middle sample belongs to neither half
    assert window_drift([1.0, 100.0, 1.0]) == 1.0
    with pytest.raises(ValueError):
        window_drift([1.0])


# --------------------------------------------------- generator determinism
def _gen(seed):
    from orama_spark.sources.webpages import CorpusGenerator

    return CorpusGenerator(seed=seed)


def test_query_sequence_is_a_function_of_the_seed():
    a = inputs.query_sequence(_gen(7), 7, 3)
    b = inputs.query_sequence(_gen(7), 7, 3)
    c = inputs.query_sequence(_gen(8), 8, 3)
    assert a == b
    assert a != c
    # a seed changes the draws, never the size or the mix of shapes
    assert [q.shape for q in a] == [q.shape for q in c] == list(inputs.SHAPES) * 3


def test_fuzzy_queries_are_one_edit_from_a_vocabulary_word():
    gen = _gen(3)
    vocab = set(gen.vocab)
    for q in inputs.query_sequence(gen, 3, 5):
        if q.shape == "fuzzy":
            assert any(sum(x != y for x, y in zip(q.term, w)) == 1
                       for w in vocab if len(w) == len(q.term))


def test_planted_near_duplicates_are_deterministic_one_word_edits():
    gen = _gen(5)
    ids = 1 + np.arange(300)

    def plant(seed):
        return inputs.plant_near_duplicates(
            gen, inputs.pages(gen, ids), 3, 1000, inputs.rng_for(seed, 100))

    (pdf1, pairs1), (pdf2, pairs2) = plant(1), plant(1)
    _, pairs3 = plant(2)
    assert pairs1 == pairs2 and pdf1.equals(pdf2)
    assert pairs1 != pairs3
    assert len(pdf1) == 303 and len(pairs3) == 3
    text = pdf1.set_index("doc_id")["text"]
    for src, copy in pairs1:
        a, b = text[src].split(" "), text[copy].split(" ")
        assert len(a) == len(b) >= inputs.MIN_PLANT_WORDS
        assert sum(x != y for x, y in zip(a, b)) == 1
        assert shingle_jaccard(text[src], text[copy]) >= 0.5


def test_pages_are_a_function_of_seed_and_ids():
    ids = np.array([4, 9, 12])
    assert inputs.pages(_gen(1), ids).equals(inputs.pages(_gen(1), ids))
    assert not inputs.pages(_gen(1), ids).equals(inputs.pages(_gen(2), ids))


# ---------------------------------------------------------- comparator
GOOD = [(3, 9.5), (1, 7.25), (8, 7.25), (2, 1.0)]


def test_comparator_accepts_identical_and_tiny_float_noise():
    assert rank_mismatch(GOOD, list(GOOD)) is None
    assert rank_mismatch([(d, s * (1 + 1e-12)) for d, s in GOOD], GOOD) is None


def test_comparator_rejects_swapped_rank():
    swapped = [GOOD[0], GOOD[2], GOOD[1], GOOD[3]]
    assert "rank" in rank_mismatch(swapped, GOOD)


def test_comparator_rejects_score_drift_of_1e_6():
    drifted = [(d, s * (1 + 1e-6)) for d, s in GOOD]
    assert "score" in rank_mismatch(drifted, GOOD)


def test_comparator_rejects_missing_and_extra_hits():
    assert rank_mismatch(GOOD[:-1], GOOD) is not None
    assert rank_mismatch(GOOD + [(9, 0.5)], GOOD) is not None


# ------------------------------------------------------- span self time
def _span(sid, parent, start, end):
    return Span(sid, f"s{sid}", 1, parent, start, end, f"g{sid}")


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(1, 3), (2, 5), (7, 8)]) == 5.0
    assert union_length([(0, 10), (2, 3)]) == 10.0


def test_self_time_is_duration_minus_union_of_children():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 3.0),
        _span(3, 1, 2.0, 5.0),   # overlaps its sibling: counted once
        _span(4, 1, 7.0, 8.0),
        _span(5, 3, 2.5, 4.0),   # grandchild: only its parent's self shrinks
    ]
    own = self_times(spans)
    assert own[1] == pytest.approx(10.0 - 5.0)
    assert own[2] == pytest.approx(2.0)
    assert own[3] == pytest.approx(3.0 - 1.5)
    assert own[4] == pytest.approx(1.0)
    assert own[5] == pytest.approx(1.5)


def test_self_time_clips_children_to_the_parent():
    own = self_times([_span(1, None, 0.0, 4.0), _span(2, 1, 3.0, 9.0)])
    assert own[1] == pytest.approx(3.0)


def test_tracer_records_nesting_and_job_groups():
    entered, left = [], []
    tr = Tracer(True, on_enter=lambda g, n: entered.append(g),
                on_exit=left.append)
    op = tr.new_op()
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    inner, outer = tr.spans
    assert (inner.name, outer.name) == ("inner", "outer")
    assert inner.parent == outer.span_id and outer.parent is None
    assert inner.op_id == outer.op_id == op
    assert outer.start <= inner.start <= inner.end <= outer.end
    # leaving a span restores the enclosing span's job group
    assert entered == [outer.group, inner.group]
    assert left == [outer.group, None]
    assert tr.innermost_at(inner.start) is inner


def test_disabled_tracer_records_nothing():
    tr = Tracer(False, on_enter=lambda g, n: pytest.fail("called"))
    with tr.span("x"):
        pass
    assert tr.spans == [] and tr.overhead_s == 0.0


# ------------------------------------------------------------ read-outs
@pytest.mark.parametrize("text,want", [
    ("1,234", 1234.0),
    ("857 ms", 857.0),
    ("12.0 B", 12.0),
    ("total (min, med, max (stageId: taskId))\n973.1 KiB (236.5 KiB, "
     "245.4 KiB, 246.2 KiB (stage 0.0: task 2))", 973.1 * 1024),
    ("total (min, med, max (stageId: taskId))\n10.6 s (2.6 s, 2.7 s, "
     "2.7 s (stage 0.0: task 3))", 10600.0),
])
def test_parse_metric_total(text, want):
    assert parse_metric_total(text) == pytest.approx(want)


def test_bytes_written_counts_new_and_changed_files():
    before = {"a": (1, 10, 5), "b": (2, 20, 5)}
    after = {"a": (1, 10, 5), "b": (2, 25, 6), "c": (3, 7, 7)}
    assert bytes_written(before, after) == 25 + 7
