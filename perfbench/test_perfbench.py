"""Tests for the benchmark's own code: event-log parsing, the
percentile rule, span self time and the corpus's expected counts.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os

import pytest

from perfbench import corpus, eventlog, stats, summarize
from perfbench.trace import Span, Tracer, self_times, union_length

HERE = os.path.dirname(os.path.abspath(__file__))
SMALL_LOG = os.path.join(HERE, "testdata", "eventlog_small")


# -- event log -------------------------------------------------------------
@pytest.fixture(scope="module")
def log():
    return eventlog.load(SMALL_LOG)


def test_eventlog_jobs_carry_their_tags(log):
    groups = {j.group for j in log.jobs.values()}
    assert {"t/wordcount/exec", "t/count/exec"} <= groups
    assert all(j.submit > 0 and j.stage_ids for j in log.jobs.values())


def test_eventlog_stage_times_and_task_metrics(log):
    stages = [st for st in log.stages.values() if st.tasks]
    assert stages
    assert all(st.complete >= st.submit > 0 for st in stages)
    assert sum(st.run_ms for st in stages) > 0
    # the word count reads text files and shuffles its partial counts
    assert any(st.reads_files and st.input_bytes > 0 for st in stages)
    assert any(st.shuffle_write_bytes > 0 and st.shuffle_records > 0 for st in stages)
    assert sum(st.output_bytes for st in stages) > 0


def test_eventlog_sql_metrics_resolve_to_operators(log):
    scanned = generated = 0.0
    for ex in log.executions:
        for acc, (node, metric, _t) in log.metric_ids(ex).items():
            if node.startswith("Scan text") and metric == "number of output rows":
                scanned += log.value(acc)
            if node == "Generate" and metric == "number of output rows":
                generated += log.value(acc)
    # 3 lines of 4 tokens each, replayed twice (passes=2)
    assert scanned == 3
    assert generated == 12


def test_eventlog_final_plan_is_walkable(log):
    names = {node.name for ex in log.executions for node in log.operators(ex)}
    assert "Exchange" in names
    assert any(n.endswith("HashAggregate") for n in names)


# -- percentile rule -------------------------------------------------------
@pytest.mark.parametrize("n, want", [(9, None), (19, None), (20, 50.0), (40, 75.0), (100, 90.0),
                                     (200, 95.0), (1000, 99.0), (10_000, 99.9)])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want
    if want is not None:
        assert stats.samples_beyond(n, want) >= stats.MIN_BEYOND


def test_percentile_is_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 75) == 4.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile(xs, 1) == 1.0


def test_summarize_reports_quartile_spread():
    runs = [{"correct": True, "metrics": {"wall_s": {"value": float(v), "unit": "s"}}} for v in range(1, 11)]
    s = summarize.summarize(runs)["wall_s"]
    assert (s["n"], s["median"], s["q1"], s["q3"]) == (10, 5.5, 2.75, 8.25)
    assert s["spread"] == pytest.approx((8.25 - 2.75) / 5.5)


# -- spans -----------------------------------------------------------------
def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, "pass", 0.0, 10.0, None, "p1"),
        Span(1, "build", 1.0, 4.0, 0, "p1"),
        Span(2, "exec", 3.0, 6.0, 0, "p1"),  # overlaps build: counted once
        Span(3, "inner", 4.5, 5.0, 2, "p1"),  # grandchild: not subtracted from pass
        Span(4, "late", 9.0, 12.0, 0, "p1"),  # clipped at the parent's end
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[2] == pytest.approx(2.5)
    assert st[3] == pytest.approx(0.5)


def test_union_length():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3), (3, 4)]) == 4.0


def test_tracer_nests_and_disables():
    t = Tracer(True)
    t.run = "r"
    with t.span("a"):
        with t.span("b", k=1):
            pass
    a, b = t.spans
    assert b.parent == a.id and a.parent is None and b.attrs == {"k": 1} and b.run == "r"
    assert a.start <= b.start <= b.end <= a.end
    off = Tracer(False)
    with off.span("a"):
        pass
    assert off.spans == []


# -- corpus ----------------------------------------------------------------
def test_corpus_expected_counts_match_reference_rules():
    files, expected = corpus.generate(3, 5_000, 60)
    assert len(files) == corpus.N_FILES
    assert expected == corpus.count_reference(files)
    assert sum(expected.values()) < 5_000  # punctuation-only tokens count for nothing


def test_corpus_is_a_function_of_the_seed():
    assert corpus.generate(5, 2_000, 40) == corpus.generate(5, 2_000, 40)
    assert corpus.generate(5, 2_000, 40)[0] != corpus.generate(6, 2_000, 40)[0]


def test_corpus_tokens_are_decorated():
    files, _ = corpus.generate(1, 5_000, 60)
    text = "".join(files)
    assert any(c.isupper() for c in text)
    assert any(c in corpus.PUNCT for c in text)
    assert "\t" in text
