"""Tests of the benchmark's pure helpers. Run with

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import random

import pytest

import console
import metrics
import profile_headline
import queries
import spans
import stats

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog")
ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ---------------------------------------------------------------- percentiles


@pytest.mark.parametrize(
    "n, p, ok",
    [(109, 90, True), (101, 90, True), (100, 90, True), (99, 90, False),
     (40, 75, True), (39, 75, False), (35, 70, True), (33, 70, False), (200, 95, True), (199, 95, False)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, p, ok):
    assert (stats.tail_percentile(n, p) == p) is ok


def test_percentile_is_nearest_rank():
    xs = list(range(1, 41))
    random.Random(0).shuffle(xs)
    assert stats.percentile(xs, 50) == 20
    assert stats.percentile(xs, 75) == 30
    assert sum(x > stats.percentile(xs, 75) for x in xs) == 10
    assert stats.percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


# ---------------------------------------------------------------- failures


def test_failed_share_counts_every_wrong_or_failed_operation():
    o = stats.Outcomes()
    for ok in (True, True, False, True):
        o.record(ok, "query x: wrong rows")
    assert (o.attempted, o.failed) == (4, 1)
    assert o.failed_share == 0.25
    assert o.problems == ["query x: wrong rows"]


def test_failed_share_with_nothing_attempted_is_total_failure():
    assert stats.Outcomes().failed_share == 1.0


def test_invalid_sql_must_be_refused():
    checker = console.Checker.__new__(console.Checker)
    bad = console.Request("invalid", "/sql", {"q": "SELEC 1"})
    assert checker.check(bad, 400, b"SQL error") is None
    assert checker.check(bad, 200, b"[]") is not None


# ---------------------------------------------------------------- event log


def test_event_log_files_reads_rolled_files_in_order():
    names = [os.path.basename(p) for p in spans.event_log_files(FIXTURE)]
    assert names == ["events_1_local-1", "events_2_local-1"]


def test_event_log_parser_totals_per_job():
    jobs = spans.parse_event_log(spans.event_log_files(FIXTURE))["jobs"]
    assert sorted(jobs) == [0, 1, 2]
    j0 = jobs[0]
    assert j0["group"] == "pb:q1:action"
    assert (j0["stages"], j0["tasks"]) == (2, 4)
    assert j0["executor_run_ms"] == 317 + 311 + 111 + 110
    assert j0["shuffle_write_bytes"] == j0["shuffle_read_bytes"] > 0
    assert j0["input_records"] == 1000
    # job 2 skipped stage 3: only the stage that ran counts; the truncated
    # last line of a live log is ignored
    j2 = jobs[2]
    assert (j2["stages"], j2["tasks"]) == (1, 1)
    assert j2["spill_bytes"] == 150
    assert j2["task_ms"] - j2["executor_run_ms"] == 10


def test_jobs_attributed_by_group_then_by_time_window():
    jobs = spans.parse_event_log(spans.event_log_files(FIXTURE))["jobs"]
    t1 = jobs[1]["submitted_ms"] / 1000
    windows = [("q9:action", t1 - 0.5, t1 + 0.5)]
    by_key = spans.attribute_jobs(jobs, windows, prefix="pb:")
    assert [j["group"] for j in by_key["q1:action"]] == ["pb:q1:action"]
    assert [j["group"] for j in by_key["q2:build"]] == ["pb:q2:build"]
    assert [j["group"] for j in by_key["q9:action"]] == ["other"]
    total = spans.sum_jobs(jobs.values())
    assert total["jobs"] == 3 and total["tasks"] == 6


# ---------------------------------------------------------------- spans


def test_self_time_subtracts_covered_child_intervals():
    sp = [
        {"id": 1, "name": "a", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "name": "b", "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "name": "b", "parent": 1, "start": 3.0, "end": 6.0},
        {"id": 4, "name": "c", "parent": 2, "start": 2.0, "end": 3.0},
    ]
    st = spans.self_times(sp)
    assert st["a"] == pytest.approx(5.0)
    assert st["b"] == pytest.approx(5.0)
    assert st["c"] == pytest.approx(1.0)


def test_tracer_records_nested_spans_and_can_be_switched_off():
    t = spans.Tracer()

    def inner():
        return 1

    def outer():
        return wrapped_inner() + 1

    wrapped_inner = t.wrap(inner, "inner")
    wrapped_outer = t.wrap(outer, "outer")
    t.set_trace("op1")
    assert wrapped_outer() == 2
    by_name = {s["name"]: s for s in t.spans}
    assert by_name["inner"]["parent"] == by_name["outer"]["id"]
    assert {s["trace"] for s in t.spans} == {"op1"}
    t.enabled = False
    assert wrapped_outer() == 2
    assert len(t.spans) == 2 and t.counts["outer"] == 1


# ---------------------------------------------------------------- console


def test_request_deck_has_the_exact_mix():
    deck = console.deck(random.Random(3))
    kinds = [r.kind for r in deck]
    assert len(deck) == console.DECK_SIZE == 40
    assert {k: kinds.count(k) for k in set(kinds)} == {
        "sql": 28, "preview": 4, "kpi": 4, "explain": 2, "invalid": 2,
    }
    sql_kinds = [r.label.split(":")[0] for r in deck if r.kind == "sql"]
    assert {k: sql_kinds.count(k) for k in set(sql_kinds)} == dict.fromkeys(console.SQL_KINDS, 7)
    two = deck + console.deck(random.Random(4), 1)
    labels = [r.label for r in two if r.kind == "sql"]
    assert {t: labels.count(t) for t in set(labels)} == {
        f"{k}:{t.__name__}": 14 // len(ts) for k, ts in console.SQL_KINDS.items() for t in ts
    }
    again = console.deck(random.Random(3))
    assert [r.url() for r in again] == [r.url() for r in deck]


def test_rows_compare_by_value_with_float_tolerance():
    got = [{"k": "a", "v": 0.30000000000000004}, {"k": "b", "v": None}]
    assert console.same_rows(got, ["k", "v"], [("a", 0.3), ("b", None)]) is None
    assert console.same_rows(got, ["k", "v"], [("a", 0.31), ("b", None)])
    assert console.same_rows(got[:1], ["k", "v"], [("a", 0.3), ("b", None)])


def test_html_table_cells():
    page = (b"<p>x</p><table><thead><tr><th>a</th><th>b</th></tr></thead>"
            b"<tbody><tr><td>&gt;=10mi</td><td>2</td></tr></tbody></table>")
    assert console.html_table(page) == [["a", "b"], [">=10mi", "2"]]


# ---------------------------------------------------------------- query choice


def _profile(rows):
    return {"queries": {
        name: {"warm_s": t, "jobs": jobs, "stages": jobs, "tasks": jobs, "build_s": t / 4,
               "streaming": "s" in flags, "layouts": "l" in flags}
        for name, t, jobs, flags in rows
    }}


def test_choice_takes_the_typical_query_of_each_time_stratum():
    rows = [(f"q{i}", 0.1 * (i + 1), 9 if i in (1, 6) else 2, "sl" if i == 2 else "")
            for i in range(8)]
    # strata by time: q0..q3 and q4..q7; median jobs 2, then nearest time
    assert profile_headline.choose(_profile(rows), k=2) == ["q2", "q5"]


def test_choice_swaps_in_a_layer_no_pick_reaches():
    rows = [(f"q{i}", 0.1 * (i + 1), 2, "") for i in range(6)]
    rows += [("qs", 0.65, 3, "s"), ("ql", 0.05, 2, "l")]
    # strata: [ql q0 q1 q2] [q3 q4 q5 qs]; typical picks q0 and q4, which
    # reach neither layer, so each stratum's query of a layer replaces them
    assert profile_headline.choose(_profile(rows), k=2) == ["ql", "qs"]


def test_pinned_sweep_is_the_choice_from_the_saved_profile():
    with open(os.path.join(ROOT, "perfbench", "data", "headline_profile.json")) as f:
        profile = json.load(f)
    assert sorted(profile["queries"]) == sorted(queries.HEADLINE)
    assert profile_headline.choose(profile) == queries.SWEEP


# ---------------------------------------------------------------- contract


def test_benchmark_json_names_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metrics.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == ["catalog-sweep", "sql-console"]
