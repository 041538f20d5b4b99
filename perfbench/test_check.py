"""Tests of the benchmark's answer checks and its own arithmetic.

    python -m pytest perfbench -q

No Spark and no corpus: the checks are pure functions, and the oracle
tests run DuckDB over a few in-memory rows.
"""

from __future__ import annotations

import copy
import json

import pytest

from perfbench import check, mix
from perfbench.oracle import spec_of
from perfbench.spans import EventLog, StageRecord, Tracer, attribute

RANKED = [("conv1", 0, 3.1416), ("conv2", 3, 2.5), ("conv0", 1, 2.5)]
SELECT = {
    "numFound": 42,
    "page": RANKED,
    "facet": [("tool_3", 9), ("tool_1", 4)],
    "json_facet": [("user", 20, 810.0, 40.5), ("tool", 10, 300.0, 30.0)],
}


def test_identical_answers_pass():
    assert check.ranked(list(RANKED), RANKED) is None
    assert check.select(copy.deepcopy(SELECT), SELECT) is None


def test_scores_compare_at_four_decimals():
    got = [(c, t, s + 0.00004) for c, t, s in RANKED]
    assert check.ranked(got, RANKED) is None


@pytest.mark.parametrize("perturb", [
    lambda r: r[:-1],                                   # a row missing
    lambda r: [r[1], r[0], r[2]],                       # ranks swapped
    lambda r: [("conv9", 0, r[0][2])] + r[1:],          # wrong doc
    lambda r: [(r[0][0], r[0][1], r[0][2] + 0.001)] + r[1:],  # score off
])
def test_perturbed_bm25_answer_fails(perturb):
    assert check.ranked(perturb(list(RANKED)), RANKED) is not None


@pytest.mark.parametrize("field,value", [
    ("numFound", 41),
    ("facet", [("tool_3", 8), ("tool_1", 4)]),
    ("json_facet", [("user", 20, 810.0, 40.6), ("tool", 10, 300.0, 30.0)]),
    ("page", RANKED[:2]),
])
def test_perturbed_select_answer_fails(field, value):
    got = copy.deepcopy(SELECT)
    got[field] = value
    assert check.select(got, SELECT) is not None


def test_deleted_keys_must_stay_gone():
    assert check.absent(RANKED, {("conv2", 3)}) is not None
    assert check.absent(RANKED, {("conv7", 0)}) is None


def test_empty_request_is_refused_unless_named():
    with pytest.raises(mix.EmptyRequest):
        mix.require_hits({"id": "q", "hits": 0})
    mix.require_hits({"id": "q", "hits": 0, "expect_empty": True})
    mix.require_hits({"id": "q", "hits": 3})


def test_spec_round_trips_through_json():
    spec = {"phrases": [["a", "b"]], "phrase_slop": 1, "k": 10,
            "filters": [["role", "user"]]}
    s = spec_of(json.loads(json.dumps(spec)))
    assert s.phrases == (("a", "b"),) and s.filters == (("role", "user"),)


def test_oracle_matches_a_hand_computed_answer():
    duckdb = pytest.importorskip("duckdb")
    from perfbench.oracle import Oracle

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE corpus AS SELECT *, TIMESTAMP '2024-01-01' AS ts FROM (VALUES "
        "('c0', 0, 'user', 'tool_1', ['a', 'b', 'a']),"
        "('c0', 1, 'tool', NULL, ['b', 'c']),"
        "('c1', 0, 'user', 'tool_2', ['a', 'c', 'c', 'd'])"
        ") t(conv_id, turn_idx, role, tool, toks)")
    o = Oracle(con)
    ans = o.bm25(spec_of({"must": ["a"], "k": 10}))
    assert ans["hits"] == 2 and [r[:2] for r in ans["rows"]] == [["c0", 0], ["c1", 0]]
    assert o.facet("role", ["c"], 10) == [["tool", 1], ["user", 1]]
    o.set_deleted([("c0", 0)])
    ans = o.bm25(spec_of({"must": ["a"], "k": 10}))
    assert ans["hits"] == 1 and ans["rows"][0][:2] == ["c1", 0]
    assert o.facet("role", ["a"], 10) == [["user", 1]]


def test_event_log_attribution_sums_a_spans_jobs():
    tr = Tracer(enabled=True)
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
    log = EventLog(
        jobs={0: (outer.id, [0]), 1: (inner.id, [1, 2]), 2: ("other", [3])},
        stages={
            0: StageRecord(0, "scan", tasks=4, run_ms=40.0, input_records=400),
            1: StageRecord(1, "python", tasks=1, run_ms=30.0, wall_ms=31.0),
            2: StageRecord(2, "other", tasks=0),  # skipped stage
            3: StageRecord(3, "scan", tasks=9),
        },
    )
    attribute(tr, log)
    assert outer.spark["tasks"] == 4 and outer.spark["scan_input_records"] == 400
    assert inner.spark["stages"] == 1 and inner.spark["python_wall_ms"] == 31.0
    assert tr.self_ms(outer) <= outer.ms
