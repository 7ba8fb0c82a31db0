"""Spans: parents, self time, and restoring wrapped functions."""

import time

from perfbench.tracing import Tracer
from perfbench.workloads import _check_ingest, _jaccard, _shingles


def test_self_time_subtracts_children():
    tr = Tracer(enabled=True)
    with tr.span("outer"):
        time.sleep(0.02)
        with tr.span("inner"):
            time.sleep(0.03)
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    st = tr.self_times()
    assert abs(st["inner"] - (inner["end"] - inner["start"])) < 1e-9
    assert abs(st["outer"] + st["inner"] - (outer["end"] - outer["start"])) < 1e-9
    assert 0.015 < st["outer"] < 0.03


def test_patched_wraps_then_restores():
    import json

    original = json.dumps
    tr = Tracer(enabled=True)
    with tr.patched([("json", "dumps", "json.dumps")]):
        assert json.dumps([1]) == "[1]"
        assert json.dumps is not original
    assert json.dumps is original
    assert [s["name"] for s in tr.spans] == ["json.dumps"]


def test_disabled_tracer_records_nothing():
    import json

    tr = Tracer(enabled=False)
    with tr.patched([("json", "dumps", "json.dumps")]), tr.span("x"):
        json.dumps(1)
    assert tr.spans == []


def test_shingles_and_jaccard():
    assert _shingles("A  b c d") == {"a b c", "b c d"}
    assert _shingles("a b") == {"a b"}
    assert _jaccard({"x", "y"}, {"y", "z"}) == round(1 / 3, 4)


def test_check_ingest_flags_wrong_status_counts():
    batches = [
        {"rows": [[0, "a b c d"], [1, "e f g h i j"]], "exact_ids": [], "near_ids": []},
        {"rows": [[2, "a b c d"], [3, "e f g h i k"], [4, "p q r s"]],
         "exact_ids": [2], "near_ids": [3]},
    ]
    row0 = {"n_unique": 2, "n_new": 2, "n_exact_seen": 0, "n_near_seen": 0}
    good = {"n_unique": 3, "n_new": 1, "n_exact_seen": 1, "n_near_seen": 1}
    admitted = {0, 1, 4}
    assert _check_ingest(batches, [row0, good], admitted, 0.5) == 0
    assert _check_ingest(batches, [row0, dict(good, n_exact_seen=0, n_near_seen=2)],
                         admitted, 0.5) == 1
    assert _check_ingest(batches, [row0, "RuntimeError()"], admitted, 0.5) == 1
    # jaccard of the near_seen document to its source is 0.6
    assert _check_ingest(batches, [row0, good], admitted, 0.9) == 1
