"""Unit tests for the benchmark's own helpers (no Spark).

    python3 -m pytest perfbench/tests/test_helpers.py -q
"""

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import inputs  # noqa: E402
from perfbench.stats import OpLog, percentile, tail  # noqa: E402
from perfbench.trace import Tracer, breakdown, layer_self_ms, self_times  # noqa: E402


@pytest.mark.parametrize("n, p", [
    (5, 50.0),     # too few samples for any tail: the median, labelled
    (20, 50.0),    # rank 10 leaves exactly 10 beyond
    (39, 50.0),    # p75 rank 30 leaves 9
    (40, 75.0),    # p75 rank 30 leaves 10
    (100, 90.0),   # p95 rank 95 leaves 5
    (200, 95.0),
    (1000, 99.0),
    (10000, 99.9),
])
def test_tail_picks_highest_percentile_with_ten_beyond(n, p):
    xs = list(range(n))
    got_p, value = tail(xs)
    assert got_p == p
    assert value == percentile(xs, p)
    assert sum(1 for x in xs if x > value) >= (10 if n >= 20 else 0)


def test_percentile_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 1) == 1.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_failed_frac_counts_errors_and_late_failures():
    log = OpLog()
    ok = log.add("search", 0.1, key=("search", ("term", "a")))
    log.add("search", 0.2, key=("search", ("term", "b")), error="boom")
    log.add("count", 0.3)
    assert (log.attempted, log.failed) == (3, 1)
    log.fail(ok, "wrong top-k")          # found by a later check
    log.fail(ok, "second reason")        # a failed op counts once
    assert log.failed == 2
    assert log.failed_frac() == pytest.approx(2 / 3)
    assert ok["error"] == "wrong top-k"


def _span(i, name, parent, start, end, op=0):
    return {"id": i, "name": name, "parent": parent, "op": op,
            "start": start, "end": end}


def test_self_time_subtracts_covered_child_interval():
    spans = [
        _span(0, "search", None, 0.0, 10.0),
        _span(1, "compile", 0, 1.0, 3.0),
        _span(2, "collect", 0, 2.0, 6.0),   # overlaps compile: union 1..6
        _span(3, "decode", 2, 2.5, 3.5),
        _span(4, "late", 0, 9.0, 12.0),     # runs past its parent: clipped
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[2] == pytest.approx(4.0 - 1.0)
    assert st[3] == pytest.approx(1.0)
    assert layer_self_ms(spans)["search"] == pytest.approx(4000.0)


def test_breakdown_children_plus_self_equals_total():
    spans = [
        _span(0, "search", None, 0.0, 4.0),
        _span(1, "compile", 0, 0.5, 1.0),
        _span(2, "spark.collect", 0, 1.0, 3.5),
        _span(3, "search", None, 5.0, 6.0, op=1),
        _span(4, "compile", 3, 5.0, 5.5, op=1),
    ]
    b = breakdown(spans, "search")
    assert b["total_ms"] == pytest.approx(5000.0)
    assert b["children_ms"] == pytest.approx({"compile": 1000.0, "spark.collect": 2500.0})
    assert b["self_ms"] + sum(b["children_ms"].values()) == pytest.approx(b["total_ms"])


def test_tracer_records_nesting_and_is_free_when_disabled():
    tr = Tracer(True)
    with tr.span("op", op=7):
        with tr.span("child") as c:
            c["rows"] = 3
    assert [s["name"] for s in tr.spans] == ["child", "op"]
    child, op = tr.spans
    assert child["parent"] == op["id"] and child["op"] == 7 and child["rows"] == 3
    off = Tracer(False)
    with off.span("op") as rec:
        assert rec is None
    assert off.spans == []


def test_inputs_are_a_function_of_the_seed():
    a, b = inputs.documents(200, 5), inputs.documents(200, 5)
    pd.testing.assert_frame_equal(a, b)
    assert not inputs.documents(200, 6)["text"].equals(a["text"])
    more = inputs.documents(50, 5, first_id=200)
    assert more["doc_id"].tolist() == list(range(200, 250))
    v = inputs.vectors(100, 8, 5)
    assert v["vec_id"].tolist() == list(range(100))
    assert inputs.exact_topk(__import__("numpy").stack(v["embedding"]), 3, 5)[0] != 3


def test_df_bands_and_mix_are_deterministic():
    docs = inputs.documents(400, 9)
    df = {}
    for t in docs["text"]:
        for tok in set(inputs.simple_tokens(t)):
            df[tok] = df.get(tok, 0) + 1
    bands = inputs.df_bands(df, len(docs))
    assert bands["hot"] and all(df[t] > 40 for t in bands["hot"])
    assert bands["mid"] and all(5 < df[t] <= 40 for t in bands["mid"])
    assert bands["rare"] and all(df[t] <= 5 for t in bands["rare"])
    m1 = inputs.query_mix(9, bands, docs["text"].tolist(), 100, traced=False)
    m2 = inputs.query_mix(9, bands, docs["text"].tolist(), 100, traced=False)
    assert m1 == m2
    kinds = [k for k, _ in m1]
    assert kinds.count("search") == 14 and kinds.count("sql64") == 5 and kinds.count("hnsw") == 3
    assert "pq" not in kinds and "count" not in kinds
    traced = [k for k, _ in inputs.query_mix(9, bands, docs["text"].tolist(), 100, traced=True)]
    assert traced.count("count") == 1 and traced.count("pq") == 1
    assert [k for k, _ in inputs.warmup_ops(9, bands, 100, traced=False)] == ["sql64", "hnsw", "sql64"]


def test_twin_check_accepts_its_own_answer_and_rejects_changes():
    pytest.importorskip("duckdb")
    from perfbench.oracle import Twin, search_sql

    docs = inputs.documents(300, 3)[["doc_id", "text"]]
    twin = Twin(docs)
    try:
        spec = ("and", "spark", "table")
        rows = twin.rows(search_sql(spec, 10))
        hits = [(d, s / 1e6) for d, s in rows]
        assert twin.check_search(spec, hits, 10) is None
        assert twin.check_search(spec, hits[:-1], 10) is not None        # one short
        bumped = [(hits[0][0], hits[0][1] * 1.01)] + hits[1:]
        assert twin.check_search(spec, bumped, 10) is not None           # score off
        n = len(twin.match(["spark", "table"]))
        assert twin.check_count(("and", "spark", "table"), n) is None
        assert twin.check_count(("and", "spark", "table"), n + 1) is not None
    finally:
        twin.close()
