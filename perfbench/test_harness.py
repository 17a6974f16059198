"""Unit tests of the benchmark harness's own logic.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import corpus as C  # noqa: E402
from harness import (  # noqa: E402
    FailLedger,
    Span,
    Tracer,
    nearest_rank,
    blocking_path,
    self_times,
    tail_percentile,
    valid_name,
    valid_unit,
)


@pytest.mark.parametrize(
    "n, pct",
    [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    assert tail_percentile(n) == pct


def test_nearest_rank():
    xs = list(range(1, 101))
    assert nearest_rank(xs, 50) == 50
    assert nearest_rank(xs, 90) == 90
    assert nearest_rank([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        nearest_rank([], 50)


def test_self_time_subtracts_union_of_children():
    spans = [
        Span("root", 0.0, 10.0, None, "op"),
        Span("a", 1.0, 4.0, 0, "op"),
        Span("b", 3.0, 6.0, 0, "op"),  # overlaps a: union covers 1..6
        Span("leaf", 2.0, 3.0, 1, "op"),
        Span("late", 9.0, 12.0, 0, "op"),  # clipped to the parent's end
    ]
    st = self_times(spans)
    assert st == pytest.approx([10 - 5 - 1, 3 - 1, 3, 1, 3])


def test_blocking_path_reconciles_to_the_phase_wall():
    spans = [
        Span("run", 0.0, 12.0, None, None),
        Span("setup", 0.0, 4.0, 0, None),
        Span("warmup.build", 0.0, 2.0, 1, None),
        Span("segments.build", 0.5, 2.0, 2, None),
        Span("segments.build", 2.0, 3.0, 1, None),
        Span("window", 4.0, 10.0, 0, None),
        Span("wand.plan", 4.0, 5.0, 5, "q1"),
        Span("wand.plan", 6.0, 7.5, 5, "q2"),
        Span("probes", 10.0, 12.0, 0, None),  # outside the phases
    ]
    bp = blocking_path(spans)
    assert bp["self_s"] == pytest.approx({
        "setup/warmup.build": 0.5, "setup/warmup.build/segments.build": 1.5,
        "setup/segments.build": 1.0, "window/wand.plan": 2.5})
    assert bp["wall_s"] == 10.0 and bp["residual_s"] == pytest.approx(4.5)
    assert sum(bp["self_s"].values()) + bp["residual_s"] == pytest.approx(bp["wall_s"])


def test_tracer_nesting_and_operation_ids():
    tr = Tracer()
    with tr.span("run"):
        with tr.span("query", op="q1"):
            with tr.span("plan"):
                pass
        with tr.span("query", op="q2"):
            pass
    names = [(s.name, s.parent, s.op) for s in tr.spans]
    assert names == [("run", None, None), ("query", 0, "q1"), ("plan", 1, "q1"),
                     ("query", 0, "q2")]
    # sequential children on one thread: self times add up to the wall
    wall = tr.spans[0].end - tr.spans[0].start
    assert sum(self_times(tr.spans)) == pytest.approx(wall)


@pytest.mark.parametrize("name, ok", [
    ("latency_p50_ms", True), ("spark.jobs_per_query", True), ("9lives", True),
    ("a" * 64, True), ("a" * 65, False), ("_x", False), (".x", False),
    ("a b", False), ("a/b", False), ("", False),
])
def test_metric_name_charset(name, ok):
    assert valid_name(name) is ok


def test_unit_charset():
    for u in ("ms", "s", "1/s", "count", "ratio", "bytes", "%"):
        assert valid_unit(u)
    for u in ("", "milli seconds", "x" * 17):
        assert not valid_unit(u)


def test_benchmark_json_follows_the_contract():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(valid_name(n) for n in names)
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25 and valid_unit(m["unit"])
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and valid_unit(m["unit"])
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in spec["end_to_end"])}]


def test_fail_ledger_counts_failures_against_attempts():
    led = FailLedger()
    assert led.ratio == 0.0
    led.record(True)
    led.record(False, "w1 w2")
    led.record(True)
    led.record(False)
    assert (led.attempted, led.failed, led.messages) == (4, 2, ["w1 w2"])
    assert led.ratio == 0.5


def test_checker_counts_each_distinct_query_once(capsys):
    import workloads as W

    b = W.Bench("serve", 1, 1.0, "/nonexistent", trace=False)
    q1, q2, q3 = (C.Query("and", ("a",)), C.Query("or", ("a", "b")),
                  C.Query("not", ("a",), ("b",)))
    good = [(1, 2.0), (2, 1.0)]
    chk = W.Checker(b, {(q1, 5): good, (q2, 5): good, (q3, 5): good})
    chk.check((q1, 5), good)
    chk.check((q1, 5), good)  # a repeat of a matching query: still one op
    chk.check((q2, 5), good)
    chk.check((q2, 5), [(2, 1.0), (1, 2.0)])  # a repeat that mismatches
    chk.fail((q3, 5), RuntimeError("boom"))
    chk.close()
    assert (b.ledger.attempted, b.ledger.failed) == (3, 2)
    out = capsys.readouterr().out
    assert "MISMATCH [a | b]" in out and "ERROR [a -b]" in out


def test_topk_matches_tolerates_only_the_rounding_grid():
    want = [(3, 1.2345), (1, 1.0)]
    assert C.topk_matches([(3, 1.2346), (1, 1.0)], want)
    assert not C.topk_matches([(3, 1.2355), (1, 1.0)], want)
    assert not C.topk_matches([(1, 1.0), (3, 1.2345)], want)
    assert not C.topk_matches(want[:1], want)


TEXTS = [
    "the cat sat on the mat", "a dog and a cat", "cat cat cat dog",
    "the quick brown fox", "dog eats the cat food", "brown dog brown cat",
    "nothing here at all", "fox and dog and cat and mat",
]


@pytest.mark.parametrize("q", [
    C.Query("and", ("cat",)), C.Query("and", ("cat", "dog")),
    C.Query("or", ("fox", "mat")), C.Query("not", ("cat",), ("dog",)),
    C.Query("and", ("brown", "dog", "cat")), C.Query("and", ("zebra",)),
])
@pytest.mark.parametrize("lim", [5, 8])
def test_batched_oracle_equals_bm25_oracle_sql(q, lim):
    import duckdb
    import pyarrow as pa

    from open_source_search_engine_spark.operators.bm25 import bm25_oracle_sql

    con = duckdb.connect()
    con.register("documents", pa.table({"doc_id": list(range(lim)),
                                        "text": TEXTS[:lim]}))
    sql = bm25_oracle_sql(list(q.terms), k=3, mode=q.engine_mode,
                          neg_terms=list(q.neg) or None)
    want = [(int(d), float(s)) for d, s in con.execute(sql).fetchall()]
    got = C.oracle_topk(TEXTS, [(q, lim), (C.Query("and", ("the",)), 3)], k=3)[0]
    assert got == want


def test_query_logs_are_deterministic_and_warmup_is_disjoint():
    import numpy as np

    rng = np.random.default_rng(0)
    texts = [" ".join(f"w{t}" for t in rng.zipf(1.2, 80) % 20000) for _ in range(400)]
    warm, log = C.query_logs(texts, 60, 4)
    assert (warm, log) == C.query_logs(texts, 60, 4)
    firsts = list(dict.fromkeys(log))
    assert [q.mode for q in firsts[:8]] == [m for m, _t in C.SHAPES]
    warm_terms = {t for q in warm for t in q.terms + q.neg}
    assert not warm_terms & {t for q in log for t in q.terms + q.neg}
    firsts = set()
    repeats = 0
    for q in log:
        repeats += q in firsts
        firsts.add(q)
    assert repeats == len(log) // C.REPEAT_EVERY
    for bt in C.distinct_batches(log, 8):
        assert len(set(bt)) == 8


def test_batch_rows_group_by_query_in_rank_order():
    import workloads as W

    rows = [{"query_id": "1", "docid": 4, "score": 1.0},
            {"query_id": "0", "docid": 9, "score": 2.0},
            {"query_id": "1", "docid": 2, "score": 3.0},
            {"query_id": "1", "docid": 1, "score": 1.0}]
    assert W._rows(rows, batch=True) == {"0": [(9, 2.0)],
                                          "1": [(2, 3.0), (1, 1.0), (4, 1.0)]}
