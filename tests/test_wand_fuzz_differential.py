"""Randomized differential fuzz: packed WAND vs relational BM25.

Every curated parity test (test_block_max.py, test_segments_wand.py)
runs a FIXED corpus and a FIXED query list; this module draws both
from a seeded RNG so the sub-block bounds, the JVM literal prune, and
the batch scorer face term-frequency shapes nobody hand-picked:
zipf-weighted vocab, empty documents, single-token documents, absent
query terms, duplicated query terms, k from 1 to 50. The relational
``bm25_topk`` path (oracle-checked against DuckDB by the driver) is
the ground truth; any drift on any drawn query is a real ranking bug.

Each single-query suite runs twice: at the default placement gate
(these small fixtures score on the driver) and with the gate forced
to 0 (``_workers`` twins: every query runs the ``applyInPandas``
plan), so both placements face the oracle on random queries.

Deterministic: one fixed seed, so a failure replays exactly.
"""

from __future__ import annotations

import numpy as np
import pytest

from open_source_search_engine_spark.operators.bm25 import bm25_topk
from open_source_search_engine_spark.operators.index_build import build_index
from open_source_search_engine_spark.operators.segments import (
    SegmentStore,
    build_segments,
    save_bucketed,
)
from open_source_search_engine_spark.operators import wand
from open_source_search_engine_spark.operators.wand import PackedIndex

SEED = 20260820
N_DOCS = 400
N_TRIALS = 24
VOCAB = [f"w{i:02d}" for i in range(40)]


def _draw_corpus(rng):
    """Zipf-weighted vocab over uneven doc lengths, incl. empty and
    single-token docs (the zero-token path lost data once — 08cc91c)."""
    w = 1.0 / np.arange(1, len(VOCAB) + 1)
    w /= w.sum()
    rows = []
    for d in range(N_DOCS):
        n = int(rng.integers(0, 60))
        if d < 4:
            n = d  # pin docs of length 0, 1, 2, 3
        toks = rng.choice(VOCAB, size=n, p=w)
        rows.append((d, " ".join(toks.tolist())))
    return rows


def _draw_queries(rng):
    """1-3 term AND/OR, optional NOT, absent + duplicated terms."""
    pool = VOCAB + ["absent"]
    trials = []
    for _ in range(N_TRIALS):
        nt = int(rng.integers(1, 4))
        terms = rng.choice(pool, size=nt, replace=False).tolist()
        if rng.random() < 0.2:
            terms.append(terms[0])  # duplicated query term
        mode = "and" if rng.random() < 0.6 else "or"
        neg = None
        if rng.random() < 0.3:
            neg = [str(rng.choice(VOCAB))]
        k = int(rng.choice([1, 3, 10, 50]))
        trials.append((terms, mode, neg, k))
    return trials


@pytest.fixture(scope="module")
def fuzz_env(spark, tmp_path_factory):
    rng = np.random.default_rng(SEED)
    docs = spark.createDataFrame(
        _draw_corpus(rng), "docid long, text string"
    )
    idx = build_index(docs, cache=True)
    store = build_segments(
        spark, docs,
        SegmentStore(str(tmp_path_factory.mktemp("idx_fuzz"))),
        n_segments=3, n_buckets=4, block_postings=8,
    )
    return idx, store, _draw_queries(rng)


def _want(idx, terms, mode, neg, k):
    return [
        tuple(r)
        for r in bm25_topk(
            idx, terms, k=k, mode=mode, neg_terms=neg
        ).collect()
    ]


def _check_singles(pidx, idx, trials):
    for terms, mode, neg, k in trials:
        got = [
            tuple(r)
            for r in pidx.wand_topk(
                terms, k=k, mode=mode, neg_terms=neg
            ).collect()
        ]
        assert got == _want(idx, terms, mode, neg, k), (
            terms, mode, neg, k,
        )


def _check_bucketed(spark, fuzz_env, tmp_path_factory):
    idx, store, trials = fuzz_env
    path = str(tmp_path_factory.mktemp("idx_fuzz_bt")) + "/t"
    save_bucketed(spark, store, "packed_fuzz_bt", path)
    try:
        pidx = PackedIndex(
            spark, store, packed=spark.table("packed_fuzz_bt")
        )
        assert pidx.jvm_prune
        _check_singles(pidx, idx, trials)
    finally:
        spark.sql("DROP TABLE IF EXISTS packed_fuzz_bt")


def test_fuzz_cache_path(spark, fuzz_env):
    idx, store, trials = fuzz_env
    _check_singles(PackedIndex(spark, store), idx, trials)


def test_fuzz_cache_path_workers(spark, fuzz_env, monkeypatch):
    monkeypatch.setattr(wand, "_DRIVER_SCORE_MAX_DF", 0)
    idx, store, trials = fuzz_env
    _check_singles(PackedIndex(spark, store), idx, trials)


def test_fuzz_bucketed_jvm_prune_path(spark, fuzz_env, tmp_path_factory):
    _check_bucketed(spark, fuzz_env, tmp_path_factory)


def test_fuzz_bucketed_jvm_prune_path_workers(
    spark, fuzz_env, tmp_path_factory, monkeypatch
):
    monkeypatch.setattr(wand, "_DRIVER_SCORE_MAX_DF", 0)
    _check_bucketed(spark, fuzz_env, tmp_path_factory)


def test_fuzz_batch_path(spark, fuzz_env):
    """All drawn queries in ONE batched job == per-query results.
    Batch fixes k per call, so group trials by k."""
    idx, store, trials = fuzz_env
    pidx = PackedIndex(spark, store)
    by_k: dict[int, dict] = {}
    for i, (terms, mode, neg, k) in enumerate(trials):
        by_k.setdefault(k, {})[f"q{i}"] = (terms, mode, neg)
    for k, queries in by_k.items():
        rows = pidx.wand_topk_batch(queries, k=k).collect()
        got_by_q: dict[str, list] = {}
        for r in rows:
            got_by_q.setdefault(r["query_id"], []).append(
                (r["docid"], r["score"])
            )
        for qid, (terms, mode, neg) in queries.items():
            want = [
                (r["docid"], r["score"])
                for r in pidx.wand_topk(
                    terms, k=k, mode=mode, neg_terms=neg
                ).collect()
            ]
            got = sorted(
                got_by_q.get(qid, []), key=lambda t: (-t[1], t[0])
            )
            assert got == want, (qid, terms, mode, neg, k)
