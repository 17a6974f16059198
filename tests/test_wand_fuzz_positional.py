"""Randomized positional fuzz: packed phrase/proximity vs relational.

The batched span kernels (_gather_positions / _phrase_keep_mask /
_prox_min_gap, wand.py) are new numpy code this round; the curated
tests pin them on one fixed corpus and a handful of hand-picked
phrases. This module draws phrases FROM the random corpus itself
(real bigrams/trigrams, so matches exist), mixes in non-occurring
and duplicated-word phrases, and random proximity pairs with random
weights — then requires rank-identity against the independent
relational implementations (phrase_bm25's offset-corrected adjacency
aggregation; the exploded-positions span join of proximity_bm25),
single-query and batched. The single-query suites also run with the
placement gate forced to 0 (``_workers`` twins), so the driver and the
``applyInPandas`` placement both face the oracle. Seeded: failures
replay exactly.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from open_source_search_engine_spark.operators.bm25 import bm25_topk
from open_source_search_engine_spark.operators.index_build import build_index
from open_source_search_engine_spark.operators.search import phrase_bm25
from open_source_search_engine_spark.operators.segments import (
    SegmentStore,
    build_segments,
)
from open_source_search_engine_spark.operators import wand
from open_source_search_engine_spark.operators.wand import PackedIndex

SEED = 20260820
N_DOCS = 300
VOCAB = [f"w{i:02d}" for i in range(30)]


def _corpus(rng):
    w = 1.0 / np.arange(1, len(VOCAB) + 1)
    w /= w.sum()
    rows = []
    for d in range(N_DOCS):
        n = int(rng.integers(0, 50))
        if d < 4:
            n = d
        rows.append((d, rng.choice(VOCAB, size=n, p=w).tolist()))
    return rows


def _draw_phrases(rng, rows):
    """2-3 word phrases: real n-grams, absent pairs, duplicated words."""
    toked = [t for _, t in rows if len(t) >= 3]
    phrases = []
    for _ in range(8):  # real bigrams/trigrams from random docs
        toks = toked[int(rng.integers(0, len(toked)))]
        i = int(rng.integers(0, len(toks) - 2))
        ln = int(rng.choice([2, 3]))
        phrases.append(toks[i : i + ln])
    phrases.append(["w00", "w00"])  # duplicated word, likely present
    phrases.append(["w29", "w28", "w29"])  # rare trigram, likely absent
    phrases.append([str(rng.choice(VOCAB)), "absent"])  # term not in corpus
    return [(p, int(rng.choice([1, 5, 10, 25]))) for p in phrases]


def _draw_prox(rng):
    trials = []
    for _ in range(6):
        t1, t2 = rng.choice(VOCAB, size=2, replace=False).tolist()
        w = float(rng.choice([0.25, 0.5, 1.0]))
        trials.append((t1, t2, w, int(rng.choice([5, 10, 25]))))
    return trials


@pytest.fixture(scope="module")
def pos_env(spark, tmp_path_factory):
    rng = np.random.default_rng(SEED)
    rows = _corpus(rng)
    docs = spark.createDataFrame(
        [(d, " ".join(t)) for d, t in rows], "docid long, text string"
    )
    idx = build_index(docs, with_positions=True, cache=True)
    store = build_segments(
        spark, docs,
        SegmentStore(str(tmp_path_factory.mktemp("idx_fuzz_pos"))),
        n_segments=2, n_buckets=4, with_positions=True,
        block_postings=8,
    )
    pidx = PackedIndex(spark, store)
    return idx, pidx, _draw_phrases(rng, rows), _draw_prox(rng)


def _prox_want(idx, t1, t2, w, k):
    """The relational proximity spec (queries_ir3.proximity_bm25),
    parameterized: score = BM25_AND + w/mindist over exploded
    position lists."""
    base = bm25_topk(idx, [t1, t2], k=None, mode="and", round_to=None)
    p1 = idx.postings.filter(F.col("term") == t1).select(
        "docid", F.explode("positions").alias("p1")
    )
    p2 = idx.postings.filter(F.col("term") == t2).select(
        "docid", F.explode("positions").alias("p2")
    )
    spans = (
        p1.join(p2, "docid")
        .groupBy("docid")
        .agg(F.min(F.abs(F.col("p1") - F.col("p2"))).alias("mindist"))
    )
    boosted = base.join(spans, "docid").select(
        "docid",
        F.round(F.col("score") + F.lit(w) / F.col("mindist"), 4).alias(
            "score"
        ),
    )
    return [
        (r["docid"], r["score"])
        for r in boosted.orderBy(
            F.desc("score"), F.asc("docid")
        ).limit(k).collect()
    ]


def _check_phrases(pos_env):
    idx, pidx, phrases, _ = pos_env
    for words, k in phrases:
        got = [
            (r["docid"], r["score"])
            for r in pidx.wand_phrase_topk(words, k=k).collect()
        ]
        want = [
            (r["docid"], r["score"])
            for r in phrase_bm25(idx, words, k=k).collect()
        ]
        assert got == want, (words, k)


def _check_prox(pos_env):
    idx, pidx, _, prox = pos_env
    for t1, t2, w, k in prox:
        got = [
            (r["docid"], r["score"])
            for r in pidx.wand_proximity_topk(
                [t1, t2], k=k, prox_w=w
            ).collect()
        ]
        assert got == _prox_want(idx, t1, t2, w, k), (t1, t2, w, k)


def test_fuzz_phrase(spark, pos_env):
    _check_phrases(pos_env)


def test_fuzz_phrase_workers(spark, pos_env, monkeypatch):
    monkeypatch.setattr(wand, "_DRIVER_SCORE_MAX_DF", 0)
    _check_phrases(pos_env)


def test_fuzz_proximity(spark, pos_env):
    _check_prox(pos_env)


def test_fuzz_proximity_workers(spark, pos_env, monkeypatch):
    monkeypatch.setattr(wand, "_DRIVER_SCORE_MAX_DF", 0)
    _check_prox(pos_env)


def test_fuzz_batch_positional(spark, pos_env):
    """Same drawn shapes fused into ONE wand_topk_batch call (fixed
    k per call) == the single-query packed results."""
    idx, pidx, phrases, prox = pos_env
    k = 10
    queries: dict[str, tuple] = {}
    singles: dict[str, list] = {}
    for i, (words, _) in enumerate(phrases):
        qid = f"ph{i}"
        queries[qid] = (words, "phrase", None)
        singles[qid] = [
            (r["docid"], r["score"])
            for r in pidx.wand_phrase_topk(words, k=k).collect()
        ]
    for i, (t1, t2, w, _) in enumerate(prox):
        qid = f"px{i}"
        queries[qid] = ([t1, t2], "proximity", None, w)
        singles[qid] = [
            (r["docid"], r["score"])
            for r in pidx.wand_proximity_topk(
                [t1, t2], k=k, prox_w=w
            ).collect()
        ]
    rows = pidx.wand_topk_batch(queries, k=k).collect()
    got_by_q: dict[str, list] = {}
    for r in rows:
        got_by_q.setdefault(r["query_id"], []).append(
            (r["docid"], r["score"])
        )
    for qid, want in singles.items():
        got = sorted(
            got_by_q.get(qid, []), key=lambda t: (-t[1], t[0])
        )
        assert got == want, (qid, queries[qid])
