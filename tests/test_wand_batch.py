"""Batched multi-query WAND (round-4 verdict task #3): Q queries in
ONE job must be RANK-IDENTICAL per query to the per-query
``wand_topk`` path, on both the in-memory cache path and the
disk-backed bucketed store (JVM batch prune)."""

from __future__ import annotations

import pytest
from conftest import SF_SMOKE

from open_source_search_engine_spark.operators.segments import (
    SegmentStore,
    build_segments,
    save_bucketed,
)
from open_source_search_engine_spark.operators.wand import PackedIndex

# the bench QUERY_SET shapes plus edge cases: a term the corpus lacks
# (AND -> empty), an OR with one missing term, heavy term overlap
# across queries (the shared-decode path)
BATCH = {
    "and2": (["join", "filter"], "and", None),
    "and3": (["join", "filter", "window"], "and", None),
    "or2": (["join", "filter"], "or", None),
    "single": (["aggregate"], "and", None),
    "not": (["join"], "and", ["window"]),
    "missing_and": (["join", "zzzznotaterm"], "and", None),
    "missing_or": (["join", "zzzznotaterm"], "or", None),
    "overlap": (["join", "window"], "and", None),
}


def _docs(spark):
    df = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    return df.withColumnRenamed("doc_id", "docid").select("docid", "text")


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx_batch"))
    return build_segments(
        spark, _docs(spark), SegmentStore(root), n_segments=3, n_buckets=8
    )


def _check_batch_matches_per_query(pidx):
    batch = pidx.wand_topk_batch(BATCH, k=10)
    got = {}
    for r in batch.collect():
        got.setdefault(r["query_id"], []).append((r["docid"], r["score"]))
    for qid, (terms, mode, neg) in BATCH.items():
        want = [
            (r["docid"], r["score"])
            for r in pidx.wand_topk(
                terms, k=10, mode=mode, neg_terms=neg
            ).collect()
        ]
        assert got.get(qid, []) == want, qid
    # nothing extra leaked in
    assert set(got) <= set(BATCH)


def test_batch_matches_per_query_cache_path(spark, store):
    _check_batch_matches_per_query(PackedIndex(spark, store))


def test_batch_matches_per_query_bucketed_jvm_prune(
    spark, store, tmp_path_factory
):
    out = str(tmp_path_factory.mktemp("idx_batch_bt"))
    name = save_bucketed(spark, store, "batch_bt", path=out)
    pidx = PackedIndex(spark, store, packed=spark.table(name))
    assert pidx.jvm_prune
    _check_batch_matches_per_query(pidx)


def test_batch_of_one_and_all_missing(spark, store):
    pidx = PackedIndex(spark, store)
    one = pidx.wand_topk_batch({"q": ["join", "filter"]}, k=5)
    want = [
        (r["docid"], r["score"])
        for r in pidx.wand_topk(["join", "filter"], k=5).collect()
    ]
    assert [(r["docid"], r["score"]) for r in one.collect()] == want
    nothing = pidx.wand_topk_batch({"q": ["zzzznotaterm"]}, k=5)
    assert nothing.count() == 0
    assert nothing.columns == ["query_id", "docid", "score"]


def test_batch_jvm_prune_stopword_idf_below_one(spark, tmp_path_factory):
    """Regression: the batch bucket prune multiplied idf into bounds
    that already carried it (idf²). For a stopword with df ≈ N the
    idf is ~0.002, so idf² understated every bucket's bound by ~500×
    and the disk-backed batch path pruned ALL buckets — returning
    empty while wand_topk returned k docs. Pinned here with a term in
    every document (idf < 1 ⇔ df ≳ 0.37·N, Robertson/Zaragoza)."""
    import pandas as pd

    from open_source_search_engine_spark.operators.segments import (
        SegmentStore,
        build_segments,
        save_bucketed,
    )
    from open_source_search_engine_spark.operators.wand import PackedIndex

    rows = [
        (d, "common filler" + " pad" * (d % 7)) for d in range(256)
    ]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["docid", "text"])
    )
    root = str(tmp_path_factory.mktemp("idx_stopword"))
    store = build_segments(
        spark, docs, SegmentStore(root), n_segments=1, n_buckets=4
    )
    path = str(tmp_path_factory.mktemp("idx_stopword_bt")) + "/t"
    save_bucketed(spark, store, "packed_stopword_bt", path)
    try:
        pidx = PackedIndex(
            spark, store, packed=spark.table("packed_stopword_bt")
        )
        assert pidx.jvm_prune
        want = [
            (r["docid"], r["score"])
            for r in pidx.wand_topk(["common"], k=10).collect()
        ]
        assert len(want) == 10
        got = sorted(
            (
                (r["docid"], r["score"])
                for r in pidx.wand_topk_batch(
                    {"q": ["common"]}, k=10
                ).collect()
            ),
            key=lambda t: (-t[1], t[0]),
        )
        assert got == want
    finally:
        spark.sql("DROP TABLE IF EXISTS packed_stopword_bt")


def test_batch_jvm_prune_is_subblock_in_plan(
    spark, store, tmp_path_factory
):
    """The disk-backed batch prune must be ROW-level in the JVM plan
    (round-5: parity with the single-query _block_survivors path), not
    bucket-level only: pruned sub-blocks' blobs must never cross Arrow
    into the batch scorer. Pinned by plan shape — the row filter
    reads its per-(bucket, termid) thresholds from array literals,
    with no join — plus the main scan keeping its termid pushdown."""
    out = str(tmp_path_factory.mktemp("idx_batch_plan"))
    name = save_bucketed(spark, store, "batch_plan_bt", path=out)
    try:
        pidx = PackedIndex(spark, store, packed=spark.table(name))
        assert pidx.jvm_prune
        batch = pidx.wand_topk_batch(
            {"a": ["join", "filter"], "b": (["join"], "and", ["window"])},
            k=5,
        )
        plan = batch._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan, plan
        assert "element_at" in plan, plan  # the row-level filter
        # the bound aggregate itself runs as a separate eager job
        # (driver-side fold), so its scalar-only ReadSchema property
        # is pinned on the shared _bucket_term_bounds path by
        # test_segments_wand's single-query plan test; here assert
        # the main scan still gets the termid pushdown
        scans = plan.split("FileScan parquet")[1:]
        assert scans and any(
            "termid" in seg.split("PushedFilters")[1][:200]
            for seg in scans
            if "PushedFilters" in seg
        ), plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_fold_checks_dense_size_before_pivoting(spark, store, monkeypatch):
    """Round-5 review fix: a SPARSE bound table (row count under
    _LITERAL_PRUNE_MAX_CELLS) can still span a buckets × termids
    rectangle far over it, and materializing that dense NaN-filled
    rectangle is the driver OOM the cap exists to prevent. The cap
    (|terms| × n_buckets) must be checked BEFORE any bound matrix is
    built; pinned by making any pivot call an assertion failure."""
    import pandas as pd

    from open_source_search_engine_spark.operators import wand as W

    pidx = PackedIndex(spark, store)
    # 5 (termid -> bucket) bound entries over a 3 × 3 rectangle:
    # rows ≤ cap < nb·nt
    sparse = {1: {0: 1.0, 1: 1.0}, 2: {1: 1.0}, 3: {0: 1.0, 2: 1.0}}
    monkeypatch.setattr(pidx, "_bounds_for", lambda tids: sparse)
    monkeypatch.setattr(W, "_LITERAL_PRUNE_MAX_CELLS", 8)

    def _boom(*a, **k):
        raise AssertionError("pivot materialized before the cap check")

    monkeypatch.setattr(pd.DataFrame, "pivot", _boom)
    idf_all = {1: 1.0, 2: 1.0, 3: 1.0}
    # a live cut, so the cap (not the no-seed rule) is what declines
    q = {"idf": idf_all, "required": set(), "neg_ids": set(),
         "cut": 1.0, "kind": "plain"}
    assert pidx._fold_batch_thresholds(idf_all, [q]) is None


# --- positional batch shapes (phrase / proximity) ----------------------


@pytest.fixture(scope="module")
def pos_store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx_batch_pos"))
    return build_segments(
        spark, _docs(spark), SegmentStore(root),
        n_segments=2, n_buckets=8, with_positions=True,
    )


POS_BATCH = {
    "plain_and": (["join", "filter"], "and", None),
    "phrase2": (["table", "hash"], "phrase", None),
    "phrase_same": (["join", "filter"], "phrase", None),
    # duplicate word: adjacency must check BOTH occurrences (a deduped
    # word_tids once reduced this to a single-term presence test)
    "phrase_dup": (["hash", "hash"], "phrase", None),
    "prox": (["join", "filter"], "proximity", None),
    # repeated term: both paths score the deduped pair (the per-query
    # path once measured the repeated term's gap to itself)
    "prox_dup": (["join", "join", "filter"], "proximity", None),
    # per-query proximity weight via the optional 4th spec element
    "prox_w2": (["join", "filter"], "proximity", None, 1.5),
    "phrase_missing": (["join", "zzzznotaterm"], "phrase", None),
}


def _check_pos_batch(pidx):
    batch = pidx.wand_topk_batch(POS_BATCH, k=10)
    got = {}
    for r in batch.collect():
        got.setdefault(r["query_id"], []).append((r["docid"], r["score"]))
    want = {
        "plain_and": pidx.wand_topk(["join", "filter"], k=10),
        "phrase2": pidx.wand_phrase_topk(["table", "hash"], k=10),
        "phrase_same": pidx.wand_phrase_topk(["join", "filter"], k=10),
        "phrase_dup": pidx.wand_phrase_topk(["hash", "hash"], k=10),
        "prox": pidx.wand_proximity_topk(["join", "filter"], k=10),
        "prox_dup": pidx.wand_proximity_topk(
            ["join", "join", "filter"], k=10
        ),
        "prox_w2": pidx.wand_proximity_topk(
            ["join", "filter"], k=10, prox_w=1.5
        ),
    }
    for qid, df in want.items():
        assert got.get(qid, []) == [
            (r["docid"], r["score"]) for r in df.collect()
        ], qid
    assert "phrase_missing" not in got  # AND semantics: no results


def test_batch_positional_matches_per_query_cache(spark, pos_store):
    """Batched phrase/proximity (mixed with plain shapes) is
    rank-identical per query to wand_phrase_topk / wand_proximity_topk
    / wand_topk on the in-memory cache path."""
    _check_pos_batch(PackedIndex(spark, pos_store))


def test_batch_positional_matches_per_query_bucketed(
    spark, pos_store, tmp_path_factory
):
    """Same parity on the disk-backed bucketed store, where the batch
    JVM prune applies the per-kind cut adjustments (proximity cut −
    prox_w; phrase dominated by the plain bound)."""
    out = str(tmp_path_factory.mktemp("idx_batch_pos_bt"))
    name = save_bucketed(spark, pos_store, "batch_pos_bt", path=out)
    try:
        pidx = PackedIndex(spark, pos_store, packed=spark.table(name))
        assert pidx.jvm_prune
        _check_pos_batch(pidx)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_batch_positional_validation(spark, store, pos_store):
    """Positional shapes validate their inputs: neg_terms and
    non-positional stores are rejected (batch and single-query),
    proximity needs exactly two distinct terms."""
    pidx_min = PackedIndex(spark, store)
    with pytest.raises(ValueError, match="positional store"):
        pidx_min.wand_topk_batch(
            {"q": (["join", "filter"], "phrase", None)}
        )
    # the single-query positional path raises the same error (not an
    # assert, which ``python -O`` would strip)
    with pytest.raises(ValueError, match="positional store"):
        pidx_min.wand_phrase_topk(["join", "filter"])
    pidx = PackedIndex(spark, pos_store)
    with pytest.raises(ValueError, match="neg_terms"):
        pidx.wand_topk_batch(
            {"q": (["join", "filter"], "phrase", ["window"])}
        )
    with pytest.raises(ValueError, match="two distinct"):
        pidx.wand_topk_batch(
            {"q": (["join", "filter", "hash"], "proximity", None)}
        )
