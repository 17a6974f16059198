"""Auto-compaction policy (round-4 verdict task #1 — the
``RdbBase::attemptMerge`` / ``minFilesToMerge`` analogue).

The compaction OPERATOR existed since round 2 (``compact_segments``);
these tests pin the POLICY: a size-tiered trigger that keeps a live
store's segment count bounded under unbounded micro-batch ingest,
with manifest-transactional crash safety (latest-wins manifest rows)
and exact preservation of postings, globals, and term stats.
"""

from __future__ import annotations

import os

import pytest
from conftest import SF_SMOKE
from pyspark.sql import functions as F

from open_source_search_engine_spark.functions.varbyte import (
    unpack_docids,
    unpack_ints,
)
from open_source_search_engine_spark.operators.bm25 import bm25_topk
from open_source_search_engine_spark.operators.index_build import cached_index
from open_source_search_engine_spark.operators.segments import (
    SegmentStore,
    build_segments,
    finalize_term_stats,
    maybe_compact,
)
from open_source_search_engine_spark.operators.wand import PackedIndex
from open_source_search_engine_spark.streaming.incremental import (
    start_incremental_index,
)


def _docs(spark):
    df = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    return df.withColumnRenamed("doc_id", "docid").select("docid", "text")


def _exploded(spark, store):
    out = set()
    for r in store.packed(spark).collect():
        docids = unpack_docids(r["docids"])
        tfs = unpack_ints(r["tfs"])
        dls = unpack_ints(r["dls"])
        for d, t, dl in zip(docids, tfs, dls):
            out.add((r["termid"], int(d), int(t), int(dl)))
    return out


def _live_segments(spark, store):
    return [
        r
        for r in store.manifest_current(spark)
        .filter(F.col("status") == "committed")
        .collect()
    ]


def test_maybe_compact_batch_store_in_place(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx_policy"))
    store = build_segments(
        spark, _docs(spark), SegmentStore(root), n_segments=6, n_buckets=8
    )
    before = _exploded(spark, store)
    g_before = store.globals_(spark)
    ts_before = {
        (r["termid"], r["df"], r["cf"], r["max_tf"])
        for r in store.term_stats(spark).collect()
    }

    name = maybe_compact(spark, store, min_files_to_merge=4)
    assert name == "compact-000000"
    live = _live_segments(spark, store)
    # 6 sources - 4 merged + 1 compact = 3 current committed segments
    assert len(live) == 3
    assert {r["segment_id"] for r in live} >= {"compact-000000"}
    # retired dirs are gone; the compact dir exists
    assert os.path.exists(store.segment_dir("compact-000000"))
    n_dirs = len(
        [
            d
            for d in os.listdir(os.path.join(root, "postings_packed"))
            if d.startswith("segment=")
        ]
    )
    assert n_dirs == 3

    # postings preserved EXACTLY; globals preserved; resume-safety:
    # every batch segment still counts as done
    assert _exploded(spark, store) == before
    assert store.globals_(spark) == g_before
    assert store.committed_segments(spark) == {0, 1, 2, 3, 4, 5}

    # term stats identical after a finalize over the merged partials
    finalize_term_stats(spark, store)
    ts_after = {
        (r["termid"], r["df"], r["cf"], r["max_tf"])
        for r in store.term_stats(spark).collect()
    }
    assert ts_after == ts_before

    # queries rank-identical to the relational oracle path
    pidx = PackedIndex(spark, store)
    idx = cached_index(spark, SF_SMOKE)
    got = [tuple(r) for r in pidx.wand_topk(["join", "filter"], k=10).collect()]
    want = [tuple(r) for r in bm25_topk(idx, ["join", "filter"], k=10).collect()]
    assert got == want

    # below trigger -> no-op; re-armed at a lower bar it tiers again
    assert maybe_compact(spark, store, min_files_to_merge=4) is None
    assert maybe_compact(spark, store, min_files_to_merge=3) == "compact-000001"
    assert len(_live_segments(spark, store)) == 1
    assert _exploded(spark, store) == before
    assert store.globals_(spark) == g_before


def test_streaming_ingest_stays_bounded(spark, tmp_path):
    """≥ 3·N micro-batches through the stream with the policy armed:
    live segment count stays ≤ N, and the store answers queries
    rank-identically to a relational build over the same docs."""
    docs = _docs(spark)
    in_dir = str(tmp_path / "incoming")
    os.makedirs(in_dir)
    n_batches = 12
    for i in range(n_batches):  # one file per micro-batch
        docs.filter(F.col("docid") % n_batches == i).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
    store = SegmentStore(str(tmp_path / "store"))
    q = start_incremental_index(
        spark,
        in_dir,
        store,
        str(tmp_path / "ck"),
        min_files_to_merge=4,
        max_files_per_trigger=1,
    )
    q.awaitTermination(600)

    raw_rows = store.manifest(spark).count()
    live = _live_segments(spark, store)
    assert raw_rows >= n_batches  # every epoch left lineage
    assert len(live) <= 4  # the bound the policy promises
    # stale dirs really deleted, not just hidden
    n_dirs = len(
        [
            d
            for d in os.listdir(os.path.join(store.root, "postings_packed"))
            if d.startswith("segment=")
        ]
    )
    assert n_dirs == len(live)

    finalize_term_stats(spark, store)
    n, avgdl = store.globals_(spark)
    assert n == docs.count()
    pidx = PackedIndex(spark, store)
    idx = cached_index(spark, SF_SMOKE)
    got = [tuple(r) for r in pidx.wand_topk(["join", "filter"], k=10).collect()]
    want = [tuple(r) for r in bm25_topk(idx, ["join", "filter"], k=10).collect()]
    assert got == want


def test_replayed_compacted_epoch_is_skipped(spark, tmp_path):
    """Crash-replay of an epoch whose segment was already compacted
    must NOT resurrect it (its postings live in the compact segment —
    a rewrite would double-count every doc it held)."""
    docs = _docs(spark)
    in_dir = str(tmp_path / "incoming")
    os.makedirs(in_dir)
    for i in range(4):
        docs.filter(F.col("docid") % 4 == i).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
    store = SegmentStore(str(tmp_path / "store"))
    ck = str(tmp_path / "ck")
    q = start_incremental_index(
        spark, in_dir, store, ck,
        min_files_to_merge=4, max_files_per_trigger=1,
    )
    q.awaitTermination(600)
    live = _live_segments(spark, store)
    assert [r["segment_id"] for r in live] == ["compact-000000"]
    before = _exploded(spark, store)
    g = store.globals_(spark)

    # simulate the worst replay: lose the WHOLE checkpoint, so every
    # epoch re-fires. All four stream segments are compacted, so the
    # replay guard must skip each one.
    import shutil

    shutil.rmtree(ck)
    q2 = start_incremental_index(
        spark, in_dir, store, ck,
        min_files_to_merge=4, max_files_per_trigger=1,
    )
    q2.awaitTermination(600)

    assert [
        r["segment_id"] for r in _live_segments(spark, store)
    ] == ["compact-000000"]
    assert not any(
        d.startswith("segment=stream-")
        for d in os.listdir(os.path.join(store.root, "postings_packed"))
    )
    assert _exploded(spark, store) == before
    assert store.globals_(spark) == g


def test_streaming_positional_compaction_preserves_phrase(spark, tmp_path):
    """The policy merges positional stream segments too — phrase
    scoring over the compacted store matches the relational path."""
    from open_source_search_engine_spark.operators.search import phrase_bm25

    docs = _docs(spark)
    in_dir = str(tmp_path / "incoming")
    os.makedirs(in_dir)
    for i in range(6):
        docs.filter(F.col("docid") % 6 == i).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
    store = SegmentStore(str(tmp_path / "store"))
    q = start_incremental_index(
        spark, in_dir, store, str(tmp_path / "ck"),
        with_positions=True, min_files_to_merge=3,
        max_files_per_trigger=1,
    )
    q.awaitTermination(600)
    assert len(_live_segments(spark, store)) <= 3
    finalize_term_stats(spark, store)
    pidx = PackedIndex(spark, store)
    idx = cached_index(spark, SF_SMOKE, with_positions=True)
    got = [
        tuple(r)
        for r in pidx.wand_phrase_topk(["table", "hash"], k=10).collect()
    ]
    want = [
        tuple(r) for r in phrase_bm25(idx, ["table", "hash"], k=10).collect()
    ]
    assert got == want


def test_crash_between_write_and_manifest_is_invisible(
    spark, tmp_path_factory
):
    """A compact segment dir without its manifest transaction (crash
    between steps 2 and 3) is invisible to every reader, and a retry
    recomputes the SAME generation and overwrites it."""
    root = str(tmp_path_factory.mktemp("idx_crash"))
    store = build_segments(
        spark, _docs(spark), SegmentStore(root), n_segments=4, n_buckets=8
    )
    before = _exploded(spark, store)
    # fake the orphan: write garbage where compact-000000 would land
    orphan = store.segment_dir("compact-000000")
    os.makedirs(orphan, exist_ok=True)
    with open(os.path.join(orphan, "_SUCCESS"), "w") as fh:
        fh.write("")
    assert _exploded(spark, store) == before  # reader ignores it
    name = maybe_compact(spark, store, min_files_to_merge=4)
    assert name == "compact-000000"  # retry reuses the generation
    assert _exploded(spark, store) == before


def test_open_handles_survive_compaction(spark, tmp_path_factory):
    """A cache-layout handle and a bucketed handle opened on a store
    keep answering after ``maybe_compact`` retires (and deletes) the
    segments they were opened over: each query returns the top-k it
    returned before compaction, or raises — never a wrong top-k."""
    from open_source_search_engine_spark.operators.segments import (
        save_bucketed,
    )

    root = str(tmp_path_factory.mktemp("idx_open_compact"))
    store = build_segments(
        spark, _docs(spark), SegmentStore(root), n_segments=4, n_buckets=4
    )
    name = save_bucketed(spark, store, "packed_open_compact_t", root + "/t")
    queries = [
        (["join", "filter"], "and", None),
        (["join", "window"], "or", None),
        (["join"], "and", ["filter"]),
    ]
    try:
        cached = PackedIndex(spark, store)
        bucketed = PackedIndex(spark, store, packed=spark.table(name))

        def answers(pidx):
            out = []
            for terms, mode, neg in queries:
                try:
                    out.append([
                        tuple(r)
                        for r in pidx.wand_topk(
                            terms, k=5, mode=mode, neg_terms=neg
                        ).collect()
                    ])
                except Exception as exc:  # a raise is an allowed outcome
                    out.append(type(exc))
            return out

        before = {"cached": answers(cached), "bucketed": answers(bucketed)}
        assert all(isinstance(a, list) and a for v in before.values()
                   for a in v)
        assert maybe_compact(spark, store, min_files_to_merge=4)
        assert len(_live_segments(spark, store)) == 1
        for label, pidx in (("cached", cached), ("bucketed", bucketed)):
            for want, got in zip(before[label], answers(pidx)):
                # a list is an answer and must match; a type is a raise
                assert got == want or isinstance(got, type), (
                    label, want, got,
                )
        cached.close()
        bucketed.close()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
