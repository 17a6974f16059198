"""Packed segments + resume + compaction + block-max WAND equivalence
(SURVEY.md §5 items 3-4: path equivalence + resume)."""

from __future__ import annotations

import numpy as np
import pytest
from conftest import SF_SMOKE

from open_source_search_engine_spark.functions.varbyte import (
    unpack_docids,
    unpack_ints,
)
from open_source_search_engine_spark.operators.bm25 import bm25_topk
from open_source_search_engine_spark.operators.index_build import (
    build_index,
    cached_index,
)
from open_source_search_engine_spark.operators.segments import (
    SegmentStore,
    build_segments,
    compact_segments,
    finalize_term_stats,
)
from open_source_search_engine_spark.operators.wand import PackedIndex


def _docs(spark):
    df = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    return df.withColumnRenamed("doc_id", "docid")


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx"))
    return build_segments(
        spark, _docs(spark), SegmentStore(root), n_segments=3, n_buckets=8
    )


def _exploded(spark, store):
    """Decode every packed block back to (termid, docid, tf, dl) tuples."""
    out = set()
    for r in store.packed(spark).collect():
        docids = unpack_docids(r["docids"])
        tfs = unpack_ints(r["tfs"])
        dls = unpack_ints(r["dls"])
        assert len(docids) == r["n"] == len(tfs) == len(dls)
        assert int(docids[0]) == r["first_docid"]
        assert int(docids[-1]) == r["last_docid"]
        assert int(tfs.max()) == r["blockmax_tf"]
        for d, t, dl in zip(docids, tfs, dls):
            out.add((r["termid"], int(d), int(t), int(dl)))
    return out


def test_packed_roundtrip_matches_exploded(spark, store):
    idx = cached_index(spark, SF_SMOKE)
    expected = {
        (r["termid"], r["docid"], r["tf"], r["doclen"])
        for r in idx.postings.collect()
    }
    assert _exploded(spark, store) == expected


def test_manifest_complete(spark, store):
    m = store.manifest(spark)
    rows = m.filter(m.status == "committed").collect()
    assert {r["part_lo"] for r in rows} == {0, 1, 2}
    assert sum(r["docs"] for r in rows) == 500
    n, avgdl = store.globals_(spark)
    assert n == 500 and avgdl > 0


def test_resume_after_injected_failure(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx_resume"))
    docs = _docs(spark)
    with pytest.raises(RuntimeError, match="injected failure"):
        build_segments(
            spark,
            docs,
            SegmentStore(root),
            n_segments=3,
            n_buckets=8,
            fail_after_segment=0,
        )
    st = SegmentStore(root)
    assert st.committed_segments(spark) == {0}
    # resume completes remaining segments only and final state matches
    build_segments(spark, docs, st, n_segments=3, n_buckets=8)
    assert st.committed_segments(spark) == {0, 1, 2}
    idx = cached_index(spark, SF_SMOKE)
    expected = {
        (r["termid"], r["docid"], r["tf"], r["doclen"])
        for r in idx.postings.collect()
    }
    assert _exploded(spark, st) == expected


def test_packed_excludes_uncommitted_segment(spark, tmp_path_factory):
    """A segment dir whose parquet write completed but whose manifest
    commit didn't (crash window) must NOT be read: its docs would be
    scored with globals/term_stats that exclude them (round-4 review
    fix). Simulated by cloning a committed dir under an id the
    manifest never committed."""
    import os
    import shutil

    root = str(tmp_path_factory.mktemp("idx_uncommitted"))
    st = build_segments(
        spark, _docs(spark), SegmentStore(root), n_segments=2, n_buckets=8
    )
    before = _exploded(spark, st)
    shutil.copytree(st.segment_dir(0), st.segment_dir(99))
    assert _exploded(spark, st) == before  # clone invisible
    # a crashed MANIFEST write (partial temp file) must not poison
    # manifest reads either: the temp name is dot-prefixed, which
    # Spark's parquet reader skips
    with open(
        os.path.join(st.manifest_path, ".seg-00099.parquet.tmp"), "wb"
    ) as fh:
        fh.write(b"PAR1 garbage truncated")
    assert st.committed_segments(spark) == {0, 1}
    n, avgdl = st.globals_(spark)
    assert n == 500 and avgdl > 0


def test_packed_raises_on_missing_committed_segment(spark, tmp_path_factory):
    """A committed segment whose dir or term_stats partial is gone must
    fail loudly: globals and term_stats still count its docs, so
    scoring the remaining segments would return a different top-k with
    no error."""
    import os
    import shutil

    root = str(tmp_path_factory.mktemp("idx_missing_seg"))
    st = build_segments(
        spark, _docs(spark), SegmentStore(root), n_segments=3, n_buckets=8
    )
    shutil.rmtree(st.segment_dir(1))
    with pytest.raises(FileNotFoundError, match="segment=1"):
        st.packed(spark)
    with pytest.raises(FileNotFoundError, match="segment=1"):
        PackedIndex(spark, st).wand_topk(["join"], k=5).collect()
    shutil.rmtree(os.path.join(root, "term_stats_partial", "segment=1"))
    with pytest.raises(FileNotFoundError, match="segment=1"):
        finalize_term_stats(spark, st)


WAND_CASES = [
    (["join"], "and", None),
    (["join", "filter"], "and", None),
    (["join", "filter", "window"], "and", None),
    (["join", "filter"], "or", None),
    (["join"], "and", ["window"]),
    (["nosuchterm"], "and", None),
    (["join", "nosuchterm"], "or", None),
]


@pytest.mark.parametrize("terms,mode,neg", WAND_CASES)
def test_wand_matches_relational(spark, store, terms, mode, neg):
    """D4b packed block-max WAND ≡ D4a relational baseline — the §5
    path-equivalence property, incl. tie-break (score desc, docid asc)."""
    pidx = PackedIndex(spark, store)
    got = [
        (r["docid"], r["score"])
        for r in pidx.wand_topk(terms, k=10, mode=mode, neg_terms=neg).collect()
    ]
    idx = cached_index(spark, SF_SMOKE)
    want = [
        (r["docid"], r["score"])
        for r in bm25_topk(idx, terms, k=10, mode=mode, neg_terms=neg).collect()
    ]
    assert got == want


def test_wand_tie_across_buckets(spark, tmp_path_factory):
    """Constructed tie: 30 identically-scored docs spread over all
    buckets. τ equals every other bucket's upper bound exactly, so a
    strict `ub > τ` cut would drop the smaller-docid ties outside the
    seed bucket; the (score desc, docid asc) contract requires the
    globally smallest docids to win."""
    docs = spark.createDataFrame(
        [(i, "tie tie tie") for i in range(30)], "docid long, text string"
    )
    root = str(tmp_path_factory.mktemp("idx_tie"))
    st = build_segments(
        spark, docs, SegmentStore(root), n_segments=1, n_buckets=8
    )
    pidx = PackedIndex(spark, st)
    got = [r["docid"] for r in pidx.wand_topk(["tie"], k=3).collect()]
    assert got == [0, 1, 2]


def test_wand_prune_stats(spark, tmp_path_factory):
    """Block-max pruning measurably bites: buckets whose upper bound
    cannot reach τ are skipped (and their blob bytes never decoded).
    Corpus constructed so half the buckets hold only low-tfnorm docs."""
    rows = []
    for docid in range(64):
        if docid % 8 < 4:
            text = "hot " * 8
        else:
            text = "hot " + "aa bb cc dd " * 12
        rows.append((docid, text.strip()))
    docs = spark.createDataFrame(rows, "docid long, text string")
    root = str(tmp_path_factory.mktemp("idx_prune"))
    st = build_segments(
        spark, docs, SegmentStore(root), n_segments=1, n_buckets=8
    )
    pidx = PackedIndex(spark, st)
    stats = pidx.prune_stats(["hot"], k=3)
    assert stats["buckets"] == 8
    assert 1 <= stats["buckets_scored"] <= 4, stats
    assert stats["bytes_scored"] < stats["bytes_total"]
    # pruning never changes results
    idx = build_index(docs)
    got = [tuple(r) for r in pidx.wand_topk(["hot"], k=3).collect()]
    want = [tuple(r) for r in bm25_topk(idx, ["hot"], k=3).collect()]
    assert got == want


# --- positional store: positions/dens/spam streams (C4, D7/F3 packed) -----


@pytest.fixture(scope="module")
def pos_store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx_pos"))
    return build_segments(
        spark, _docs(spark), SegmentStore(root),
        n_segments=2, n_buckets=8, with_positions=True,
    )


def test_positions_roundtrip(spark, pos_store):
    """Every block's positions stream decodes back to the exploded
    index's per-posting position arrays; dens/spam streams decode to
    the pinned integer rank formulas."""
    from open_source_search_engine_spark.functions.varbyte import (
        unpack_positions,
    )
    from open_source_search_engine_spark.operators.segments import (
        density_rank_np,
        spam_rank_np,
    )

    idx = cached_index(spark, SF_SMOKE, with_positions=True)
    want = {
        (r["termid"], r["docid"]): (
            list(r["positions"]), r["tf"], r["doclen"]
        )
        for r in idx.postings.collect()
    }
    seen = 0
    for r in pos_store.packed(spark).collect():
        docids = unpack_docids(r["docids"])
        tfs = unpack_ints(r["tfs"]).astype(np.int64)
        dls = unpack_ints(r["dls"]).astype(np.int64)
        flat, offsets = unpack_positions(r["positions"], tfs)
        dens = unpack_ints(r["dens"]).astype(np.int64)
        spam = unpack_ints(r["spam"]).astype(np.int64)
        assert len(dens) == len(spam) == r["n"]
        for i, d in enumerate(docids):
            pos = [int(p) for p in flat[offsets[i]:offsets[i + 1]]]
            wpos, wtf, wdl = want[(r["termid"], int(d))]
            assert pos == wpos and tfs[i] == wtf and dls[i] == wdl
            reps = sum(
                1 for a, b in zip(wpos, wpos[1:]) if b == a + 1
            )
            assert dens[i] == density_rank_np(
                np.array([wtf]), np.array([wdl])
            )[0]
            assert spam[i] == spam_rank_np(
                np.array([reps]), np.array([wtf])
            )[0]
            seen += 1
    assert seen == len(want)


def test_wand_phrase_matches_relational(spark, pos_store):
    from open_source_search_engine_spark.operators.search import phrase_bm25

    pidx = PackedIndex(spark, pos_store)
    idx = cached_index(spark, SF_SMOKE, with_positions=True)
    for words in (["table", "hash"], ["join", "filter"], ["hash", "hash"]):
        got = [tuple(r) for r in pidx.wand_phrase_topk(words, k=10).collect()]
        want = [tuple(r) for r in phrase_bm25(idx, words, k=10).collect()]
        assert got == want, words


def test_wand_proximity_matches_relational(spark, pos_store):
    import __spark_entry__ as m
    from open_source_search_engine_spark.operators import registry

    pidx = PackedIndex(spark, pos_store)
    got = [
        tuple(r)
        for r in pidx.wand_proximity_topk(["join", "filter"], k=10).collect()
    ]
    # relational twin over the same smoke tier
    rel = m.queries()["proximity_bm25"](spark, SF_SMOKE)
    want = [tuple(r) for r in rel.collect()]
    assert got == want


def test_wand_density_matches_relational_formula(spark, pos_store):
    """Density-scored packed top-k ≡ a relational replay of the same
    multiplier formula over the exploded index."""
    from pyspark.sql import functions as F

    pidx = PackedIndex(spark, pos_store)
    got = [
        tuple(r)
        for r in pidx.wand_density_topk(["join", "filter"], k=10).collect()
    ]
    idx = cached_index(spark, SF_SMOKE, with_positions=True)
    p = idx.postings.filter(F.col("term").isin(["join", "filter"]))
    reps = F.size(
        F.filter(
            F.zip_with(
                F.slice("positions", 2, 1_000_000),
                F.slice("positions", 1, 1_000_000),
                lambda nxt, prv: nxt == prv + 1,
            ),
            lambda x: x,
        )
    )
    r = (F.lit(255) * F.col("tf").cast("long")) .cast("long")
    rr = F.floor(r / F.col("doclen"))  # integer division (both +ve)
    dens = F.least(F.lit(15), F.floor(F.log2(rr + 1)).cast("long"))
    spam = F.least(
        F.lit(7), F.floor((F.lit(8) * reps) / F.col("tf")).cast("long")
    )
    qt = idx.term_stats.filter(F.col("term").isin(["join", "filter"]))
    scored = (
        p.join(qt.select("termid", idx.idf_col().alias("idf")), "termid")
        .withColumn(
            "part",
            F.col("idf") * idx.tfnorm_col()
            * ((F.lit(8) + dens) / 16.0) * ((F.lit(16) - spam) / 16.0),
        )
        .groupBy("docid")
        .agg(F.sum("part").alias("s"), F.countDistinct("term").alias("nm"))
        .filter(F.col("nm") == 2)
        .select("docid", F.round("s", 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("docid"))
        .limit(10)
    )
    want = [tuple(r) for r in scored.collect()]
    assert got == want


def test_positional_kinds_on_bucketed_store(
    spark, pos_store, tmp_path_factory
):
    """The kernel's bucketed positional path: on a write-time bucketed
    store (``jvm_prune``) density, diversity, phrase and proximity
    queries run the literal JVM prune with the kind-adjusted cut
    (density/diversity divide it by the rank multiplier's max,
    proximity subtracts its boost). Their answers must equal the
    cache-store handle's, which the tests above pin to the relational
    formulas — at a k small enough that the seed cut is live, and at
    the default k."""
    from open_source_search_engine_spark.operators.segments import (
        save_bucketed,
    )

    path = str(tmp_path_factory.mktemp("idx_pos_bucketed")) + "/t"
    save_bucketed(spark, pos_store, "packed_pos_bucketed_t", path)
    try:
        cached = PackedIndex(spark, pos_store)
        disk = PackedIndex(
            spark, pos_store, packed=spark.table("packed_pos_bucketed_t")
        )
        assert disk.jvm_prune and not cached.jvm_prune
        cases = [
            ("wand_density_topk", ["join", "filter"]),
            ("wand_diversity_topk", ["join", "filter"]),
            ("wand_phrase_topk", ["join", "filter"]),
            ("wand_proximity_topk", ["join", "filter"]),
        ]
        for k in (2, 10):
            for name, terms in cases:
                want = [
                    tuple(r)
                    for r in getattr(cached, name)(terms, k=k).collect()
                ]
                got = [
                    tuple(r)
                    for r in getattr(disk, name)(terms, k=k).collect()
                ]
                assert want, (name, k)
                assert got == want, (name, k)
        # the k=2 cases prune: a live seed cut reaches the literal prune
        spec = disk._query_spec(["join", "filter"], k=2, kind="density")
        assert spec["cut"] > float("-inf")
    finally:
        spark.sql("DROP TABLE IF EXISTS packed_pos_bucketed_t")


def test_packed_index_close_releases_caches(spark, tmp_path_factory):
    """``PackedIndex.close()`` (also via ``with``) unpersists the
    handle's cached ``packed`` and ``term_stats`` and clears its
    driver-side caches: open/close cycles leave the session's
    persisted-RDD count where it started. Two handles over one store
    share Spark's cache entries, so closing one leaves the other's
    tables cached until it closes too."""
    root = str(tmp_path_factory.mktemp("idx_close"))
    st = build_segments(
        spark, _docs(spark), SegmentStore(root), n_segments=1, n_buckets=4
    )
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    for _ in range(3):
        with PackedIndex(spark, st) as pidx:
            assert pidx.wand_topk(["join", "filter"], k=5).collect()
            assert jsc.getPersistentRDDs().size() > before
        assert not (
            pidx._term_cache or pidx._seed_cache or pidx._bound_cache
        )
    assert jsc.getPersistentRDDs().size() == before
    a, b = PackedIndex(spark, st), PackedIndex(spark, st)
    want = [tuple(r) for r in b.wand_topk(["join", "filter"], k=5).collect()]
    shared = jsc.getPersistentRDDs().size()
    assert shared > before
    a.close()
    a.close()  # a second close releases nothing more
    assert jsc.getPersistentRDDs().size() == shared
    assert [
        tuple(r) for r in b.wand_topk(["join", "filter"], k=5).collect()
    ] == want
    b.close()
    assert jsc.getPersistentRDDs().size() == before


def test_corrupt_blob_raises(spark, store):
    """A block whose tfs stream decodes to fewer values than its
    docids must fail loudly, naming the block — numpy would otherwise
    broadcast the first tf over every doc of the block and score them
    all with it."""
    import pandas as pd

    from open_source_search_engine_spark.functions.varbyte import pack_ints
    from open_source_search_engine_spark.operators.wand import (
        _make_batch_scorer,
    )

    pidx = PackedIndex(spark, store)
    spec = pidx._query_spec(["join"], k=5)
    (tid,) = spec["idf"]
    row = next(
        r.asDict() for r in pidx._seed_rows([tid]) if r["n"] > 1
    )
    spec = dict(spec, cut=float("-inf"))
    pdf = pd.DataFrame([row]).assign(inv_avgdl=1.0 / pidx.avgdl)
    assert len(_make_batch_scorer([spec], 5)(pdf)) > 0
    bad = pdf.assign(tfs=[pack_ints(unpack_ints(row["tfs"])[:1])])
    with pytest.raises(ValueError, match=f"termid={tid} bucket=0"):
        _make_batch_scorer([spec], 5)(bad)
    pidx.close()


def test_compaction_preserves_positions(spark, pos_store, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx_pos_compact"))
    cstore = compact_segments(spark, pos_store, out)
    pk = cstore.packed(spark)
    assert "positions" in pk.columns
    assert (
        pk.groupBy("termid", "bucket").count().filter("count > 1").count() == 0
    )
    pidx = PackedIndex(spark, cstore)
    idx = cached_index(spark, SF_SMOKE, with_positions=True)
    from open_source_search_engine_spark.operators.search import phrase_bm25

    got = [
        tuple(r)
        for r in pidx.wand_phrase_topk(["table", "hash"], k=10).collect()
    ]
    want = [
        tuple(r) for r in phrase_bm25(idx, ["table", "hash"], k=10).collect()
    ]
    assert got == want


def test_wand_after_compaction(spark, store, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx_compact"))
    cstore = compact_segments(spark, store, out)
    # one block per (termid, bucket) after compaction
    pk = cstore.packed(spark)
    assert (
        pk.groupBy("termid", "bucket").count().filter("count > 1").count() == 0
    )
    pidx = PackedIndex(spark, cstore)
    idx = cached_index(spark, SF_SMOKE)
    got = [tuple(r) for r in pidx.wand_topk(["join", "filter"], k=10).collect()]
    want = [tuple(r) for r in bm25_topk(idx, ["join", "filter"], k=10).collect()]
    assert got == want


def test_finalize_after_compaction(spark, store, tmp_path_factory):
    """A compacted root carries its ``segment=0`` term_stats partial,
    so ``finalize_term_stats`` runs on it (as after a streamed epoch
    appended to it) and leaves its term_stats unchanged."""
    out = str(tmp_path_factory.mktemp("idx_compact_final"))
    cstore = compact_segments(spark, store, out)
    before = sorted(tuple(r) for r in cstore.term_stats(spark).collect())
    assert before == sorted(
        tuple(r) for r in store.term_stats(spark).collect()
    )
    finalize_term_stats(spark, cstore)
    after = sorted(tuple(r) for r in cstore.term_stats(spark).collect())
    assert after == before


def test_field_streams_build_time(spark, tmp_path_factory):
    """Build-time title:/anchor: field postings packed into the same
    segments as the body (XmlDoc::hashTitle/hashIncomingLinkText):
    packed field_boosted_topk == relational linkextract form, incl. a
    doc with NO body (anchor-target outside the corpus) ranking via
    its field component alone."""
    import pyspark.sql.functions as F

    from open_source_search_engine_spark.operators import linkextract as L

    docs = spark.createDataFrame(
        [
            (1, "alpha beta beta gamma"),
            (2, "alpha gamma gamma delta"),
            (3, "beta delta delta delta"),
        ],
        "docid long, text string",
    )
    # doc 99 has no body at all — field-only candidate
    fp = spark.createDataFrame(
        [
            (1, "anchor:alpha", 3),
            (2, "anchor:beta", 1),
            (99, "anchor:alpha", 5),
            (1, "title:beta", 2),
        ],
        "docid long, term string, tf long",
    )
    root = str(tmp_path_factory.mktemp("idx_fields"))
    store = build_segments(
        spark, docs, SegmentStore(root), n_segments=2, n_buckets=4,
        field_postings=fp,
    )
    pidx = PackedIndex(spark, store)
    idx = build_index(docs)

    for field, terms, w in (
        ("anchor", ["alpha", "beta"], L.ANCHOR_W),
        ("title", ["beta"], L.TITLE_W),
    ):
        rel_fp = fp.filter(
            F.split("term", ":")[0] == field
        ).select(
            "docid",
            F.split("term", ":")[1].alias("term"),
            F.col("tf").alias("ftf"),
        )
        got = [
            tuple(r)
            for r in pidx.field_boosted_topk(terms, field, w, k=4).collect()
        ]
        want = [
            tuple(r)
            for r in L.field_boosted_topk(idx, rel_fp, terms, w, k=4).collect()
        ]
        assert got == want, (field, got, want)
    # the body-less doc must appear for the anchor query
    anchor_docs = {
        r["docid"]
        for r in pidx.field_boosted_topk(
            ["alpha"], "anchor", L.ANCHOR_W, k=4
        ).collect()
    }
    assert 99 in anchor_docs


def test_bucketed_table_no_shuffle(
    spark, store, tmp_path_factory, monkeypatch
):
    """save_bucketed writes the packed blocks as a bucketed table
    (CLUSTERED BY bucket); the WAND query plan over it contains ZERO
    Exchange — the scan itself satisfies the per-bucket scorer's
    distribution, so blobs never shuffle (the write-time layout the
    query-time cache stands in for). The plan pinned is the workers'
    placement (the gate forced to 0); the driver placement's scan is
    checked the same way."""
    import open_source_search_engine_spark.operators.wand as W
    from open_source_search_engine_spark.operators.segments import (
        save_bucketed,
    )

    monkeypatch.setattr(W, "_DRIVER_SCORE_MAX_DF", 0)

    path = str(tmp_path_factory.mktemp("idx_bucketed")) + "/t"
    save_bucketed(spark, store, "packed_bucketed_t", path)
    try:
        pidx = PackedIndex(
            spark, store, packed=spark.table("packed_bucketed_t")
        )
        assert pidx.jvm_prune  # disk-backed default: I/O-level prune
        idx = cached_index(spark, SF_SMOKE)
        want = [
            tuple(r)
            for r in bm25_topk(idx, ["join", "filter"], k=10).collect()
        ]
        # jvm_prune ON: the whole prune is literals from the driver
        # bound cache — bucket survival is a pushed-down `bucket IN`
        # predicate on the scan, the sub-block row test a map-literal
        # filter — so even WITH the prune the plan carries ZERO
        # Exchange and ZERO joins: the ONE FileScan is the pruned
        # blob scan itself, with the bucket prune in PushedFilters.
        res = pidx.wand_topk(["join", "filter"], k=10)
        plan = res._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "Join" not in plan, plan
        assert "PushedFilters" in plan, plan
        scans = [
            seg.split("ReadSchema")[1][:400]
            for seg in plan.split("FileScan parquet")[1:]
        ]
        # exactly ONE parquet scan in the whole plan (the scorer's),
        # projected to the scorer's columns — the packed metadata
        # columns (n, first/last_docid) must not survive into it
        # (FlatMapGroupsInPandas is opaque to Catalyst pruning; the
        # explicit _project_scorer_cols select is what cuts them).
        # The per-query bound-aggregate scans are GONE: bounds are
        # static store metadata, memoized driver-side per termid.
        assert len(scans) == 1, plan
        assert "docids" in scans[0], plan
        assert "first_docid" not in scans[0], plan
        assert [tuple(r) for r in res.collect()] == want
        # the driver placement scores the same pruned, projected scan
        _spec, scan = pidx._single_scan(
            pidx._query_ctx(["join", "filter"], k=10)
        )
        splan = scan._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in splan, splan
        assert "Join" not in splan, splan
        assert "PushedFilters" in splan, splan
        assert splan.count("FileScan parquet") == 1, splan
        assert "first_docid" not in splan.split("ReadSchema")[1], splan

        # jvm_prune OFF: zero Exchange of any kind — the bucketed scan
        # alone satisfies the per-bucket scorer's distribution
        pidx.jvm_prune = False
        res = pidx.wand_topk(["join", "filter", "hash"], k=10)
        plan = res._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        pidx.jvm_prune = True
        res2 = pidx.wand_topk(["join", "filter", "hash"], k=10)
        pidx.jvm_prune = False
        assert (
            [tuple(r) for r in res2.collect()]
            == [tuple(r) for r in res.collect()]
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS packed_bucketed_t")


def test_prune_literal_matches_block_survivors(
    spark, store, tmp_path_factory
):
    """The literal prune at Q = 1 (``_apply_prune`` with one spec:
    driver-side bucket survival pushed into the scan + array-literal
    row test) keeps EXACTLY the rows the reference in-plan implementation
    (``_block_survivors`` — the ``prune_stats`` path) keeps, across
    AND / OR / NOT shapes — the shared-bound-formula discipline,
    pinned so the two cannot drift."""
    from pyspark.sql import functions as F

    from open_source_search_engine_spark.operators.segments import (
        save_bucketed,
    )
    from open_source_search_engine_spark.operators.wand import (
        _block_survivors,
    )

    path = str(tmp_path_factory.mktemp("idx_parity")) + "/t"
    save_bucketed(spark, store, "packed_parity_t", path)
    try:
        pidx = PackedIndex(
            spark, store, packed=spark.table("packed_parity_t")
        )
        key = ["termid", "bucket", "first_docid", "last_docid"]
        for terms, mode, neg in [
            (["join", "filter"], "and", None),
            (["join", "filter", "hash"], "or", None),
            (["join"], "and", ["filter"]),
        ]:
            ctx = pidx._query_ctx(terms, k=2, mode=mode, neg_terms=neg)
            assert ctx is not None
            cut = ctx["cut"]
            # a -inf cut makes the prune a no-op on both sides but the
            # reference filter still nulls out neg-only buckets — the
            # parity claim is about live cuts, so require one
            assert cut > float("-inf"), (terms, mode, neg)
            got = {
                tuple(r)
                for r in pidx._apply_prune(ctx["blocks"], [ctx])
                .select(*key)
                .collect()
            }
            keep = (F.col("bucket_ub") >= F.lit(cut)) & F.col("row_keep")
            if ctx["required"]:
                keep = keep & (F.col("nterms") == len(ctx["required"]))
            keep = F.coalesce(keep, F.lit(False))
            want = {
                tuple(r)
                for r in _block_survivors(ctx["blocks"], ctx["idf"], cut)
                .filter(keep)
                .select(*key)
                .collect()
            }
            assert got == want, (terms, mode, neg, cut)
            assert got, (terms, mode, neg, cut)

        # swept cuts: the parity must hold not just at the seed-τ cut
        # but across the whole bound range — scale the AND query's cut
        # from prune-nothing to prune-everything and compare survivor
        # sets at each step
        ctx = pidx._query_ctx(["join", "filter"], k=2, mode="and")
        base = ctx["cut"]
        for scale in (0.25, 0.75, 1.0, 1.25, 2.0, 8.0):
            c = base * scale
            ctx["cut"] = c
            got = {
                tuple(r)
                for r in pidx._apply_prune(ctx["blocks"], [ctx])
                .select(*key)
                .collect()
            }
            keep = (F.col("bucket_ub") >= F.lit(c)) & F.col("row_keep")
            keep = keep & (F.col("nterms") == len(ctx["required"]))
            keep = F.coalesce(keep, F.lit(False))
            want = {
                tuple(r)
                for r in _block_survivors(ctx["blocks"], ctx["idf"], c)
                .filter(keep)
                .select(*key)
                .collect()
            }
            assert got == want, (scale, c)
    finally:
        spark.sql("DROP TABLE IF EXISTS packed_parity_t")


def test_prune_plan_cost_flat_in_buckets(
    spark, tmp_path_factory, monkeypatch
):
    """The literal prune's plan construction costs the same number of
    py4j calls at 2 and 16 buckets: its thresholds ride in one array
    literal per term and its bucket survival in one parsed ``IN``
    list, so a wider bucket fan-out adds no per-bucket JVM call. Both
    pruned results equal the relational top-k. The workers' placement
    is counted (the gate forced to 0); the driver placement's scan
    carries the same ``bucket IN``."""
    import open_source_search_engine_spark.operators.wand as W
    from open_source_search_engine_spark.operators.segments import (
        save_bucketed,
    )

    monkeypatch.setattr(W, "_DRIVER_SCORE_MAX_DF", 0)

    idx = cached_index(spark, SF_SMOKE)
    terms = ["join", "filter"]
    want = [tuple(r) for r in bm25_topk(idx, terms, k=3).collect()]
    client = spark.sparkContext._gateway._gateway_client
    counts = {}
    for nb in (2, 16):
        root = str(tmp_path_factory.mktemp(f"idx_cost{nb}"))
        st = build_segments(
            spark, _docs(spark), SegmentStore(root),
            n_segments=1, n_buckets=nb,
        )
        name = f"packed_cost{nb}_t"
        save_bucketed(spark, st, name, root + "/t")
        try:
            with PackedIndex(spark, st, packed=spark.table(name)) as pidx:
                # warm the term, seed and bound caches first, so only
                # the plan construction is counted
                assert [
                    tuple(r) for r in pidx.wand_topk(terms, k=3).collect()
                ] == want
                assert pidx._query_spec(terms, k=3)["cut"] > float("-inf")
                calls = []
                orig = client.send_command

                def counting(command, *a, **kw):
                    if command.startswith("c"):  # a py4j method call
                        calls.append(command)
                    return orig(command, *a, **kw)

                client.send_command = counting
                try:
                    res = pidx.wand_topk(terms, k=3)
                finally:
                    client.send_command = orig
                plan = res._jdf.queryExecution().executedPlan().toString()
                assert "In(bucket" in plan, (nb, plan)
                _spec, scan = pidx._single_scan(pidx._query_ctx(terms, k=3))
                splan = scan._jdf.queryExecution().executedPlan().toString()
                assert "In(bucket" in splan, (nb, splan)
                counts[nb] = len(calls)
                assert [tuple(r) for r in res.collect()] == want
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
    assert counts[2] == counts[16], counts


def test_prune_fallback_and_guards(
    spark, store, tmp_path_factory, monkeypatch
):
    """(a) Past ``_LITERAL_PRUNE_MAX_CELLS`` the plan carries no
    prune and the results are identical; (b)
    non-positive term weights are rejected before they can flip the
    block-max bound's sign; (c) ``_warm_popular`` pre-warms the bound
    cache on disk-backed stores so a head-term query's first pruned
    execution runs ONE job. The plans pinned are the workers'
    placement (the gate forced to 0); the driver placement's scan
    gains and loses its thresholds the same way."""
    import open_source_search_engine_spark.operators.wand as W
    from open_source_search_engine_spark.operators.segments import (
        save_bucketed,
    )

    monkeypatch.setattr(W, "_DRIVER_SCORE_MAX_DF", 0)

    def driver_scan_plan():
        _spec, scan = pidx._single_scan(
            pidx._query_ctx(["join", "filter"], k=10)
        )
        return scan._jdf.queryExecution().executedPlan().toString()

    path = str(tmp_path_factory.mktemp("idx_fb")) + "/t"
    save_bucketed(spark, store, "packed_fb_t", path)
    try:
        pidx = PackedIndex(
            spark, store, packed=spark.table("packed_fb_t")
        )
        # (c) bound cache pre-warmed for popular termids at build
        assert pidx._bound_cache, "bound cache not warmed"
        want = [
            tuple(r)
            for r in pidx.wand_topk(["join", "filter"], k=10).collect()
        ]
        # (a) past the cap: no bucket IN, no threshold literals, no
        # join — the kernel's own check is the prune; results identical
        pruned = pidx.wand_topk(["join", "filter"], k=10)
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "element_at" in plan, plan
        assert "element_at" in driver_scan_plan()
        monkeypatch.setattr(W, "_LITERAL_PRUNE_MAX_CELLS", 0)
        res = pidx.wand_topk(["join", "filter"], k=10)
        plan = res._jdf.queryExecution().executedPlan().toString()
        assert "element_at" not in plan, plan
        assert "In(bucket" not in plan, plan
        assert "Join" not in plan, plan
        splan = driver_scan_plan()
        assert "element_at" not in splan, splan
        assert "In(bucket" not in splan, splan
        assert [tuple(r) for r in res.collect()] == want
        # (b) non-positive weights rejected
        with pytest.raises(ValueError, match="positive"):
            pidx.wand_topk(["join"], k=5, weights={"join": -1.0})
    finally:
        spark.sql("DROP TABLE IF EXISTS packed_fb_t")


def test_wand_diversity_matches_relational_formula(spark, pos_store):
    """Diversity-scored packed top-k ≡ a relational replay: div =
    distinct following-term count (capped 15), multiplier (8+div)/16.
    Pins the build-time collect_set(next) aggregate against an
    independent lead()-window computation."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from open_source_search_engine_spark.tokenizer import explode_tokens

    pidx = PackedIndex(spark, pos_store)
    got = [
        tuple(r)
        for r in pidx.wand_diversity_topk(["join", "filter"], k=10).collect()
    ]
    idx = cached_index(spark, SF_SMOKE, with_positions=True)
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    toks = explode_tokens(
        docs.withColumnRenamed("doc_id", "docid"), "docid", "text"
    )
    w = Window.partitionBy("docid").orderBy("pos")
    divr = (
        toks.withColumn("nxt", F.lead("term").over(w))
        .groupBy("docid", "term")
        .agg(
            F.least(F.lit(15), F.countDistinct("nxt"))
            .cast("long")
            .alias("divrank")
        )
    )
    p = idx.postings.filter(F.col("term").isin(["join", "filter"]))
    qt = idx.term_stats.filter(F.col("term").isin(["join", "filter"]))
    scored = (
        p.join(divr, ["docid", "term"])
        .join(qt.select("termid", idx.idf_col().alias("idf")), "termid")
        .withColumn(
            "part",
            F.col("idf") * idx.tfnorm_col()
            * ((F.lit(8) + F.col("divrank")) / 16.0),
        )
        .groupBy("docid")
        .agg(F.sum("part").alias("s"), F.countDistinct("term").alias("nm"))
        .filter(F.col("nm") == 2)
        .select("docid", F.round("s", 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("docid"))
        .limit(10)
    )
    want = [tuple(r) for r in scored.collect()]
    assert got == want


def test_empty_segment_and_split_mismatch_guard(spark, tmp_path_factory):
    """Round-4 engine review fixes: (a) a segment whose hash class
    holds zero docs commits a (0, 0) manifest row instead of dying on
    int(None) after its parquet write; (b) resuming a store under a
    DIFFERENT n_segments raises instead of silently dropping or
    double-counting documents."""
    root = str(tmp_path_factory.mktemp("tiny"))
    tiny = _docs(spark).limit(3)  # 3 docs over 8 segments → empties
    st = build_segments(
        spark, tiny, SegmentStore(root), n_segments=8, n_buckets=4
    )
    m = st.manifest(spark)
    rows = {int(r["part_lo"]): r for r in m.collect()}
    assert len(rows) == 8  # every segment committed, incl. empty ones
    assert sum(int(r["docs"]) for r in rows.values()) == 3
    assert any(int(r["docs"]) == 0 for r in rows.values())

    with pytest.raises(ValueError, match="segment split mismatch"):
        build_segments(
            spark, tiny, SegmentStore(root), n_segments=4, n_buckets=4
        )
    # same split resumes as a no-op (all segments committed)
    build_segments(
        spark, tiny, SegmentStore(root), n_segments=8, n_buckets=4
    )


def test_field_boosted_empty_schema_and_tf0_filter(
    spark, tmp_path_factory
):
    """(a) field_boosted_topk with label_map returns an empty STRING
    docid frame when no term is indexed (schema-consistent with the
    labelled non-empty path); (b) tf=0 field-posting rows are dropped
    at build instead of emitting the [1, 0] F.sequence artifact that
    mis-frames the positions blob."""
    import pyspark.sql.functions as SF

    root = str(tmp_path_factory.mktemp("fld"))
    docs = _docs(spark).limit(40)
    fp = docs.select(
        "docid",
        SF.concat(SF.lit("title:"), SF.lit("join")).alias("term"),
        SF.when(SF.col("docid") % 2 == 0, 2).otherwise(0)
        .cast("long").alias("tf"),  # half the rows are tf=0
    )
    st = build_segments(
        spark, docs, SegmentStore(root), n_segments=1, n_buckets=4,
        with_positions=True, field_postings=fp,
    )
    pidx = PackedIndex(spark, st)
    # phrase scoring decodes the positions stream end to end — a
    # mis-framed blob would produce wrong ranks or decode errors
    out = pidx.wand_phrase_topk(["join", "filter"], k=5).collect()
    assert all(r["score"] > 0 for r in out)

    labels = docs.select(
        "docid", SF.concat(SF.lit("u"), "docid").alias("label")
    )
    empty = pidx.field_boosted_topk(
        ["zzznotaterm"], "title", 2.0, label_map=labels
    )
    assert empty.count() == 0
    assert dict(empty.dtypes)["docid"] == "string"
