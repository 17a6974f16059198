"""Regression tests for the round-2 ADVICE findings.

1. SimHash banding must be radius-complete at ANY radius — nbits=60,
   max_hamming=10 needs 11 bands (the ceil-width form produced 10).
2. Streaming epochs in a shared manifest must never satisfy BATCH
   segment resume (part_lo collision between stream-* and seg-* rows).
3. Term-less sortby queries ("lang:en sortby:n_chars") order the
   restrict set directly instead of raising.
"""

from __future__ import annotations

import itertools
import random

from conftest import SF_SMOKE


def _hamming_found_pairs(spark, values, max_hamming, nbits=60):
    from open_source_search_engine_spark.operators.pipeline import (
        hamming_pairs,
    )

    df = spark.createDataFrame(
        [(i, int(v)) for i, v in enumerate(values)],
        "docid long, simhash long",
    )
    rows = hamming_pairs(df, max_hamming=max_hamming, nbits=nbits).collect()
    return {(r["doc_a"], r["doc_b"]): r["hamming"] for r in rows}


def test_simhash_banding_complete_radius10_adversarial(spark):
    """Pair differing by ONE bit in each former ceil-width band
    (positions 0,6,...,54): Hamming 10, missed by the round-2 banding,
    must be found by the exact-11-band partition."""
    base = 0x0ABCDEF0123456F  # arbitrary 60-bit value
    flipped = base
    for pos in range(0, 60, 6):  # 10 flips, one per old 6-bit band
        flipped ^= 1 << pos
    found = _hamming_found_pairs(spark, [base, flipped], max_hamming=10)
    assert found == {(0, 1): 10}


def test_simhash_banding_complete_radius10_random(spark):
    rng = random.Random(7)
    values = []
    expected = {}
    for i in range(12):
        base = rng.getrandbits(60)
        k = rng.randint(0, 10)
        positions = rng.sample(range(60), k)
        flipped = base
        for p in positions:
            flipped ^= 1 << p
        a, b = len(values), len(values) + 1
        values.extend([base, flipped])
        if base != flipped:
            expected[(a, b)] = k
    found = _hamming_found_pairs(spark, values, max_hamming=10)
    # every planted pair is found with the right distance (other random
    # cross-pairs may legitimately appear; check the planted subset)
    for pair, dist in expected.items():
        assert found.get(pair) == dist, f"missed planted pair {pair}"


def test_simhash_banding_exact_band_count():
    """60 bits / radius 10 → exactly 11 bands whose widths sum to 60."""
    from open_source_search_engine_spark.operators import pipeline

    nbits, nbands = 60, 11
    base, extra = divmod(nbits, nbands)
    widths = [base + (1 if q < extra else 0) for q in range(nbands)]
    assert len(widths) == nbands and sum(widths) == nbits
    assert pipeline.SIMHASH_BITS == 60


def test_stream_epochs_do_not_satisfy_batch_resume(spark, tmp_path):
    """A store holding streaming epochs 0..2 must still build batch
    segments 0..2 (the manifest rows are different kinds)."""
    import os

    from pyspark.sql import functions as F

    from open_source_search_engine_spark.operators.index_build import (
        build_index,
    )
    from open_source_search_engine_spark.operators.segments import (
        SegmentStore,
        _append_manifest_row,
        build_segments,
        pack_postings,
    )

    store = SegmentStore(str(tmp_path / "store"))
    empty = build_index(
        spark.createDataFrame([], "docid long, text string"),
        "docid", "text", compute_globals=False,
    )
    for epoch in range(3):
        sid = f"stream-{epoch:06d}"
        # what a committed epoch writes before its manifest row (here
        # for an empty micro-batch): its segment dir and its partial
        pack_postings(empty.postings, 2).write.parquet(store.segment_dir(sid))
        empty.term_stats.write.parquet(
            os.path.join(store.root, f"term_stats_partial/segment={sid}")
        )
        _append_manifest_row(
            store.manifest_path,
            segment_id=sid,
            part_lo=epoch,
            part_hi=epoch,
            status="committed",
            rows=-1,
            docs=1,
            sum_doclen=5,
            wall_ms=1,
        )
    assert store.committed_segments(spark) == set()

    docs = spark.createDataFrame(
        [(i, f"alpha beta doc{i}") for i in range(40)],
        "docid long, text string",
    )
    build_segments(spark, docs, store, n_segments=2, n_buckets=2)
    # both batch segments committed, all docs present
    segs = store.committed_segments(spark)
    assert segs == {0, 1}
    n_docs = (
        store.manifest(spark)
        .filter(F.col("segment_id").startswith("seg-"))
        .agg(F.sum("docs"))
        .first()[0]
    )
    assert n_docs == 40


def test_termless_sortby_search(spark):
    import os

    from pyspark.sql import functions as F

    from open_source_search_engine_spark.operators import search as S
    from open_source_search_engine_spark.operators.index_build import (
        cached_index,
    )

    idx = cached_index(spark, SF_SMOKE)
    meta = (
        spark.read.parquet(os.path.join(SF_SMOKE, "documents.parquet"))
        .withColumnRenamed("doc_id", "docid")
    )
    got = S.search(idx, meta, "lang:en sortby:n_chars", k=5).collect()
    want = (
        meta.filter(F.col("lang") == "en")
        .orderBy(F.desc("n_chars"), F.asc("docid"))
        .limit(5)
        .select("docid", F.col("n_chars").cast("long").alias("sval"))
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_termless_sortby_with_negation(spark):
    import os

    from pyspark.sql import functions as F

    from open_source_search_engine_spark.operators import search as S
    from open_source_search_engine_spark.operators.index_build import (
        cached_index,
    )

    idx = cached_index(spark, SF_SMOKE)
    meta = (
        spark.read.parquet(os.path.join(SF_SMOKE, "documents.parquet"))
        .withColumnRenamed("doc_id", "docid")
    )
    got = S.search(idx, meta, "-join lang:en sortby:n_chars", k=5).collect()
    bad = {
        r["docid"]
        for r in idx.postings.filter(F.col("term") == "join")
        .select("docid")
        .distinct()
        .collect()
    }
    assert got and all(r["docid"] not in bad for r in got)
