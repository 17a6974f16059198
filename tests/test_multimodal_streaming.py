"""Streaming surface: incremental index foreachBatch, watermarked
windows, session windows, per-key throttle, ingest-time dedup."""

from __future__ import annotations

import os

from conftest import SF_CORRECT, assert_df_matches_duckdb


def test_events_windowed_oracle(spark, duck_correct):
    import __spark_entry__ as m

    sdf = m.queries()["events_windowed"](spark, SF_CORRECT)
    assert_df_matches_duckdb(sdf, duck_correct, m.oracle_sql()["events_windowed"])


def test_events_sessionized_oracle(spark, duck_correct):
    # extended tier since the r5 rotation — resolve via both tiers
    from conftest import query_and_oracle

    fn, sql = query_and_oracle("events_sessionized")
    assert_df_matches_duckdb(fn(spark, SF_CORRECT), duck_correct, sql)


def test_windowed_streaming_matches_batch(spark, tmp_path):
    """The STREAMING windowed agg (watermark + availableNow trigger)
    over the events parquet produces the same rows as the batch form,
    because all data is on time (watermark only drops late rows)."""
    from open_source_search_engine_spark.streaming.incremental import (
        windowed_event_counts,
    )

    events_path = f"{SF_CORRECT}/events.parquet"
    batch = windowed_event_counts(spark.read.parquet(events_path))
    want = sorted(
        (r["wstart"], r["event_type"], r["n"], r["sum_value"])
        for r in batch.collect()
    )

    import shutil

    stream_dir = str(tmp_path / "events_in")
    os.makedirs(stream_dir)
    shutil.copy(events_path, os.path.join(stream_dir, "part-0.parquet"))
    schema = spark.read.parquet(events_path).schema
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    q = (
        windowed_event_counts(stream, streaming=True)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_counts")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["wstart"], r["event_type"], r["n"], r["sum_value"])
        for r in spark.sql("SELECT * FROM win_counts").collect()
    )
    assert got == want and want


def test_incremental_index_stream(spark, tmp_path):
    """Micro-batch indexing: documents dropped as parquet become
    packed segments + manifest rows; a WAND query over the resulting
    store matches the relational BM25 over the same docs."""
    from pyspark.sql import functions as F

    from open_source_search_engine_spark.operators.bm25 import bm25_topk
    from open_source_search_engine_spark.operators.index_build import (
        build_index,
    )
    from open_source_search_engine_spark.operators.segments import (
        SegmentStore,
        finalize_term_stats,
    )
    from open_source_search_engine_spark.operators.wand import PackedIndex
    from open_source_search_engine_spark.streaming.incremental import (
        start_incremental_index,
    )

    docs = (
        spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
        .withColumnRenamed("doc_id", "docid")
        .select("docid", "text")
    )
    in_dir = str(tmp_path / "incoming")
    os.makedirs(in_dir)
    # two "arrivals"
    docs.filter("docid % 2 = 0").coalesce(1).write.mode("append").parquet(in_dir)
    store = SegmentStore(str(tmp_path / "store"))
    ck = str(tmp_path / "ck2")
    q = start_incremental_index(spark, in_dir, store, ck)
    q.awaitTermination(180)
    docs.filter("docid % 2 = 1").coalesce(1).write.mode("append").parquet(in_dir)
    q2 = start_incremental_index(spark, in_dir, store, ck)
    q2.awaitTermination(180)

    manifest = store.manifest(spark).collect()
    assert len(manifest) >= 2
    finalize_term_stats(spark, store)

    pidx = PackedIndex(spark, store)
    got = [
        (r["docid"], r["score"])
        for r in pidx.wand_topk(["join", "filter"], k=10).collect()
    ]
    idx = build_index(docs)
    want = [
        (r["docid"], r["score"])
        for r in bm25_topk(idx, ["join", "filter"], k=10).collect()
    ]
    assert got == want


# --- I2: stateful per-key throttle ----------------------------------------


def _throttle_ref(ts_list, rate=1e-5, burst=5.0):
    tokens, last, allowed, throttled = burst, 0.0, 0, 0
    for ts in sorted(ts_list):
        if last > 0.0 and ts > last:
            tokens = min(burst, tokens + (ts - last) * rate)
        last = max(last, ts)
        if tokens >= 1.0:
            tokens -= 1.0
            allowed += 1
        else:
            throttled += 1
    return allowed, throttled


def test_throttle_batch_matches_reference(spark):
    from open_source_search_engine_spark.streaming.throttle import (
        throttle_batch,
    )

    ev = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    got = {
        r["key"]: (r["n_allowed"], r["n_throttled"])
        for r in throttle_batch(ev, rate=1e-5).collect()
    }
    rows = ev.select("event_type", ev.ts.cast("timestamp").cast("double")
                     .alias("s")).collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["event_type"], []).append(r["s"])
    want = {k: _throttle_ref(v) for k, v in by_key.items()}
    assert got == want
    assert any(t > 0 for _, t in got.values())  # throttling actually bites


def test_throttle_streaming_state(spark, tmp_path):
    import shutil

    from open_source_search_engine_spark.streaming.throttle import (
        start_throttled_stream,
    )

    src = f"{SF_CORRECT}/events.parquet"
    stream_dir = str(tmp_path / "thr_in")
    os.makedirs(stream_dir)
    shutil.copy(src, os.path.join(stream_dir, "part-0.parquet"))
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    q = start_throttled_stream(
        stream, rate=1e-5, queryName="thr_counts",
        checkpoint_dir=str(tmp_path / "thr_ck"),
    )
    q.awaitTermination(120)
    got = {
        r["key"]: (r["n_allowed"], r["n_throttled"])
        for r in spark.sql("SELECT * FROM thr_counts").collect()
    }
    assert got and all(a + t > 0 for a, t in got.values())
    # single batch => equals the batch form
    from open_source_search_engine_spark.streaming.throttle import (
        throttle_batch,
    )

    want = {
        r["key"]: (r["n_allowed"], r["n_throttled"])
        for r in throttle_batch(spark.read.parquet(src), rate=1e-5).collect()
    }
    assert got == want


def test_streaming_dedup_cross_batch(spark, tmp_path):
    """Ingest-time exact dedup across micro-batches: within-batch
    duplicates keep the smallest docid, a later epoch's copy of an
    already-admitted content is dropped, and the accumulated output
    equals the batch dedup of the full input."""
    import os as _os

    from open_source_search_engine_spark.streaming.dedup_stream import (
        deduped_output,
        start_dedup_stream,
    )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    seen_dir = str(tmp_path / "seen")
    ck = str(tmp_path / "ck")
    _os.makedirs(in_dir)

    def drop(name, rows):
        spark.createDataFrame(
            rows, "docid long, text string"
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / ("stage_" + name))
        )
        import glob
        import shutil
        src = glob.glob(str(tmp_path / ("stage_" + name) / "part-*.parquet"))[0]
        shutil.copy(src, _os.path.join(in_dir, name + ".parquet"))

    # batch 1: an internal duplicate (docids 3 & 7 share content)
    drop("b1", [(3, "alpha beta"), (7, "alpha beta"), (1, "gamma")])
    q = start_dedup_stream(spark, in_dir, out_dir, seen_dir, ck)
    q.awaitTermination(120)

    got1 = {(r["docid"], r["text"])
            for r in deduped_output(spark, out_dir).collect()}
    assert got1 == {(3, "alpha beta"), (1, "gamma")}

    # batch 2: cross-batch dup of "alpha beta" (drops), new content,
    # and a new internal dup pair
    drop("b2", [(9, "alpha beta"), (5, "delta"), (11, "eps"),
                (10, "eps")])
    q = start_dedup_stream(spark, in_dir, out_dir, seen_dir, ck)
    q.awaitTermination(120)

    got2 = {(r["docid"], r["text"])
            for r in deduped_output(spark, out_dir).collect()}
    assert got2 == {(3, "alpha beta"), (1, "gamma"), (5, "delta"),
                    (10, "eps")}


def test_streaming_dedup_null_vs_empty_text(spark, tmp_path):
    """NULL text and '' text are DISTINCT hash groups, matching batch
    dedup_exact (where groupBy puts NULL in its own group): one
    survivor each within a batch, and a later epoch's NULL-text doc
    is recognized cross-batch and dropped (the round-4 sentinel fix —
    plain md5(NULL)=NULL never equi-joins, while coalescing text to
    '' before hashing wrongly merged the two groups)."""
    import glob
    import os as _os
    import shutil

    from open_source_search_engine_spark.streaming.dedup_stream import (
        deduped_output,
        start_dedup_stream,
    )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    seen_dir = str(tmp_path / "seen")
    ck = str(tmp_path / "ck")
    _os.makedirs(in_dir)

    def drop(name, rows):
        spark.createDataFrame(
            rows, "docid long, text string"
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / ("stage_" + name))
        )
        src = glob.glob(
            str(tmp_path / ("stage_" + name) / "part-*.parquet"))[0]
        shutil.copy(src, _os.path.join(in_dir, name + ".parquet"))

    # batch 1: two NULL-text docs (one group, smallest id survives)
    # and two ''-text docs (a DIFFERENT group, smallest id survives)
    drop("b1", [(4, None), (2, None), (8, ""), (6, "")])
    q = start_dedup_stream(spark, in_dir, out_dir, seen_dir, ck)
    q.awaitTermination(120)
    got1 = {(r["docid"], r["text"])
            for r in deduped_output(spark, out_dir).collect()}
    assert got1 == {(2, None), (6, "")}

    # batch 2: cross-batch NULL and '' copies both drop; real text
    # passes
    drop("b2", [(9, None), (7, ""), (5, "zeta")])
    q = start_dedup_stream(spark, in_dir, out_dir, seen_dir, ck)
    q.awaitTermination(120)
    got2 = {(r["docid"], r["text"])
            for r in deduped_output(spark, out_dir).collect()}
    assert got2 == {(2, None), (6, ""), (5, "zeta")}


def test_streaming_neardup_cross_batch(spark, tmp_path):
    """SimHash near-dup gate: identical content (Hamming 0) dropped
    within and across batches under first-wins precedence; distinct
    content passes. The policy check uses Hamming-0 twins so the test
    never gambles on the fingerprint distance of hand-edited text."""
    import os as _os

    from open_source_search_engine_spark.streaming.dedup_stream import (
        deduped_output,
        start_neardup_stream,
    )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    seen_dir = str(tmp_path / "seen")
    ck = str(tmp_path / "ck")
    _os.makedirs(in_dir)

    t_a = "the quick brown fox jumps over the lazy dog again and again"
    t_b = "completely different content about database query engines"
    t_c = "a third unrelated text mentioning spark shuffles and joins"

    def drop(name, rows):
        import glob
        import shutil
        spark.createDataFrame(
            rows, "docid long, text string"
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / ("stage_" + name))
        )
        src = glob.glob(
            str(tmp_path / ("stage_" + name) / "part-*.parquet")
        )[0]
        shutil.copy(src, _os.path.join(in_dir, name + ".parquet"))

    drop("b1", [(4, t_a), (2, t_a), (6, t_b)])  # within-batch twins
    q = start_neardup_stream(spark, in_dir, out_dir, seen_dir, ck)
    q.awaitTermination(180)
    got1 = {r["docid"] for r in deduped_output(spark, out_dir).collect()}
    assert got1 == {2, 6}  # smallest docid of the twin pair wins

    drop("b2", [(9, t_a), (11, t_c)])  # 9 = cross-batch twin of 2
    q = start_neardup_stream(spark, in_dir, out_dir, seen_dir, ck)
    q.awaitTermination(180)
    got2 = {r["docid"] for r in deduped_output(spark, out_dir).collect()}
    assert got2 == {2, 6, 11}

    # zero-token docs (NULL / empty / punctuation-only) carry no
    # SimHash row; they must PASS the near-dup gate, not silently
    # vanish (round-4 review fix)
    drop("b3", [(20, None), (21, ""), (22, "!!! ???")])
    q = start_neardup_stream(spark, in_dir, out_dir, seen_dir, ck)
    q.awaitTermination(180)
    got3 = {r["docid"] for r in deduped_output(spark, out_dir).collect()}
    assert got3 == {2, 6, 11, 20, 21, 22}


def test_incremental_index_tokenless_batch_commits_zero_row(
    spark, tmp_path
):
    """A non-empty micro-batch holding only token-less docs (empty /
    punctuation text) used to kill the StreamingQuery with
    int(None) — it must commit a zero-mass manifest row instead
    (round-4 review fix)."""
    import glob
    import os as _os
    import shutil

    from open_source_search_engine_spark.operators.segments import (
        SegmentStore,
    )
    from open_source_search_engine_spark.streaming.incremental import (
        start_incremental_index,
    )

    in_dir = str(tmp_path / "in")
    root = str(tmp_path / "store")
    ck = str(tmp_path / "ck")
    _os.makedirs(in_dir)
    spark.createDataFrame(
        [(1, ""), (2, "!!!")], "docid long, text string"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
    src = glob.glob(str(tmp_path / "stage" / "part-*.parquet"))[0]
    shutil.copy(src, _os.path.join(in_dir, "b1.parquet"))

    q = start_incremental_index(spark, in_dir, SegmentStore(root), ck)
    q.awaitTermination(120)
    assert q.exception() is None, q.exception()
    st = SegmentStore(root)
    rows = st.manifest(spark).collect()
    assert len(rows) == 1
    assert rows[0]["docs"] == 0 and rows[0]["sum_doclen"] == 0


def test_throttle_streaming_multichunk_group(spark, tmp_path):
    """A key whose micro-batch spans several Arrow chunks must sort
    the WHOLE group before the token bucket runs — chunk-local sorts
    make the counts chunking-dependent (round-4 review fix). Forced
    by dropping arrow.maxRecordsPerBatch below the group size."""
    import os as _os

    from open_source_search_engine_spark.streaming.throttle import (
        start_throttled_stream,
        throttle_batch,
    )

    from pyspark.sql import functions as F

    n = 40
    rows = [
        # descending timestamps so any chunk split breaks a naive
        # chunk-local bucket (later chunks hold earlier events)
        ("k", float(1_700_000_000 + (n - i) * 3)) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "event_type string, ts_d double")
    df = df.select(
        "event_type", F.col("ts_d").cast("timestamp").alias("ts")
    )
    stage = str(tmp_path / "stage")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    in_dir = str(tmp_path / "in")
    _os.makedirs(in_dir)
    import glob
    import shutil

    shutil.copy(
        glob.glob(stage + "/part-*.parquet")[0],
        _os.path.join(in_dir, "b1.parquet"),
    )

    conf_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "7")  # 40 events -> 6 chunks
    try:
        schema = spark.read.parquet(stage).schema
        stream = spark.readStream.schema(schema).parquet(in_dir)
        q = start_throttled_stream(
            stream, rate=0.1, queryName="thr_chunked",
            checkpoint_dir=str(tmp_path / "ck"),
        )
        q.awaitTermination(120)
        got = {
            r["key"]: (r["n_allowed"], r["n_throttled"])
            for r in spark.sql("SELECT * FROM thr_chunked").collect()
        }
    finally:
        if old is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, old)
    want = {
        r["key"]: (r["n_allowed"], r["n_throttled"])
        for r in throttle_batch(
            spark.read.parquet(stage), rate=0.1
        ).collect()
    }
    assert got == want and got["k"][1] > 0
