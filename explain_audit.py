"""Physical-plan audit: prints .explain("formatted") for the engine's
load-bearing plans and greps them for the properties that matter at
100 TB (PushedFilters reaching the scan, WholeStageCodegen spans,
BroadcastHashJoin for small sides, TakeOrderedAndProject for top-k,
partial aggregation before shuffle). Writes BENCH/plans.md.

Run: python explain_audit.py  (uses sf0.01; ~1 min)
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

CHECKS = {
    "bm25_and": [
        ("BroadcastHashJoin", "query-term join is broadcast, not shuffled"),
        ("TakeOrderedAndProject", "top-k is partial-heap + merge"),
        ("HashAggregate", "partial aggregation before the docid shuffle"),
    ],
    "postings_build": [
        ("Generate", "tokenize+explode is builtin posexplode (no Python UDF)"),
        ("HashAggregate", "map-side partial agg"),
    ],
    "doc_fetch_scan": [
        ("PushedFilters", "term filter pushed to the parquet scan"),
    ],
    "site_cluster": [
        ("Window", "per-site ranking is a window, not a self-join"),
        ("BroadcastHashJoin", "metadata join broadcast"),
    ],
    "wand_topk": [
        ("TakeOrderedAndProject", "global top-k merge is partial-heap"),
        ("FlatMapGroupsInPandas", "per-bucket numpy scorer"),
    ],
    "minhash_verify": [
        ("LeftSemi", "verify stage prunes shingles to candidate docs"),
    ],
    "link_extract": [
        ("Generate", "href explode is builtin, no Python"),
    ],
    "wand_bucketed": [
        ("SelectedBucketsCount", "write-time bucketed layout drives the scan"),
        ("FlatMapGroupsInPandas", "per-bucket scorer fed straight off the scan"),
    ],
    "wand_bucketed_jvmprune": [
        ("In(bucket", "driver-side bucket survival reaches the scan as a "
                      "pushed-down bucket IN predicate"),
        ("SelectedBucketsCount", "pruned buckets' FILES are deselected at "
                                 "the bucketed scan — their blobs are "
                                 "never read"),
        ("element_at", "the sub-block row bound reads its per-(termid, "
                       "bucket) thresholds from bucket-indexed array "
                       "LITERALS in the filter — no per-query bound "
                       "frames, no joins"),
        ("blockmax_tf", "row-level bound reads only the scalar extrema "
                        "columns, in the same codegen stage as the scan"),
    ],
    "wand_batch_bucketed_jvmprune": [
        ("In(bucket", "the batch runs the single-query prune with Q "
                      "specs: buckets no query can use are deselected "
                      "by a pushed-down bucket IN predicate"),
        ("element_at", "sub-blocks below every interested query's "
                       "threshold drop before Arrow; the thresholds fold "
                       "driver-side from the memoized per-(termid, "
                       "bucket) bound cache (_bounds_for) — a warm batch "
                       "adds no scan or job beyond the pruned blob scan "
                       "itself"),
    ],
    "wand_driver_scored": [
        ("In(bucket", "a small query's driver placement scores the same "
                      "literal-pruned scan: bucket survival pushed down"),
        ("element_at", "the sub-block row thresholds filter before "
                       "toArrow() hands the rows to the driver kernel"),
        ("PushedFilters", "termid and bucket filters reach the parquet "
                          "scan"),
    ],
    "field_boost_packed": [
        ("FlatMapGroupsInPandas", "hashgroup scorer over build-time field streams"),
        ("BroadcastHashJoin", "docid→url label join broadcast"),
    ],
    "ivf_partition_pruned": [
        ("PartitionFilters", "cid probe is parquet partition pruning"),
    ],
    "lsh_partition_pruned": [
        ("PartitionFilters", "(t, sig) probe is parquet partition pruning"),
        ("BroadcastHashJoin", "candidate ids re-join embeddings broadcast"),
    ],
    "syngroups": [
        ("BroadcastHashJoin", "group/weight table broadcast to the postings scan"),
        ("TakeOrderedAndProject", "top-k is partial-heap + merge"),
        ("bit_or", "group coverage is a map-side bitmask agg, not a "
                   "two-shuffle countDistinct expansion"),
    ],
    "dns_cache": [
        ("FlatMapGroupsInPandas", "per-host TTL replay is one Arrow pass"),
        # no pre-aggregation is CORRECT here: the replay recurrence
        # consumes every (host, ts) row, and those two scalars are all
        # the shuffle carries (column pruning at the cached scan)
    ],
    "spider_cycle": [
        ("BroadcastHashJoin", "crawl gates join broadcast (tiny ok-set)"),
    ],
    "decontaminate": [
        ("BroadcastHashJoin", "the eval shingle dictionary broadcasts; "
         "training data never shuffles for the join"),
        ("xxhash64", "shingles leave the scan as 8-byte hashes, not "
         "strings"),
        ("partial_count", "per-doc aggregation combines map-side"),
    ],
    "substring_spans": [
        ("xxhash64", "shingles shuffle as 8-byte hashes, not strings"),
        ("partial_count", "per-doc aggregation combines map-side"),
    ],
    "training_mix": [
        ("BroadcastHashJoin", "the contamination stage keeps its "
         "broadcast shape inside the fused five-stage plan"),
        ("xxhash64", "span/contam stages share the hashed-shingle form"),
    ],
    "repetition_stats": [
        ("Generate", "gram explode is builtin (JVM transform+explode, "
         "no Python UDF)"),
        ("partial_max", "per-(doc,gram) counts and the per-doc max "
         "combine map-side before the docid shuffle"),
    ],
    "lm_perplexity": [
        ("partial_count", "unigram/bigram count tables combine "
         "map-side (vocabulary-sized outputs)"),
        ("partial_sum", "per-doc log-prob sum combines map-side"),
    ],
    "doc_enrich": [
        ("Generate", "all six per-doc signal families run off builtin "
         "explodes in one fused plan"),
        ("partial_count", "the LM count tables and gram aggregations "
         "combine map-side"),
    ],
    "training_mix_full": [
        ("BroadcastHashJoin", "contamination keeps its broadcast shape "
         "inside the seven-gate plan"),
        ("xxhash64", "span/contam stages share the hashed-shingle form"),
        ("partial_max", "the repetition gate's gram aggregation fuses in"),
    ],
}

NEGATIVE_CHECKS = {
    # plans that must NOT contain a pattern
    "wand_bucketed": [
        ("Exchange", "zero shuffles: bucketed scan satisfies the scorer's "
                     "distribution, blobs never move"),
    ],
    "wand_bucketed_jvmprune": [
        ("Exchange", "the prune adds NO exchange: bucket survival is a "
                     "pushed literal, the row bound array literals"),
        ("Join", "no per-query bound-frame joins (the pre-r5 form paid "
                 "two broadcasts per execution)"),
    ],
    "wand_batch_bucketed_jvmprune": [
        ("Join", "no threshold-table join: the batch prune is the same "
                 "literal filter as a single query's"),
    ],
    "wand_driver_scored": [
        ("FlatMapGroupsInPandas", "scored on the driver: no Python "
                                  "worker stage"),
        ("Exchange", "one pruned scan, no shuffle"),
    ],
    "syngroups": [
        ("Expand", "no distinct-aggregate expansion"),
    ],
    "spider_cycle": [
        ("CartesianProduct", "every gate is an equi-join"),
        ("BatchEvalPython", "no row-at-a-time Python in the cycle"),
    ],
    "dns_cache": [
        ("BatchEvalPython", "resolver ip is JVM md5, not a Python UDF"),
    ],
    "repetition_stats": [
        ("BatchEvalPython", "all gram math is JVM-side"),
    ],
    "lm_perplexity": [
        ("BatchEvalPython", "LM training and scoring are JVM-side"),
    ],
    "doc_enrich": [
        ("BatchEvalPython", "the whole enrichment row is JVM-side"),
    ],
    "pii_redact": [
        ("Exchange", "pure narrow projection: regex count+mask runs at "
                     "scan speed with ZERO shuffle"),
        ("BatchEvalPython", "JVM regexp_count/regexp_replace only"),
    ],
}


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    from pyspark.sql import functions as F

    from open_source_search_engine_spark.operators import search as S
    from open_source_search_engine_spark.operators.bm25 import bm25_topk
    from open_source_search_engine_spark.operators.index_build import (
        build_index_from_table,
    )
    from open_source_search_engine_spark.session import get_spark

    spark = get_spark("explain-audit", cores=4)
    idx = build_index_from_table(spark, SF)
    docs_meta = (
        spark.read.parquet(os.path.join(SF, "documents.parquet"))
        .withColumnRenamed("doc_id", "docid")
    )

    plans = {
        "bm25_and": bm25_topk(idx, ["join", "filter"], k=10),
        "postings_build": idx.postings,
        # a parquet-scan-rooted plan (the cached-index plans scan
        # in-memory relations; this one shows pushdown at the file scan)
        "doc_fetch_scan": docs_meta.filter(F.col("n_chars") > 200).select(
            "docid", "n_chars"
        ),
        "site_cluster": S.site_clustered_topk(
            idx, docs_meta, ["join", "filter"], k=10
        ),
    }

    # WAND over a freshly packed store (single-action plan: the blob
    # scan feeds the per-bucket scorer with no shuffle — the only
    # Exchange in the plan text is the one-time cache-fill repartition
    # inside InMemoryRelation).
    import tempfile

    from open_source_search_engine_spark.operators.segments import (
        SegmentStore,
        build_segments,
    )
    from open_source_search_engine_spark.operators import wand as W
    from open_source_search_engine_spark.operators.wand import PackedIndex

    # the wand_* entries audit the workers' placement: with the gate at
    # 0 no single query is scored on the driver (wand_driver_scored
    # audits the driver placement's scan on its own)
    W._DRIVER_SCORE_MAX_DF = 0
    root = tempfile.mkdtemp(prefix="audit_store_")
    store = build_segments(
        spark, docs_meta.select("docid", "text"), SegmentStore(root),
        n_segments=1, n_buckets=8,
    )
    pidx = PackedIndex(spark, store)
    plans["wand_topk"] = pidx.wand_topk(["join", "filter"], k=10)

    # MinHash verify stage: candidate-pruned exact Jaccard
    from open_source_search_engine_spark.operators.pipeline import (
        minhash_lsh_pairs,
    )

    plans["minhash_verify"] = minhash_lsh_pairs(docs_meta.limit(50))

    # WAND over the WRITE-TIME bucketed table: no Exchange at all
    # (jvm_prune off), then the literal block-max prune (jvm_prune on)
    from open_source_search_engine_spark.operators.segments import (
        save_bucketed,
    )

    bpath = tempfile.mkdtemp(prefix="audit_bucketed_") + "/t"
    save_bucketed(spark, store, "audit_packed_bucketed", bpath)
    bidx = PackedIndex(
        spark, store, packed=spark.table("audit_packed_bucketed")
    )
    bidx.jvm_prune = False
    plans["wand_bucketed"] = bidx.wand_topk(["join", "filter"], k=10)
    bidx.jvm_prune = True
    plans["wand_bucketed_jvmprune"] = bidx.wand_topk(["join", "filter"], k=10)
    # the multi-query batch over the same store: the driver-side fold
    # of per-(bucket, termid) bounds into row thresholds must land in
    # the JVM plan as the same literal filter a single query gets
    plans["wand_batch_bucketed_jvmprune"] = bidx.wand_topk_batch(
        {"a": ["join", "filter"], "b": (["join"], "and", ["window"])},
        k=10,
    )
    # the scan a small single query's driver placement toArrow()s
    plans["wand_driver_scored"] = bidx._single_scan(
        bidx._query_ctx(["join", "filter"], k=10)
    )[1]

    # hashgroup (anchor) boost served from build-time field streams
    from open_source_search_engine_spark.operators.linkextract import (
        ANCHOR_W,
        cached_web_store,
    )
    from open_source_search_engine_spark.operators.queries_web import N_WEB

    widx, label_map = cached_web_store(spark, N_WEB)
    plans["field_boost_packed"] = widx.field_boosted_topk(
        ["w1", "w2"], "anchor", ANCHOR_W, k=10, label_map=label_map
    )

    # IVF probe over the partitioned store: cid filter = partition prune
    from open_source_search_engine_spark.operators.pipeline import (
        ann_ivf_from_store,
        ivf_write,
    )

    emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    ivf_root = tempfile.mkdtemp(prefix="audit_ivf_")
    ivf_write(emb, ivf_root)
    qv = [float(x) for x in emb.first()["embedding"]]
    plans["ivf_partition_pruned"] = ann_ivf_from_store(
        spark, emb, ivf_root, qv, k=10
    )

    # LSH probe over the write-time (t, sig)-partitioned store
    from open_source_search_engine_spark.operators.pipeline import (
        ann_lsh_from_store,
        lsh_write,
    )

    lsh_root = tempfile.mkdtemp(prefix="audit_lsh_")
    lsh_write(emb, lsh_root)
    plans["lsh_partition_pruned"] = ann_lsh_from_store(
        spark, emb, lsh_root, qv, k=10
    )

    # link extraction over webtext html
    from open_source_search_engine_spark.operators.linkextract import (
        extract_links,
    )
    from open_source_search_engine_spark.sources.catalog import load_webtext

    plans["link_extract"] = extract_links(load_webtext(spark, 1200))

    # synonym-group retrieval: one docid shuffle, bitmask coverage
    from open_source_search_engine_spark.operators.queries_ir2 import (
        bm25_groups_topk,
        synonym_groups,
    )

    plans["syngroups"] = bm25_groups_topk(
        idx, synonym_groups(["join", "filter"]), k=10
    )

    # crawl-side: DNS TTL replay + the integrated spider cycle
    from open_source_search_engine_spark.operators import dnscache as DC
    from open_source_search_engine_spark.operators import fetch as FE
    from open_source_search_engine_spark.operators import robots as RB
    from open_source_search_engine_spark.operators.linkextract import (
        cached_web,
        spider_cycle,
    )
    from open_source_search_engine_spark.operators.queries_web import (
        SEED_MOD,
    )
    from open_source_search_engine_spark.sources.webtext import (
        N_HOSTS,
        ROBOTS_UA,
        robots_path,
    )

    web, _, wlinks = cached_web(spark, N_WEB)
    plans["dns_cache"] = DC.dns_cache_stats(DC.dns_lookup_log(web))
    urls = web.select("url")
    rules = RB.parse_robots(spark.read.parquet(robots_path()))
    allowed = RB.robots_allowed(urls, rules, ROBOTS_UA)
    resolved = FE.resolve_redirects(FE.fetch_log(urls, N_WEB, N_HOSTS))
    seeds = urls.filter(
        F.regexp_extract("url", "/p/([0-9]+)$", 1).cast("long")
        % SEED_MOD == 0
    )
    plans["spider_cycle"] = spider_cycle(
        wlinks, seeds, allowed, resolved, max_depth=3
    )

    # round-5 training-data operators: broadcast decontamination,
    # hashed-shingle span stats, and the fused five-stage capstone
    from open_source_search_engine_spark.operators.pipeline import (
        decontaminate,
        substring_dup_spans,
        training_mix,
    )

    eval_docs = docs_meta.filter(F.col("docid") % 50 == 0)
    train = docs_meta.filter(F.col("docid") % 50 != 0)
    plans["decontaminate"] = decontaminate(train, eval_docs)
    plans["substring_spans"] = substring_dup_spans(train)
    plans["training_mix"] = training_mix(docs_meta, eval_docs)

    # round-5 quality gates: Gopher repetition, Stupid-Backoff LM,
    # PII scrub, and the seven-gate capstone
    from open_source_search_engine_spark.operators.pipeline import (
        lm_perplexity,
        pii_redact,
        repetition_stats,
        training_mix_full,
    )

    from open_source_search_engine_spark.operators.registry import (
        spark_queries,
    )

    plans["doc_enrich"] = spark_queries()["doc_enrich"](spark, SF)
    plans["repetition_stats"] = repetition_stats(docs_meta)
    plans["lm_perplexity"] = lm_perplexity(docs_meta)
    plans["pii_redact"] = pii_redact(docs_meta)
    plans["training_mix_full"] = training_mix_full(docs_meta, eval_docs)

    lines = ["# BENCH/plans.md — physical-plan audit (explain_audit.py)\n"]
    failures = []
    for name, df in plans.items():
        txt = plan_text(df)
        lines.append(f"\n## {name}\n")
        for needle, why in CHECKS.get(name, []):
            ok = needle in txt
            lines.append(f"- {'✅' if ok else '❌'} `{needle}` — {why}")
            if not ok:
                failures.append((name, needle))
        for needle, why in NEGATIVE_CHECKS.get(name, []):
            ok = needle not in txt
            lines.append(f"- {'✅' if ok else '❌'} NO `{needle}` — {why}")
            if not ok:
                failures.append((name, f"unexpected {needle}"))
        lines.append("\n```\n" + txt.strip()[:4000] + "\n```\n")

    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/plans.md", "w") as f:
        f.write("\n".join(lines))
    print("wrote BENCH/plans.md;", "FAILURES:" if failures else "all checks pass",
          failures or "")


if __name__ == "__main__":
    main()
