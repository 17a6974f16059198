"""The two placements of a single WAND query: below
``_DRIVER_SCORE_MAX_DF`` the pruned scan is scored on the driver and
returned as a local result; at or above it the kernel runs in
``applyInPandas`` workers. Both must return identical rows for every
query shape and store layout; the gate, the driver's rounding and the
job-free empty results are pinned here too."""

from __future__ import annotations

import numpy as np
import pytest
from conftest import SF_SMOKE
from pyspark.sql import functions as F

import open_source_search_engine_spark.operators.wand as W
from open_source_search_engine_spark.operators.segments import (
    SegmentStore,
    build_segments,
    save_bucketed,
)
from open_source_search_engine_spark.operators.wand import PackedIndex


def _docs(spark):
    df = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    return df.withColumnRenamed("doc_id", "docid").select("docid", "text")


@pytest.fixture(scope="module")
def field_store(spark, tmp_path_factory):
    """Positional store with a ``title:`` field stream over two body
    terms, so every query shape has answers."""
    docs = _docs(spark)
    fp = docs.select(
        "docid", F.lit("title:join").alias("term"), F.lit(1).cast("long")
        .alias("tf"),
    ).filter(F.col("docid") % 3 == 0).unionByName(
        docs.select(
            "docid", F.lit("title:filter").alias("term"),
            F.lit(2).cast("long").alias("tf"),
        ).filter(F.col("docid") % 5 == 0)
    )
    root = str(tmp_path_factory.mktemp("idx_place"))
    return build_segments(
        spark, docs, SegmentStore(root), n_segments=2, n_buckets=8,
        with_positions=True, field_postings=fp,
    )


@pytest.fixture(scope="module")
def layouts(spark, field_store, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("idx_place_bucketed")) + "/t"
    save_bucketed(spark, field_store, "packed_place_t", path)
    handles = {
        "cache": PackedIndex(spark, field_store),
        "bucketed": PackedIndex(
            spark, field_store, packed=spark.table("packed_place_t")
        ),
    }
    yield handles
    for h in handles.values():
        h.close()
    spark.sql("DROP TABLE IF EXISTS packed_place_t")


def _shapes(labels):
    terms = ["join", "filter"]
    return {
        "and": lambda p, k: p.wand_topk(terms, k=k),
        "or": lambda p, k: p.wand_topk(terms + ["hash"], k=k, mode="or"),
        "not": lambda p, k: p.wand_topk(["join"], k=k, neg_terms=["filter"]),
        "weighted": lambda p, k: p.wand_topk(
            terms, k=k, mode="or", weights={"filter": 0.5}
        ),
        "phrase_dup": lambda p, k: p.wand_phrase_topk(["hash", "hash"], k=k),
        "proximity": lambda p, k: p.wand_proximity_topk(terms, k=k),
        "density": lambda p, k: p.wand_density_topk(terms, k=k),
        "diversity": lambda p, k: p.wand_diversity_topk(terms, k=k),
        "field": lambda p, k: p.field_boosted_topk(terms, "title", 2.0, k=k),
        "field_label": lambda p, k: p.field_boosted_topk(
            terms, "title", 2.0, k=k, label_map=labels
        ),
    }


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("layout", ["cache", "bucketed"])
def test_placements_return_identical_rows(
    spark, layouts, layout, monkeypatch
):
    """Every single-query shape, at k = 2 (a live seed cut prunes) and
    k = 10, returns the same rows scored on the driver as in
    applyInPandas workers. The label tie-break runs on driver
    candidates joined to ``label_map``; every other shape's result is
    a local relation with no Python stage."""
    pidx = layouts[layout]
    labels = _docs(spark).select(
        "docid", F.concat(F.lit("u"), (1000 - F.col("docid")).cast("string"))
        .alias("label"),
    )
    shapes = _shapes(labels)
    assert pidx._query_spec(["join", "filter"], k=2)["cut"] > float("-inf")
    for k in (2, 10):
        for name, run in shapes.items():
            driver = run(pidx, k)
            if name != "field_label":
                assert "FlatMapGroupsInPandas" not in _plan(driver), name
            got = [tuple(r) for r in driver.collect()]
            with monkeypatch.context() as m:
                m.setattr(W, "_DRIVER_SCORE_MAX_DF", 0)
                workers = run(pidx, k)
                assert "FlatMapGroupsInPandas" in _plan(workers), name
                want = [tuple(r) for r in workers.collect()]
            assert want, (layout, name, k)
            assert got == want, (layout, name, k)


def test_gate_sends_large_queries_to_workers(
    spark, layouts, monkeypatch
):
    """The gate compares Σ df over the query's termids, negated ones
    included, to ``_DRIVER_SCORE_MAX_DF``: a query at the budget runs
    in workers (its plan holds the Python stage), one below it on the
    driver."""
    pidx = layouts["bucketed"]
    total = pidx._query_spec(["join"], k=10, neg_terms=["filter"])["df_sum"]
    dfs = {r["term"]: r["df"] for r in pidx._term_rows(["join", "filter"])}
    assert total == dfs["join"] + dfs["filter"]
    monkeypatch.setattr(W, "_DRIVER_SCORE_MAX_DF", total)
    at = pidx.wand_topk(["join"], k=10, neg_terms=["filter"])
    assert "FlatMapGroupsInPandas" in _plan(at)
    monkeypatch.setattr(W, "_DRIVER_SCORE_MAX_DF", total + 1)
    below = pidx.wand_topk(["join"], k=10, neg_terms=["filter"])
    assert "FlatMapGroupsInPandas" not in _plan(below)
    assert [tuple(r) for r in below.collect()] == [
        tuple(r) for r in at.collect()
    ]


def test_driver_scan_is_the_pruned_scan(spark, layouts):
    """The driver placement scores the same literal-pruned scan the
    workers read: bucket survival pushed to the parquet scan and the
    sub-block row thresholds as array literals, no Python stage."""
    pidx = layouts["bucketed"]
    _spec, scan = pidx._single_scan(pidx._query_ctx(["join", "filter"], k=2))
    plan = _plan(scan)
    assert "PushedFilters" in plan, plan
    assert "In(bucket" in plan, plan
    assert "element_at" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan


def test_driver_round_matches_spark_round(spark):
    """The driver rounds like ``F.round(x, 4)`` on a double (HALF_UP on
    the shortest decimal form), also at constructed half-way values
    and their float neighbours, where numpy's half-even differs."""
    import pandas as pd

    rng = np.random.default_rng(13)
    half = (rng.integers(0, 300_000, 4_000) + 0.5) / 1e4
    x = np.concatenate([
        rng.uniform(0.0, 40.0, 10_000),
        rng.exponential(3.0, 4_000),
        half,
        np.nextafter(half, 0.0),
        np.nextafter(half, np.inf),
        [0.00005, 0.00015, 1.00005, 2.5e-5, 12.34565, 1.23455, 0.0],
    ])
    df = spark.createDataFrame(pd.DataFrame({"i": np.arange(x.size), "x": x}))
    want = (
        df.select("i", F.round("x", 4).alias("r")).toPandas()
        .sort_values("i")["r"].to_numpy()
    )
    got = W._spark_round(x, 4)
    assert np.array_equal(got, want)
    # numpy's half-even rounding is NOT Spark's: the test must bite
    assert not np.array_equal(np.round(x, 4), want)


def _collect_jobs(spark, df, gid):
    sc = spark.sparkContext
    sc.setJobGroup(gid, gid)
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return rows, len(sc.statusTracker().getJobIdsForGroup(gid))


def test_empty_results_collect_without_jobs(spark, tmp_path_factory):
    """An empty result is a local relation: collecting it runs no
    Spark job — for an AND query with a term the corpus lacks, for an
    AND query whose every bucket the kernel prunes (its two terms sit
    in different buckets: bucket = docid mod 2), and for a batch with
    no live query."""
    docs = spark.createDataFrame(
        [(i, "aa bb" if i % 2 else "cc dd") for i in range(16)],
        "docid long, text string",
    )
    root = str(tmp_path_factory.mktemp("idx_empty"))
    st = build_segments(
        spark, docs, SegmentStore(root), n_segments=1, n_buckets=2
    )
    with PackedIndex(spark, st) as pidx:
        cases = {
            "missing": pidx.wand_topk(["aa", "zzznotaterm"], k=5),
            "pruned": pidx.wand_topk(["aa", "cc"], k=5),
            "batch": pidx.wand_topk_batch({"q": ["zzznotaterm"]}, k=5),
            "batch_none": pidx.wand_topk_batch({}, k=5),
        }
        for name, df in cases.items():
            rows, jobs = _collect_jobs(spark, df, f"empty-{name}")
            assert rows == [], name
            assert jobs == 0, name
        assert [r["docid"] for r in pidx.wand_topk(["aa"], k=2).collect()]
