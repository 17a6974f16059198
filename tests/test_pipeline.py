"""Training-data pipeline operators: dedup (exact / n-gram Jaccard /
MinHash LSH / SimHash), similarity search (brute + LSH), text analysis.

Oracle-paired ops are asserted against their registered DuckDB SQL via
the driver-style comparator; LSH ops are proven against the exact
baselines (recall/precision), and SimHash against a pure-Python
reference implementation.
"""

from __future__ import annotations

import numpy as np
import pytest
from conftest import SF_CORRECT, assert_df_matches_duckdb

from open_source_search_engine_spark.operators import pipeline as P


@pytest.fixture(scope="module")
def docs(spark):
    df = (
        spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
        .withColumnRenamed("doc_id", "docid")
        .cache()
    )
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet").cache()
    df.count()
    yield df
    df.unpersist()


# --- oracle-paired ops (same comparison the driver runs) ------------------


def _oracle(name):
    from conftest import query_and_oracle

    return query_and_oracle(name)[1]


@pytest.mark.parametrize(
    "name",
    [
        "dedup_exact",
        "dedup_ngram_jaccard",
        "ann_bruteforce",
        "lang_id",
        "quality_score",
        "token_counts",
        "doc_fingerprint",
    ],
)
def test_oracle_paired(spark, duck_correct, name):
    import __spark_entry__ as m

    from conftest import query_and_oracle

    sdf = query_and_oracle(name)[0](spark, SF_CORRECT)
    assert_df_matches_duckdb(sdf, duck_correct, _oracle(name))


# --- MinHash LSH vs exact Jaccard -----------------------------------------


def test_minhash_lsh_recall(spark, docs):
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in P.ngram_jaccard_pairs(docs, threshold=0.4).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in P.minhash_lsh_pairs(docs, threshold=0.4).collect()
    }
    assert exact, "test corpus must contain near-dup pairs"
    # r=2, b=128 banding: P(miss at J>=0.4) ≈ 2e-10 and the verify is
    # exact, so the LSH path must EQUAL the exact path (the op is
    # oracle-paired on this property).
    assert lsh == exact


def test_minhash_signature_properties(spark, docs):
    sigs = P.minhash_signatures(docs.limit(20)).collect()
    assert all(len(r["sig"]) == 128 for r in sigs)
    # deterministic across runs (fixed seed)
    sigs2 = P.minhash_signatures(docs.limit(20)).collect()
    assert {r["docid"]: r["sig"] for r in sigs} == {
        r["docid"]: r["sig"] for r in sigs2
    }


# --- SimHash vs pure-python reference -------------------------------------


def _simhash_ref(tokens: list[str], spark) -> int:
    """Pure-python SimHash over the pinned md5-60 token hash — a
    fully independent reference (hashlib, no JVM involved)."""
    import hashlib
    from collections import Counter

    tf = Counter(tokens)
    acc = [0.0] * P.SIMHASH_BITS
    for t, w in tf.items():
        h = int(hashlib.md5(t.encode()).hexdigest()[17:32], 16)
        for b in range(P.SIMHASH_BITS):
            acc[b] += w if (h >> b) & 1 else -w
    out = 0
    for b in range(P.SIMHASH_BITS):
        if acc[b] > 0:
            out |= 1 << b
    return out


def test_simhash_matches_reference(spark, docs):
    sample = docs.orderBy("docid").limit(5)
    got = {
        r["docid"]: r["simhash"]
        for r in P.simhash_col_docs(sample).collect()
    }
    rows = sample.collect()
    from open_source_search_engine_spark.tokenizer import tokenize

    for r in rows:
        want = _simhash_ref(tokenize(r["text"]), spark)
        assert got[r["docid"]] == want, f"doc {r['docid']}"


def test_ngram_jaccard_df_cap_exact(spark, docs):
    """The head-shingle df-cap prunes CANDIDATE GENERATION only; the
    Jaccard of every emitted pair is computed over all shingles, so a
    sane cap returns the identical pair set on this corpus."""
    uncapped = {
        tuple(r) for r in P.ngram_jaccard_pairs(docs, threshold=0.4).collect()
    }
    capped = {
        tuple(r)
        for r in P.ngram_jaccard_pairs(
            docs, threshold=0.4, max_shingle_df=50
        ).collect()
    }
    assert capped == uncapped


def test_hamming_pairs_complete_at_radius(spark):
    """Planted pair at Hamming distance 10 that disagrees in EVERY
    16-bit quarter: the round-1 fixed 4-quarter bucketing missed it;
    radius-complete banding (max_hamming+1 bands) must find it."""
    bits = [2, 10, 18, 26, 34, 42, 50, 58, 60, 62]
    other = 0
    for b in bits:
        other |= 1 << b
    df = spark.createDataFrame(
        [(1, 0), (2, other)], "docid long, simhash long"
    )
    got = [tuple(r) for r in P.hamming_pairs(df, max_hamming=10).collect()]
    assert got == [(1, 2, 10)]
    # sanity: every quarter differs, so quarter-bucketing finds nothing
    for q in range(4):
        assert (other >> (q * 16)) & 0xFFFF != 0


def test_simhash_pairs_symmetric_hamming(spark, docs):
    pairs = P.simhash_pairs(docs, max_hamming=10).collect()
    assert pairs, "expected some simhash pairs at hamming<=10"
    sh = {
        r["docid"]: r["simhash"] for r in P.simhash_col_docs(docs).collect()
    }
    # verify reported hamming equals recomputed popcount(xor)
    for r in pairs[:50]:
        x = (sh[r["doc_a"]] ^ sh[r["doc_b"]]) & 0xFFFFFFFFFFFFFFFF
        assert bin(x).count("1") == r["hamming"]


# --- ANN LSH vs brute force -----------------------------------------------


def _qvec(emb):
    row = emb.filter(emb.vec_id == 0).first()
    return [float(x) for x in row["embedding"]]


def test_ann_lsh_recall(spark, emb):
    q = _qvec(emb)
    true10 = [r["vec_id"] for r in P.ann_bruteforce(emb, q, k=10).collect()]
    approx = [r["vec_id"] for r in P.ann_lsh(emb, q, k=10).collect()]
    # query vector itself must always be found (identical signature)
    assert 0 in approx
    recall = len(set(true10) & set(approx)) / 10
    assert recall >= 0.3, f"ann recall@10 {recall}"


def test_ann_ivf_recall(spark, emb):
    """IVF probe-3 recall vs brute force, and the query's own cluster
    is always probed (vec 0's nearest centroid contains vec 0)."""
    q = _qvec(emb)
    true10 = [r["vec_id"] for r in P.ann_bruteforce(emb, q, k=10).collect()]
    approx = [r["vec_id"] for r in P.ann_ivf(emb, q, k=10).collect()]
    assert 0 in approx  # the query vector itself survives the probe
    recall = len(set(true10) & set(approx)) / 10
    assert recall >= 0.3, f"ivf recall@10 {recall}"


def test_embedding_dups_against_numpy(spark, emb):
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    M = np.array([r["embedding"] for r in rows], dtype=np.float64)
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    S = M @ M.T
    np.fill_diagonal(S, -2)
    ia, ib = np.where(S >= 0.4)
    true_pairs = {
        (int(min(ids[a], ids[b])), int(max(ids[a], ids[b])))
        for a, b in zip(ia, ib)
    }
    got = {
        (r["vec_a"], r["vec_b"])
        for r in P.embedding_dup_pairs(emb, threshold=0.4).collect()
    }
    # precision 1.0 (exact verify); recall bounded by banding prob
    assert got <= true_pairs
    assert len(got) / len(true_pairs) >= 0.8, (
        f"embedding dup recall {len(got)}/{len(true_pairs)}"
    )


def test_universal_hash61_matches_bigint_reference():
    """The vectorized 31-bit-limb modular hash must be BIT-EQUAL to
    the round-2 object-dtype big-int form (Python-int semantics,
    including negative xxhash64 inputs)."""
    rng = np.random.RandomState(123)
    a, b = P._perm_params(64, seed=42)
    # adversarial inputs: extremes, ±1, and random signed 64-bit
    x = np.concatenate(
        [
            np.array(
                [0, 1, -1, 2**63 - 1, -(2**63), P.MERSENNE_P,
                 P.MERSENNE_P + 1, -P.MERSENNE_P],
                dtype=np.int64,
            ),
            rng.randint(-(2**63), 2**63 - 1, size=500, dtype=np.int64),
        ]
    )
    got = P._universal_hash61(x, a, b)
    ref = (
        x.astype(object)[:, None] * a.astype(np.int64).astype(object)[None, :]
        + b.astype(np.int64).astype(object)[None, :]
    ) % P.MERSENNE_P
    assert (got.astype(object) == ref).all()


def test_dedup_clusters_cap_exact(spark, docs, duck_correct):
    """Capped candidate generation in dedup_clusters returns the same
    clusters as the uncapped recursive-CTE oracle (the cap prunes only
    boilerplate-shingle candidates)."""
    sdf = P.dedup_clusters(docs, threshold=0.4, max_shingle_df=50)
    assert_df_matches_duckdb(sdf, duck_correct, P.DEDUP_CLUSTERS_SQL)


def test_connected_components_chain_olog_rounds(spark):
    """Large-star/small-star CC (Kiveris et al.): a 256-node CHAIN —
    the diameter-linear worst case for the old min-label loop —
    resolves to one component labeled by its min id in O(log n)
    rounds, and disjoint structures (triangle + isolated docs) keep
    their own labels."""
    n = 256
    ids = spark.createDataFrame(
        [(i,) for i in range(n + 3)] + [(900,), (901,)], "docid long"
    )
    chain = [(i, i + 1) for i in range(n - 1)]  # 0-1-2-…-255
    tri = [(n, n + 1), (n + 1, n + 2), (n, n + 2)]
    pairs = spark.createDataFrame(
        chain + tri, "doc_a long, doc_b long"
    )
    got = {
        r["docid"]: r["cluster_id"]
        for r in P.connected_components(ids, pairs).collect()
    }
    assert all(got[i] == 0 for i in range(n))
    assert all(got[i] == n for i in (n, n + 1, n + 2))
    assert got[900] == 900 and got[901] == 901
    rounds = P.connected_components.last_rounds
    assert rounds <= 12, (
        f"{rounds} rounds for a {n}-chain — star ops should be "
        f"O(log n), the min-label loop would take {n - 1}"
    )


def test_connected_components_frees_superseded_checkpoints(spark):
    """Superseded rounds' localCheckpoint blocks are actually freed.
    Dataset.unpersist() is a NO-OP for local checkpoints (it goes
    through the cache manager; localCheckpoint persists the internal
    RDD directly), so the round-4 fix unpersists the registered RDDs
    themselves — at most the FINAL round's checkpoint (which the
    returned labels DataFrame reads from) may remain pinned."""

    def n_persistent():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    n = 128
    ids = spark.createDataFrame([(i,) for i in range(n)], "docid long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    before = n_persistent()
    out = P.connected_components(ids, pairs)
    assert P.connected_components.last_rounds >= 3  # multi-round run
    after = n_persistent()
    assert after - before <= 1, (
        f"{after - before} checkpointed edge sets still pinned after "
        f"{P.connected_components.last_rounds} rounds — superseded "
        "rounds must be unpersisted"
    )
    # and the surviving checkpoint serves the result correctly
    got = {r["docid"]: r["cluster_id"] for r in out.collect()}
    assert all(got[i] == 0 for i in range(n))


def test_ivf_fixed_centroid_count(spark, emb):
    """The centroid sample is FIXED-SIZE (driver holds k·dim floats,
    not a corpus fraction)."""
    cids, cnorm = P._centroid_matrix(emb, P.IVF_N_CENTROIDS)
    assert len(cids) == P.IVF_N_CENTROIDS
    assert cnorm.shape == (P.IVF_N_CENTROIDS, 64)


def test_ivf_store_partition_pruning(spark, emb, tmp_path):
    """ivf_write persists PARTITIONED BY cid; the probe query's plan
    shows a partition filter (PartitionFilters/cid IN) and returns the
    same rows as the in-memory assignment path."""
    root = str(tmp_path / "ivf")
    P.ivf_write(emb, root)
    q = _qvec(emb)
    from_store = P.ann_ivf_from_store(spark, emb, root, q, k=10)
    in_memory = P.ann_ivf(emb, q, k=10)
    assert [tuple(r) for r in from_store.collect()] == [
        tuple(r) for r in in_memory.collect()
    ]
    plan = from_store._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cid" in plan
    # pruned scan reads only the probed partitions
    import os

    n_parts = len(
        [d for d in os.listdir(root) if d.startswith("cid=")]
    )
    assert n_parts > 3, "corpus should spread over >3 centroids"


def test_lsh_store_partition_pruning(spark, emb, tmp_path):
    """lsh_write persists id-only rows PARTITIONED BY (t, sig); the
    probe's plan shows partition filters and the result is identical
    to the in-flight ann_lsh (same planes, same ANY-table match)."""
    root = str(tmp_path / "lsh")
    P.lsh_write(emb, root)
    q = _qvec(emb)
    from_store = P.ann_lsh_from_store(spark, emb, root, q, k=10)
    in_flight = P.ann_lsh(emb, q, k=10)
    assert [tuple(r) for r in from_store.collect()] == [
        tuple(r) for r in in_flight.collect()
    ]
    plan = from_store._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "sig" in plan
    import os

    # id-only store: no embedding column materialized n_tables times
    t0 = os.path.join(root, "t=0")
    assert os.path.isdir(t0)
    some_sig = next(d for d in os.listdir(t0) if d.startswith("sig="))
    import pyarrow.parquet as pq

    f = next(
        os.path.join(t0, some_sig, p)
        for p in os.listdir(os.path.join(t0, some_sig))
        if p.endswith(".parquet")
    )
    assert pq.read_schema(f).names == ["vec_id"]


# --- shingles sanity ------------------------------------------------------


def test_shingles_match_python(spark, docs):
    rows = docs.limit(5).select("docid", "text").collect()
    got = (
        docs.limit(5)
        .select("docid", P.shingles_col("text", 3).alias("sh"))
        .collect()
    )
    from open_source_search_engine_spark.tokenizer import tokenize

    gmap = {r["docid"]: r["sh"] for r in got}
    for r in rows:
        t = tokenize(r["text"])
        want = [" ".join(t[i : i + 3]) for i in range(len(t) - 2)]
        assert gmap[r["docid"]] == want


def test_ann_ivf_kmeans_recall_and_determinism(spark):
    """The k-means IVF probe keeps decent recall vs brute force, the
    fit is deterministic (pure function of the data), and driver
    state stays O(C x dim)."""
    import numpy as np

    from open_source_search_engine_spark.operators import pipeline as P

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet").cache()
    q = [float(x) for x in
         emb.filter("vec_id = 0").first()["embedding"]]

    c1 = P.kmeans_centroids(emb, n_centroids=8, iters=2)
    c2 = P.kmeans_centroids(emb, n_centroids=8, iters=2)
    assert c1.shape == (8, len(q))
    assert (c1 == c2).all()  # deterministic fit

    exact = [r["vec_id"] for r in
             P.ann_bruteforce(emb, q, k=10).collect()]
    approx = {r["vec_id"] for r in
              P.ann_ivf_kmeans(emb, q, k=10, n_probe=3,
                               n_centroids=8).collect()}
    recall = len(set(exact) & approx) / 10.0
    assert recall >= 0.5, recall


def test_boilerplate_stats_votes_per_site(spark):
    """Sections.cpp-style voting: a block repeated in >=3 distinct
    docs of ONE site is boilerplate there; the same block on another
    site with fewer copies is not (votes never cross sites)."""
    rows = [
        # site A: "nav bar" leads 3 docs -> boilerplate there
        (1, "A", "nav bar alpha beta"),
        (2, "A", "nav bar gamma delta"),
        (3, "A", "nav bar epsilon zeta"),
        (4, "A", "eta theta iota kappa"),
        # site B: "nav bar" appears once -> NOT boilerplate
        (5, "B", "nav bar lambda mu"),
    ]
    docs = spark.createDataFrame(
        rows, "docid long, source string, text string"
    )
    got = {
        r["docid"]: (r["n_sections"], r["n_boiler"], r["boiler_frac"])
        for r in P.boilerplate_stats(docs, block=2, min_docs=3).collect()
    }
    assert got[1] == (2, 1, 0.5)
    assert got[2] == (2, 1, 0.5)
    assert got[3] == (2, 1, 0.5)
    assert got[4] == (2, 0, 0.0)
    assert got[5] == (2, 0, 0.0)  # same hash, different site


def test_category_rollup_subtree_semantics(spark):
    """Directory counts: n_subtree at an inner node is the sum of its
    leaves' n_direct; inner nodes have n_direct 0; root covers all."""
    from open_source_search_engine_spark.operators import catdir as CD

    docs = spark.createDataFrame(
        [(i,) for i in range(70)], "docid long"
    )
    got = {
        r["cat"]: (r["n_direct"], r["n_subtree"])
        for r in CD.category_rollup(docs).collect()
    }
    n_leaves = len(CD.TAXONOMY_LEAVES)
    assert got["top"] == (0, 70)
    for leaf in CD.TAXONOMY_LEAVES:
        want = sum(1 for i in range(70) if CD.TAXONOMY_LEAVES[i % n_leaves] == leaf)
        assert got[leaf] == (want, want)
    for inner in ("top/arts", "top/science", "top/computers"):
        kids = [l for l in CD.TAXONOMY_LEAVES if l.startswith(inner + "/")]
        assert got[inner] == (0, sum(got[k][0] for k in kids))


def test_substring_dup_spans_known_answer(spark):
    """Hand-computed span-level dedup: docs 1 and 2 share one 4-token
    run ('alpha beta gamma delta'); doc 3 is disjoint; doc 4 is too
    short to form a 4-shingle and must not appear."""
    rows = [
        (1, "alpha beta gamma delta one two three"),
        (2, "x alpha beta gamma delta y z"),
        (3, "p q r s t u v"),
        (4, "too short"),
    ]
    docs = spark.createDataFrame(rows, "docid long, text string")
    got = {
        r["docid"]: (r["n_shingles"], r["n_dup_shingles"], r["dup_frac"])
        for r in P.substring_dup_spans(docs, k=4).collect()
    }
    # 7 tokens -> 4 shingles per doc; exactly ONE shingle (the shared
    # 4-token run) occurs in two distinct docs
    assert got[1] == (4, 1, 0.25)
    assert got[2] == (4, 1, 0.25)
    assert got[3] == (4, 0, 0.0)
    assert 4 not in got
    # a shingle repeated WITHIN one doc only is not a cross-doc dup
    solo = spark.createDataFrame(
        [(1, "a b c d a b c d"), (2, "e f g h i j k l")],
        "docid long, text string",
    )
    got2 = {
        r["docid"]: r["n_dup_shingles"]
        for r in P.substring_dup_spans(solo, k=4).collect()
    }
    assert got2[1] == 0 and got2[2] == 0


def test_decontaminate_known_answer(spark):
    """A training doc sharing an 8-token span with an eval doc is
    flagged with the exact hit count; disjoint docs are absent."""
    train = spark.createDataFrame(
        [
            (1, "one two three four five six seven eight nine ten"),
            (2, "totally different words with no overlap at all here"),
        ],
        "docid long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "zz one two three four five six seven eight qq")],
        "docid long, text string",
    )
    got = {
        r["docid"]: (r["n_shingles"], r["n_eval_hits"])
        for r in P.decontaminate(train, ev, k=8).collect()
    }
    # train doc 1: 10 tokens -> 3 shingles; the eval doc contains
    # 'one..eight' -> exactly one shared shingle
    assert got == {1: (3, 1)}


def test_training_mix_each_gate_rejects(spark):
    """One doc per rejection reason: exact duplicate (higher docid),
    contaminated (shares an 8-gram with eval), and a survivor. The
    survivor carries its audit columns."""
    good = ("the quick brown fox jumps over the lazy dog and then "
            "the fox runs far away to the old barn and sleeps")
    dup_of_good = good
    eval_text = ("benchmark says the quick brown fox jumps over the "
                 "lazy dog and more")
    clean2 = ("a completely different story where cats sit on warm "
              "mats and the sun shines on the green field all day")
    train = spark.createDataFrame(
        [
            (1, good),         # contaminated via eval 8-gram overlap
            (2, dup_of_good),  # exact dup of 1 (also contaminated)
            (3, clean2),       # survivor
        ],
        "docid long, text string",
    )
    ev = spark.createDataFrame(
        [(100, eval_text)], "docid long, text string"
    )
    out = {r["docid"]: r for r in P.training_mix(train, ev).collect()}
    assert set(out) == {3}
    r = out[3]
    assert r["lang_pred"] == "en" and r["quality"] >= 0.5
    assert r["dup_frac"] == 0.0 and r["n_tokens"] > 10
    # without the eval overlap, doc 1 survives and 2 dies as exact dup
    out2 = {
        r["docid"]
        for r in P.training_mix(
            train, spark.createDataFrame(
                [(100, "nothing shared here at all")],
                "docid long, text string",
            )
        ).collect()
    }
    assert out2 == {1, 3}


def test_repetition_stats_known_answer(spark):
    """Hand-computed Gopher repetition signals (token-fraction form).

    - 'batch batch batch': maxw 3/3, top-2gram 2*2/3 (overlapping
      occurrences count -> can exceed 1), no duplicated trigram.
    - 'a b c' x3: every trigram position is a duplicate -> dup3 = 1.
    - 20 distinct tokens: all signals low -> keep.
    """
    rows = [
        (1, "batch batch batch"),
        (2, "a b c a b c a b c"),
        (3, " ".join(f"w{i}" for i in range(20))),
        (4, "solo"),
    ]
    docs = spark.createDataFrame(rows, "docid long, text string")
    got = {r["docid"]: r for r in P.repetition_stats(docs).collect()}
    r1 = got[1]
    assert (r1["n_tokens"], r1["max_word_frac"]) == (3, 1.0)
    assert r1["top_2gram_frac"] == round(4 / 3, 4)
    assert r1["dup_3gram_frac"] == 0.0 and not r1["keep"]
    r2 = got[2]
    assert r2["max_word_frac"] == round(3 / 9, 4)
    assert r2["top_2gram_frac"] == round(6 / 9, 4)
    assert r2["dup_3gram_frac"] == 1.0 and not r2["keep"]
    r3 = got[3]
    assert r3["max_word_frac"] == 0.05
    assert r3["top_2gram_frac"] == 0.1
    assert r3["dup_3gram_frac"] == 0.0 and r3["keep"]
    # single-token doc: no 2-/3-grams, fractions all defined as 0
    r4 = got[4]
    assert (r4["max_word_frac"], r4["top_2gram_frac"],
            r4["dup_3gram_frac"]) == (1.0, 0.0, 0.0)


def test_lm_perplexity_known_answer(spark):
    """Exact Stupid-Backoff arithmetic on a 2-doc corpus.

    Reference slice (en) is docs 1 AND 3: c1 = {a:3, b:2}, N = 5,
    c2 = {'a b':2, 'b a':1}.
    - en doc transitions: (a,b) k=2 at s = 2/3; (b,a) k=1 at s = 1/2
      -> avg = (2*log10(2/3) + log10(1/2)) / 3.
    - 'z z z' (fr): bigram AND unigram unseen -> OOV floor
      s = 0.4 * 1/5 = 0.08 every transition -> avg = log10(0.08).
    """
    import math

    docs = spark.createDataFrame(
        [(1, "a b a b", "en"), (2, "z z z", "fr"), (3, "a", "en")],
        "docid long, text string, lang string",
    )
    got = {r["docid"]: r for r in P.lm_perplexity(docs).collect()}
    avg1 = round((2 * math.log10(2 / 3) + math.log10(0.5)) / 3, 4)
    assert got[1]["n_scored"] == 3
    assert got[1]["avg_logprob"] == avg1
    assert got[1]["ppl"] == round(10.0 ** (-avg1), 4)
    avg2 = round(math.log10(0.08), 4)
    assert got[2]["n_scored"] == 2
    assert got[2]["avg_logprob"] == avg2
    assert got[2]["ppl"] == round(10.0 ** (-avg2), 4)
    # sub-2-token docs score nothing: avg 0, ppl 1
    assert (got[3]["n_scored"], got[3]["ppl"]) == (0, 1.0)
    # the CCNet property: off-reference docs rank above reference docs
    assert got[2]["ppl"] > got[1]["ppl"]


def test_pii_redact_known_answer_and_oracle(spark):
    """Redaction semantics on a crafted PII fixture (the driver corpus
    is PII-free, so its row only pins pass-through): counts per class,
    pinned application order, and the DuckDB replay hash-agrees on the
    SAME fixture (both engines compile the same RE2/Java-safe
    patterns)."""
    import duckdb
    import pandas as pd
    from conftest import assert_df_matches_duckdb

    rows = [
        (1, "mail me at jane.doe+spam@corp.example.com today"),
        (2, "ssn 123-45-6789 phone 555-867-5309x bare 555 123 4567"),
        (3, "server at 10.0.255.7 and 192.168.1.1: ports open"),
        (4, "clean text with no identifiers at all"),
        (5, "two mails a@b.io c@d.org one ip 8.8.8.8"),
        (6, "123-456-7890@x.com"),
    ]
    docs = spark.createDataFrame(rows, "docid long, text string")
    out = {r["docid"]: r for r in P.pii_redact(docs).collect()}
    assert out[1]["n_email"] == 1
    assert out[1]["text_redacted"] == "mail me at <EMAIL> today"
    # '555-867-5309x' is NOT a phone hit: 9 and x are both word chars,
    # so \d{4}\b finds no boundary. '555 123 4567' (space separators) is.
    assert out[2]["n_ssn"] == 1 and out[2]["n_phone"] == 1
    assert "<SSN>" in out[2]["text_redacted"]
    assert "555 123 4567" not in out[2]["text_redacted"]
    assert out[3]["n_ipv4"] == 2
    assert out[3]["text_redacted"] == "server at <IP> and <IP>: ports open"
    assert out[4]["text_redacted"] == rows[3][1]
    assert out[5]["n_email"] == 2 and out[5]["n_ipv4"] == 1
    # counts agree with the masked text: the phone-shaped local part
    # is masked as part of the email, so it is not also a phone
    assert out[6]["n_email"] == 1 and out[6]["n_phone"] == 0
    assert out[6]["text_redacted"] == "<EMAIL>"
    # DuckDB replay on the same fixture, same comparator as the driver
    con = duckdb.connect()
    con.register(
        "pii_docs",
        pd.DataFrame(rows, columns=["doc_id", "text"]),
    )
    assert_df_matches_duckdb(
        P.pii_redact(docs), con,
        P.pii_redact_sql("pii_docs", "doc_id"),
    )


def test_training_mix_full_new_gates_reject(spark):
    """Each round-5 gate rejects independently on top of the
    training_mix five:

    - doc 2 passes quality/lang (pure stopwords) but is a degenerate
      2-gram repeat -> repetition gate cuts it;
    - doc 3 reads as English (stopword profile) but its metadata lang
      is 'fr', so the reference LM never sees its rare bigrams -> OOV
      backoff -> ppl far above doc 1's -> LM ceiling cuts it;
    - doc 1 passes everything at a threshold between the two ppls.
    """
    # doc 1: long, mostly-unique words with sparse stopwords — high
    # quality, en stopword profile, no repeated grams (a natural-prose
    # stand-in; denser stopword text trips the Gopher max-word gate,
    # which is correct behavior for word-soup)
    uniq = [f"w{i}" for i in range(34)]
    a = " ".join(
        ["the"] + uniq[:10] + ["and"] + uniq[10:20] + ["of"]
        + uniq[20:27] + ["the"] + uniq[27:]
    )
    b = "the of " * 20
    c = ("the xkcd of qwqw and zzzz the wwww of rrrr and ssss "
         "the tttt of uuuu and vvvv the yyyy of hhhh and jjjj")
    docs = spark.createDataFrame(
        [(1, a, "en"), (2, b.strip(), "en"), (3, c, "fr")],
        "docid long, text string, lang string",
    )
    ev = spark.createDataFrame(
        [(-1, "nothing shared")], "docid long, text string"
    )
    ppls = {r["docid"]: r["ppl"]
            for r in P.lm_perplexity(docs).collect()}
    assert ppls[3] > ppls[1]  # OOV backoff dominates doc 3
    mid = (ppls[1] + ppls[3]) / 2
    got = {r["docid"]: r
           for r in P.training_mix_full(docs, ev, max_ppl=mid).collect()}
    assert set(got) == {1}
    assert got[1]["ppl"] == ppls[1] and got[1]["top_2gram_frac"] <= 0.2
    # with the LM ceiling lifted, doc 3 returns; doc 2 stays cut by
    # the repetition gate alone
    got2 = {r["docid"]
            for r in P.training_mix_full(docs, ev, max_ppl=1e9).collect()}
    assert got2 == {1, 3}


def test_repetition_and_lm_random_differential(spark):
    """Seeded random word-soup corpus (incl. empty / 1-token / all-
    same-token edge docs) replayed through the DuckDB oracles with the
    driver comparator — the same differential the driver runs, on a
    nastier distribution than the testdata corpus."""
    import random

    import duckdb
    import pandas as pd
    from conftest import assert_df_matches_duckdb

    rng = random.Random(7)
    vocab = ["a", "bb", "ccc", "the", "of", "x1", "y2"]
    rows = []
    for i in range(40):
        n = rng.choice([0, 1, 2, 3, 5, 8, 13, 30])
        text = " ".join(rng.choice(vocab) for _ in range(n))
        lang = rng.choice(["en", "en", "fr", "zh"])
        rows.append((i, text, lang))
    rows.append((100, "same same same same same", "en"))
    docs = spark.createDataFrame(
        rows, "docid long, text string, lang string"
    )
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(rows, columns=["doc_id", "text", "lang"]),
    )
    assert_df_matches_duckdb(
        P.repetition_stats(docs), con, P.repetition_stats_sql()
    )
    assert_df_matches_duckdb(
        P.lm_perplexity(docs), con, P.lm_perplexity_sql()
    )
