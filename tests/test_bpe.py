"""BPE learning + segmentation vs an independent pure-Python
reference of the published algorithm (Sennrich et al. 2016) — a
differential test: the Spark implementation
(JVM folds over the vocabulary table) must reproduce the reference's
merge sequence, segmentations and per-doc subword counts exactly,
including the pinned lexicographic tie-break.
"""

from __future__ import annotations

from collections import Counter

from open_source_search_engine_spark.operators import bpe as B


# --- pure-Python reference (dict-based, straight from the paper) ----------


def _ref_merge(syms: tuple, a: str, b: str) -> tuple:
    out: list = []
    for x in syms:
        if out and out[-1] == a and x == b:
            out[-1] = a + b
        else:
            out.append(x)
    return tuple(out)


def _ref_learn(freqs: dict, n_merges: int) -> list:
    vocab = {tuple(list(w) + [B.EOW]): c for w, c in freqs.items()}
    merges = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        (a, b), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < 2:
            break
        merges.append((a, b))
        vocab = {_ref_merge(s, a, b): c for s, c in vocab.items()}
    return merges


def _ref_segment(word: str, merges: list) -> list:
    syms = tuple(list(word) + [B.EOW])
    for a, b in merges:
        syms = _ref_merge(syms, a, b)
    out = []
    for s in syms:
        if s == B.EOW:
            continue
        out.append(s[:-1] if s.endswith(B.EOW) else s)
    return [s for s in out if s]


CORPUS = [
    (1, "low lower lowest low low"),
    (2, "newer newest new news low"),
    (3, "wider wide widest newer lower"),
    (4, "the low new wide the the"),
    (5, ""),  # empty doc: no tokens, no output row
]


def _freqs() -> dict:
    c: Counter = Counter()
    for _, text in CORPUS:
        c.update(text.split())
    return dict(c)


def test_bpe_learn_matches_reference(spark):
    docs = spark.createDataFrame(CORPUS, "docid long, text string")
    got = B.bpe_learn(docs, n_merges=12)
    want = _ref_learn(_freqs(), 12)
    assert got == want
    assert len(got) >= 8  # the corpus supports a real merge sequence
    # determinism: a second run reproduces the sequence exactly
    assert B.bpe_learn(docs, n_merges=12) == got


def test_segment_words_matches_reference(spark):
    docs = spark.createDataFrame(CORPUS, "docid long, text string")
    merges = B.bpe_learn(docs, n_merges=10)
    words = sorted(_freqs())
    wdf = spark.createDataFrame([(w,) for w in words], "word string")
    got = {
        r["word"]: list(r["subwords"])
        for r in B.segment_words(wdf, merges).collect()
    }
    for w in words:
        assert got[w] == _ref_segment(w, merges), w
        # segmentation is a partition of the word
        assert "".join(got[w]) == w
    # unseen word segments too (falls back toward characters)
    unseen = B.segment_words(
        spark.createDataFrame([("lowish",)], "word string"), merges
    ).collect()[0]["subwords"]
    assert "".join(unseen) == "lowish"
    assert list(unseen) == _ref_segment("lowish", merges)


def test_bpe_token_counts_matches_reference(spark):
    docs = spark.createDataFrame(CORPUS, "docid long, text string")
    merges = B.bpe_learn(docs, n_merges=10)
    got = {
        r["docid"]: (r["n_tokens"], r["n_bpe"])
        for r in B.bpe_token_counts(docs, merges).collect()
    }
    for docid, text in CORPUS:
        toks = text.split()
        if not toks:
            assert docid not in got  # empty doc drops out
            continue
        want = sum(len(_ref_segment(w, merges)) for w in toks)
        assert got[docid] == (len(toks), want), docid
    # subwords partition each word, so the budget never exceeds the
    # doc's character count — and the learned merges shrink doc 1
    # (five 'low'-family words) well below it
    chars1 = len("".join(CORPUS[0][1].split()))
    assert got[1][1] < chars1


def test_bpe_learn_stops_when_no_repeated_pair(spark):
    docs = spark.createDataFrame(
        [(1, "ab cd ef")], "docid long, text string"
    )
    # every word occurs once and shares no pair with another: after
    # the count-1 floor, no merge is learnable
    assert B.bpe_learn(docs, n_merges=5) == []
