"""Distributed BPE subword-vocabulary learning and segmentation
(Sennrich, Haddow & Birch 2016, "Neural Machine Translation of Rare
Words with Subword Units" — the public byte-pair-encoding recipe every
modern tokenizer pipeline derives from).

Why it belongs in this engine: the training-data pipeline already
counts tokens (``token_counts`` approximates subword counts with a
regex); a 100 TB corpus pipeline also needs to LEARN the subword
vocabulary itself and report exact subword budgets per document. Both
steps are implemented scale-first:

- **Learning runs on the word-frequency table, not the corpus.** One
  explode→groupBy builds (word, count) — the only corpus-sized
  shuffle. Every merge round is then a pair-count aggregation over the
  VOCABULARY (≪ corpus; bounded by distinct words), exactly the
  classic dictionary-based formulation. The argmax pair per round is
  a 1-row driver collect (bounded).
- **Merging is a JVM fold** (``aggregate`` over the symbol array) —
  left-to-right non-overlapping replacement of the winning pair, no
  Python in the loop. The logical plan grows per round, so the vocab
  frame is localCheckpoint'ed every few rounds to keep planning cost
  bounded (same pattern as connected_components).
- **Segmentation encodes each DISTINCT word once**, then joins the
  (word → n_subwords) dictionary back to the per-doc word counts —
  at web scale the per-doc cost is a join (AQE picks broadcast when
  the dictionary is small enough), not a per-token BPE walk. The
  corpus is scanned once: both the dictionary and the scoring side
  hang off the same (docid, word) aggregate, whose shuffle stage the
  DAG scheduler reuses across the jobs.
- **Checkpoint hygiene**: the vocab frame is localCheckpoint'ed
  every few rounds to bound plan depth (same reason as
  connected_components) and superseded checkpoint blocks are
  unpersisted as soon as their successor is materialized — a learn
  call leaves NO persistent RDDs behind (its result is a plain
  Python list); segment_words keeps only its final checkpoint alive
  (its result DataFrame depends on it).

Correctness: pinned against an independent pure-Python reference
implementation of the published algorithm in tests/test_bpe.py
(identical merge sequence, identical per-word segmentations,
identical per-doc subword counts). Not SQL-expressible in one
statement (iterative argmax), so this family is pytest-tier — no
driver registry entry, disclosed in COVERAGE.md.

Determinism: ties on pair count break by lexicographic (a, b) —
pinned here AND in the reference implementation (the paper leaves
tie-breaks unspecified).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..tokenizer import tokens_col

# end-of-word sentinel (paper's </w>); '$' cannot appear in the
# [a-z0-9]+ token alphabet, so a BARE '$' symbol is always the
# sentinel and a merged symbol can only carry it as a suffix
EOW = "$"

# localCheckpoint the vocab frame every N merge rounds: keeps the
# fold-expression plan depth bounded (each round nests one aggregate)
_CKPT_EVERY = 8


def _persisted_ids(sc) -> set:
    out = set()
    it = sc._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        out.add(it.next()._1())
    return out


def _drop_rdds(sc, idset: set) -> None:
    it = sc._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        t = it.next()
        if t._1() in idset:
            t._2().unpersist(False)


def _ckpt_eager(df: DataFrame) -> tuple:
    """(checkpointed df, persistent-RDD ids it registered): eager, so
    the superseded generation can be dropped immediately after —
    lineage is already truncated onto the new blocks."""
    sc = df.sparkSession.sparkContext
    before = _persisted_ids(sc)
    ck = df.localCheckpoint(eager=True)
    return ck, _persisted_ids(sc) - before


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, c): corpus word-frequency table — the single
    corpus-sized aggregation of the whole BPE pipeline."""
    return (
        docs.select(F.explode(tokens_col(text_col)).alias("word"))
        .groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    )


def _initial_symbols():
    """word → array of single-char symbols with the EOW sentinel
    appended (paper form: the final symbol is distinct so merges
    cannot cross word boundaries). regexp_extract_all('.') rather
    than split(word, '') — the empty-regex split kept a trailing ''
    element before Spark 3.4, which would silently poison the pair
    counts."""
    return F.expr(
        f"concat(regexp_extract_all(word, '.', 0), array('{EOW}'))"
    )


def _merge_expr(col: str, a: str, b: str):
    """JVM fold replacing adjacent (a, b) with a||b, left-to-right
    non-overlapping: the accumulator's last element is compared
    against ``a`` AFTER earlier merges in the same word, which is
    exactly the sequential semantics of the reference algorithm."""
    qa, qb = a.replace("'", "\\'"), b.replace("'", "\\'")
    return F.expr(
        f"aggregate({col}, CAST(array() AS array<string>), "
        f"(acc, x) -> CASE WHEN size(acc) > 0 "
        f"AND element_at(acc, -1) = '{qa}' AND x = '{qb}' "
        f"THEN concat(slice(acc, 1, size(acc) - 1), "
        f"array('{qa}{qb}')) "
        f"ELSE concat(acc, array(x)) END)"
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """(a, b, n): adjacent-symbol pair counts over the vocabulary,
    weighted by word frequency. Overlap semantics match the reference
    dictionary algorithm: every adjacent position counts."""
    pairs = F.expr(
        "CASE WHEN size(syms) >= 2 THEN "
        "transform(sequence(1, size(syms) - 1), "
        "i -> struct(syms[i - 1] AS a, syms[i] AS b)) "
        "ELSE CAST(array() AS array<struct<a:string,b:string>>) END"
    )
    return (
        vocab.select("c", F.explode(pairs).alias("p"))
        .groupBy("p.a", "p.b").agg(F.sum("c").alias("n"))
    )


def bpe_learn(
    docs: DataFrame, n_merges: int = 20, text_col: str = "text"
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges over the corpus. Returns the
    ordered merge list [(a, b), ...] — a driver-side artifact of
    n_merges rows (bounded), like a centroid matrix.

    Stops early when no pair occurs at least twice (merging a
    count-1 pair is meaningless and the reference stops there too).
    """
    sc = docs.sparkSession.sparkContext
    vocab, own = _ckpt_eager(
        word_freqs(docs, text_col)
        .select(_initial_symbols().alias("syms"), "c")
    )
    merges: list[tuple[str, str]] = []
    try:
        for r in range(n_merges):
            top = (
                _pair_counts(vocab)
                .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
                .limit(1)
                .collect()
            )
            if not top or top[0]["n"] < 2:
                break
            a, b = top[0]["a"], top[0]["b"]
            merges.append((a, b))
            vocab = vocab.select(
                _merge_expr("syms", a, b).alias("syms"), "c"
            )
            if (r + 1) % _CKPT_EVERY == 0:
                vocab, new_own = _ckpt_eager(vocab)
                _drop_rdds(sc, own)  # superseded generation
                own = new_own
    finally:
        # the result is a plain list — no checkpoint outlives the call
        _drop_rdds(sc, own)
    return merges


def segment_words(
    words: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """(word, subwords): apply the ordered merge list to each distinct
    word — the encode path, one chained JVM fold per merge (plan depth
    = len(merges); encode runs once per DISTINCT word, so the frame
    this operates on is vocabulary-sized)."""
    sc = words.sparkSession.sparkContext
    out = words.select(
        "word", _initial_symbols().alias("syms")
    )
    own: set = set()
    for i, (a, b) in enumerate(merges):
        out = out.select(
            "word", _merge_expr("syms", a, b).alias("syms")
        )
        if (i + 1) % _CKPT_EVERY == 0:
            out, new_own = _ckpt_eager(out)
            _drop_rdds(sc, own)  # keep only the latest generation
            own = new_own
    return out.select(
        "word",
        # strip the sentinel back off: a bare EOW symbol drops, a
        # merged '<chars>EOW' symbol loses its suffix
        F.expr(
            f"filter(transform(syms, s -> "
            f"CASE WHEN s = '{EOW}' THEN '' "
            f"WHEN endswith(s, '{EOW}') THEN "
            f"substring(s, 1, length(s) - 1) "
            f"ELSE s END), s -> s <> '')"
        ).alias("subwords"),
    )


def bpe_token_counts(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """(docid, n_tokens, n_bpe): exact learned-vocabulary subword
    budget per document. One corpus scan builds the (docid, word, k)
    aggregate; the dictionary branch (distinct words → encode once)
    and the scoring join both hang off that aggregate, so its
    shuffle map stage is computed once and reused by the DAG
    scheduler across the jobs. The dictionary join is left to AQE —
    it broadcasts when the vocabulary is small enough and
    shuffle-joins on the word key at web scale (a forced broadcast
    would cap the vocabulary at the 8 GB broadcast limit)."""
    dw = (
        docs.select("docid", F.explode(tokens_col(text_col)).alias("word"))
        .groupBy("docid", "word")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    dic = segment_words(
        dw.select("word").distinct(), merges
    ).select("word", F.size("subwords").alias("n_sub"))
    return (
        dw.join(dic, "word")
        .groupBy("docid")
        .agg(
            F.sum("k").cast("long").alias("n_tokens"),
            F.sum(F.col("k") * F.col("n_sub")).cast("long").alias("n_bpe"),
        )
    )
