"""Block-max WAND top-k over packed postings (SURVEY.md §4 O1/O2, §2 D4b).

Reference anchor: ``Posdb.cpp: PosdbTable::intersectLists10_r`` with
``getMaxPossibleScore()`` upper-bound pruning + ``TopTree`` bounded
top-k, upgraded to block-max WAND (Ding & Suel, SIGIR'11) per the
north rule.

Distributed shape
-----------------
Blocks are keyed by (termid, bucket) where bucket = pmod(docid, B) —
so *all query terms' postings for a docid range are co-located by the
bucket key*. A query is ONE Spark job over a pruned block scan:

1. **Seed τ (driver)** — the query's bucket-0 blocks (memoized per
   termid) are scored driver-side by the same kernel as the scan;
   τ = their k-th best score, and the cut is τ in the rounded-score
   domain minus one grid ulp, so round-equal ties survive.
2. **Prune (in the plan)** — per-(termid, bucket) block bounds
   ``max tfnorm(blockmax_tf, blockmin_dl)`` are static store metadata,
   memoized in a driver bound cache (``_bounds_for``). On a
   disk-backed bucketed store ONE driver fold
   (``_fold_batch_thresholds``, a single query is the Q = 1 batch)
   decides, per (bucket, termid), the weakest row bound any query
   still needs, and ``_apply_prune`` folds it into the scan as
   LITERALS: surviving buckets become a ``bucket IN (...)`` predicate
   pushed down to parquet, and the sub-block row test reads its
   thresholds from bucket-indexed array literals. Past
   ``_LITERAL_PRUNE_MAX_CELLS`` there is no plan-level prune; the
   kernel's own check below still skips the decode.
   ``_block_survivors`` is the reference implementation the fold is
   pinned to. Every skipped bucket or block is provably unable to
   place a doc in the top-k.
3. **Score (workers)** — every query shape (AND/OR/NOT, phrase,
   proximity, density, diversity, field-boosted, and Q-query batches)
   runs ONE bucket kernel, ``_make_batch_scorer``: it re-checks the
   bound per bucket and per block row before any blob decode, then
   scatter-adds idf·tfnorm (one `np.add.at` per query and bucket — no
   per-posting Python), applies the required count, anti-filter, span
   kernels and rank multipliers, and keeps a tie-inclusive local
   top-k. The global merge is ORDER BY LIMIT k (TakeOrderedAndProject —
   the Msg3a merge shape) for one query, a per-query window for a
   batch.

Scale: the seed reads a few blocks per term; the bound cache holds
≤ n_buckets values per term, and past the literal cap no bounds are
fetched at all; the pruned scan reads only surviving buckets' blobs.
Head queries prune little (dense scores) but buckets bound memory
(the reference's docid-range splits,
``Msg39::m_numDocIdSplits``); tail queries prune almost everything.
"""

from __future__ import annotations

import threading

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.varbyte import unpack_docids, unpack_ints, unpack_positions
from .index_build import B, K1
from .segments import MAX_DENSITY_RANK, MAX_DIVERSITY_RANK, SegmentStore

SCORE_SCHEMA = "docid long, score double"

# BM25 constants shared with the relational path (index_build.K1/B) —
# precomputed once so the block-max upper bound and the scorer can
# never silently diverge from bm25_topk if K1/B change (an invalid
# upper bound would DROP true top-k docs, not just mis-score them).
_K1P1 = K1 + 1.0
_K1_1MB = K1 * (1.0 - B)
_K1B = K1 * B

# one grid ulp of the 4-decimal score rounding used by every top-k
# path (round_to=4); the kernel's truncation and the seed cut share it
# so the tie rule cannot drift between them
_TIE_GRID_EPS = 1e-4

# Columns each bucket-scorer kind actually reads. FlatMapGroupsInPandas
# is OPAQUE to Catalyst column pruning — without an explicit select,
# every packed column of the store (on a positional store that means
# the positions/dens/spam/divs blobs, the LARGEST columns) is read off
# parquet and Arrow-transferred into Python for a plain-BM25 query
# that never touches them. The projection is applied AFTER the JVM
# prune so the pruned plan keeps its helper columns until filtered.
_SCORER_BASE_COLS = [
    "bucket", "termid", "docids", "tfs", "dls",
    "blockmax_tf", "blockmin_dl", "inv_avgdl",
]
_SCORER_EXTRA_COLS = {
    "density": ["dens", "spam"],
    "diversity": ["divs"],
    "phrase": ["positions"],
    "proximity": ["positions"],
}


def _project_scorer_cols(blocks: DataFrame, kinds):
    """Project ``blocks`` down to the columns the kernel reads for the
    query ``kinds`` it scores. On a disk-backed store this prunes the
    parquet ReadSchema — a pruned stream's bytes never leave disk; on
    the cached store it cuts the Arrow transfer."""
    have = set(blocks.columns)
    cols = dict.fromkeys(
        _SCORER_BASE_COLS
        + [c for kind in kinds for c in _SCORER_EXTRA_COLS.get(kind, [])]
    )
    return blocks.select(*[c for c in cols if c in have])


def _scatter_scores(docid_parts: list, score_parts: list):
    """Concatenate per-block (docids, partial-score) arrays and
    scatter-add into (uniq docids, inverse index, summed scores) —
    the kernel's accumulation step."""
    all_docids = np.concatenate(docid_parts)
    uniq, inv = np.unique(all_docids, return_inverse=True)
    scores = np.zeros(uniq.size, dtype=np.float64)
    np.add.at(scores, inv, np.concatenate(score_parts))
    return uniq, inv, scores


def _topk_truncate(uniq: np.ndarray, scores: np.ndarray, k: int):
    """Tie-INCLUSIVE per-bucket top-k keep: retain everything within
    one rounding-grid ulp of the kth score. A raw argpartition could
    drop a doc that ties at the 4-decimal grid with a smaller docid,
    which the global orderBy(round(score), docid) tie-break must see
    (the field-boost path's final tie-break runs on a label the kernel
    cannot see, so every doc that could round into the top-k stays)."""
    if uniq.size <= k:
        return uniq, scores
    kth = np.partition(scores, uniq.size - k)[uniq.size - k]
    keep = scores >= round(float(kth), 4) - _TIE_GRID_EPS
    return uniq[keep], scores[keep]


def _tfnorm_ub_col():
    """JVM expression for a block's tfnorm upper bound from its
    scalar extrema — tfnorm is increasing in tf and decreasing in dl,
    so the (blockmax_tf, blockmin_dl) corner bounds every posting in
    the block. ONE definition shared by the per-(bucket, termid)
    aggregate, the row-level (sub-block) prune filter, and
    ``prune_stats`` — drift between them would make the query path
    prune differently from what the diagnostic reports."""
    bm_tf = F.col("blockmax_tf").cast("double")
    bm_dl = F.col("blockmin_dl").cast("double")
    return (bm_tf * _K1P1) / (
        bm_tf + _K1_1MB + _K1B * bm_dl * F.col("inv_avgdl")
    )


def _idf_map_expr(idf: dict):
    return F.create_map(
        *[x for t, v in idf.items() for x in (F.lit(t), F.lit(v))]
    )


def _bucket_term_bounds(blocks, idf: dict, with_bytes: bool = False):
    """Per-(bucket, termid) WAND bound contribution: the max block
    ``idf · tfnorm_ub`` — the first aggregate both the per-bucket
    bound (``_bucket_upper_bounds``) and the multi-query batch prune
    (``wand_topk_batch``) build on. Returns (bucket, termid,
    t_ub[, nb])."""
    idf_map = _idf_map_expr(idf)
    tfnorm_ub = _tfnorm_ub_col()
    first = [F.max(idf_map[F.col("termid")] * tfnorm_ub).alias("t_ub")]
    if with_bytes:
        nbytes = (
            F.octet_length("docids")
            + F.octet_length("tfs")
            + F.octet_length("dls")
        )
        first.append(F.sum(nbytes).alias("nb"))
    return (
        blocks.filter(F.col("termid").isin(list(idf)))
        .groupBy("bucket", "termid")
        .agg(*first)
    )


def _bucket_upper_bounds(blocks, idf: dict, with_bytes: bool = False):
    """Per-bucket WAND upper bound (JVM-side): for each (bucket,
    termid) the max block ``idf · tfnorm_ub``, summed over terms —
    the bucket granule ``prune_stats`` reports. The query path takes
    the same per-(bucket, termid) numbers from the driver bound cache
    (``_fold_batch_thresholds``); both evaluate ``_tfnorm_ub_col``, so a
    K1/B or bound change cannot reach one side only and make the
    diagnostic report pruning the query path doesn't do.
    ``with_bytes`` additionally carries the blob byte sums the
    diagnostic reports. Returns (bucket, ub, nterms[, nb])."""
    second = [
        F.sum("t_ub").alias("ub"),
        F.countDistinct("termid").alias("nterms"),
    ]
    if with_bytes:
        second.append(F.sum("nb").alias("nb"))
    return (
        _bucket_term_bounds(blocks, idf, with_bytes)
        .groupBy("bucket")
        .agg(*second)
    )


def _block_survivors(blocks, idf: dict, cut: float):
    """Row-level (sub-block) Ding & Suel survivor set, pure JVM.

    A block row of term t bounds every doc in its docid range by
    ``idf_t · tfnorm_ub(row) + Σ_{t'≠t} tmax(bucket, t')``; below the
    τ seed cut, no doc in that range can reach the top-k (its total
    score is provably < cut, and cut is the k-th score of REAL seed
    docs, so ≥ k docs beat it — ``_make_batch_scorer`` re-applies the
    same bound per bucket and per row before decoding). Negative-term
    rows never prune: their docid sets must stay complete for the
    anti-filter.

    This is the REFERENCE implementation (in-plan aggregates over the
    scalar blockmax columns) used by the ``prune_stats`` diagnostic.
    The query path (``_fold_batch_thresholds`` + ``_apply_prune``)
    evaluates the SAME bound formula from the driver bound cache as
    pushed-down literals — both sides evaluate ``_tfnorm_ub_col`` per
    (termid, bucket), so the per-term bounds are bit-identical; only
    the per-bucket Σ can differ by float summation order (last-ulp),
    and the survivor-set parity is pinned in
    tests/test_segments_wand.py.

    Returns ``blocks`` + helper columns ``bucket_ub`` / ``nterms`` /
    ``row_keep``; callers filter on bucket survival + row_keep and
    drop the helpers — including the AND-mode constraint (``nterms ==
    |required|``), which this function deliberately does NOT apply:
    ``prune_stats`` needs the unfiltered rows to count what the filter
    would drop.
    """
    tb = _bucket_term_bounds(blocks, idf)
    agg = tb.groupBy("bucket").agg(
        F.sum("t_ub").alias("bucket_ub"),
        F.countDistinct("termid").alias("nterms"),
    )
    row_ub = _idf_map_expr(idf)[F.col("termid")] * _tfnorm_ub_col()
    return (
        blocks.join(F.broadcast(tb), ["bucket", "termid"], "left")
        .join(F.broadcast(agg), "bucket", "left")
        .withColumn(
            "row_keep",
            F.col("t_ub").isNull()  # neg/field rows: always decode
            | (
                row_ub + (F.col("bucket_ub") - F.col("t_ub"))
                >= F.lit(cut)
            ),
        )
        .drop("t_ub")
    )


BATCH_SCORE_SCHEMA = "query_id string, docid long, score double"

# |query terms| × n_buckets above which the plan carries no prune:
# the thresholds ride in the plan as array literals, and a 1M-cell
# literal makes a ~40 MB plan string and a ~13 s filter (0.26 s at
# 256 cells, local[1]). Past the cap the kernel's own per-bucket and
# per-row check still skips the decode, so results do not change.
_LITERAL_PRUNE_MAX_CELLS = 8_192

# cell budget for pre-warming the bound cache in _warm_popular: at
# 16-128 sandbox buckets this warms all 256 popular terms; at a 64k-
# bucket production layout it warms only the very head, keeping the
# warm collect bounded.
_BOUND_WARM_MAX_CELLS = 65_536

# default proximity boost weight for batched proximity queries when
# the spec omits the optional 4th element — matches
# wand_proximity_topk's default so the common case stays
# rank-identical without spelling the weight out per query.
_BATCH_PROX_W = 0.5


# Per-posting rank multipliers (Posdb.h densityRank/wordSpamRank
# analogue, SURVEY.md C4). Division by 16 is exact in binary, so the
# SQL oracle replays the multiplier bit-for-bit from raw text:
#   mult = ((8 + density_rank)/16) * ((16 - spam_rank)/16)
_DENS_MULT_MAX = (8.0 + MAX_DENSITY_RANK) / 16.0  # spam 0, dens max
_DIV_MULT_MAX = (8.0 + MAX_DIVERSITY_RANK) / 16.0


_POS_BITS = 32  # key layout: (candidate_doc_idx << 32) | word_position
#                 positions are in-document word ordinals (≪ 2^32) and
#                 doc_idx indexes the bucket's candidate set, so the
#                 packed key orders by (doc, pos) with room to spare


def _gather_positions(blks, uniq: np.ndarray, dec_cache=None) -> np.ndarray:
    """One term's positions across ALL candidate docs as a SORTED
    int64 key array ``(doc_idx << 32) | pos`` (doc_idx = index into
    ``uniq``, which is sorted ascending). The whole gather is numpy
    segment arithmetic — blocks holding no candidate are never
    varbyte-decoded, and no Python statement runs per doc.

    ``dec_cache`` (dict) memoizes the per-blob varbyte decode across
    calls — the batch scorer passes one per bucket so a positions
    blob shared by many queries' candidate sets decodes ONCE (keys
    are ``id(blob)``: the blobs live in the caller's pandas frame for
    the cache's whole lifetime, so ids are stable)."""
    parts = []
    for docids, tfs_int, blob in blks:
        ii = np.searchsorted(docids, uniq)
        ok = ii < docids.size
        ok[ok] = docids[ii[ok]] == uniq[ok]
        if not ok.any():
            continue  # no candidate in this block: skip decode
        if dec_cache is None:
            flat, off = unpack_positions(blob, tfs_int)
        else:
            hit = dec_cache.get(id(blob))
            if hit is None:
                hit = unpack_positions(blob, tfs_int)
                dec_cache[id(blob)] = hit
            flat, off = hit
        mi = ii[ok]  # posting index per matched candidate
        ci = np.nonzero(ok)[0].astype(np.int64)  # candidate index
        starts = off[mi].astype(np.int64)
        lens = (off[mi + 1] - off[mi]).astype(np.int64)
        tot = int(lens.sum())
        if tot == 0:
            continue
        # segment-gather: output[s_j : s_j + len_j] = flat[start_j : …]
        out_start = np.cumsum(lens) - lens
        idx = (
            np.arange(tot, dtype=np.int64)
            - np.repeat(out_start, lens)
            + np.repeat(starts, lens)
        )
        parts.append(
            (np.repeat(ci, lens) << _POS_BITS)
            | flat[idx].astype(np.int64)
        )
    if not parts:
        return np.empty(0, np.int64)
    out = np.concatenate(parts)
    out.sort()
    return out


def _sorted_member(haystack: np.ndarray, needles: np.ndarray) -> np.ndarray:
    """Boolean membership of ``needles`` in SORTED ``haystack`` via
    searchsorted — O((n+m)·log m), no hashing, no Python loop."""
    pos = np.searchsorted(haystack, needles)
    hit = pos < haystack.size
    hit[hit] = haystack[pos[hit]] == needles[hit]
    return hit


def _phrase_keep_mask(
    keys_by_tid: dict, word_tids: list, n_cand: int
) -> np.ndarray:
    """Candidate-doc mask for exact phrase adjacency: valid start keys
    are intersected term by term (``start + j`` stays inside its doc's
    key range because positions ≪ 2^32), batched across every
    candidate doc at once."""
    empty = np.empty(0, np.int64)
    starts = keys_by_tid.get(word_tids[0], empty)
    for j, t in enumerate(word_tids[1:], start=1):
        if starts.size == 0:
            break
        starts = starts[
            _sorted_member(keys_by_tid.get(t, empty), starts + j)
        ]
    keep = np.zeros(n_cand, dtype=bool)
    if starts.size:
        keep[np.unique(starts >> _POS_BITS)] = True
    return keep


def _prox_min_gap(
    ka: np.ndarray, kb: np.ndarray, n_cand: int
) -> np.ndarray:
    """Per-candidate-doc min |pos_a − pos_b| between two terms' sorted
    key arrays (int64 max where a doc lacks positions on either side).
    Nearest-neighbour via ONE searchsorted over the packed keys; the
    left/right neighbours are validated to be in the SAME doc, then
    per-doc minima reduce with ``np.minimum.at``."""
    best = np.full(n_cand, np.iinfo(np.int64).max)
    if ka.size == 0 or kb.size == 0:
        return best
    da, pa = ka >> _POS_BITS, ka & 0xFFFFFFFF
    db, pb = kb >> _POS_BITS, kb & 0xFFFFFFFF
    ii = np.searchsorted(kb, ka)
    left = ii > 0
    left[left] = db[ii[left] - 1] == da[left]
    if left.any():
        np.minimum.at(best, da[left], pa[left] - pb[ii[left] - 1])
    right = ii < kb.size
    right[right] = db[ii[right]] == da[right]
    if right.any():
        np.minimum.at(best, da[right], pb[ii[right]] - pa[right])
    return best


def _plain_cut(q: dict) -> float:
    """The cut on the PLAIN bound Σ idf·tfnorm_ub that stays
    upper-bound-valid for query spec ``q``'s kind — the ONE per-kind
    bound adjustment shared by the kernel, the literal JVM prune and
    the batch threshold fold: density/diversity scores ≤ plain ×
    MULT_MAX (divide the cut), proximity ≤ plain + prox_w (mindist ≥
    1; subtract it), phrase matches are a SUBSET of the plain AND
    matches so the plain bound already dominates. A −inf cut (no
    seed) stays −inf."""
    cut, kind = q["cut"], q["kind"]
    if kind == "density":
        return cut / _DENS_MULT_MAX
    if kind == "diversity":
        return cut / _DIV_MULT_MAX
    if kind == "proximity":
        return cut - q["prox_w"]
    return cut


def _spec_tids(q: dict) -> list[int]:
    """The termids a query spec reads: its scored terms, then its
    negated ones (whose docid sets feed the anti-filter)."""
    return list(q["idf"]) + list(q["neg_ids"])


def _unpack_stream(row, col: str, n: int) -> np.ndarray:
    """Decode one per-posting int stream of a block row, checking it
    holds one value per docid: a short stream would otherwise
    broadcast its first value over the whole block and score every
    doc with it."""
    vals = unpack_ints(getattr(row, col))
    if vals.size != n:
        raise ValueError(
            f"corrupt block termid={int(row.termid)} "
            f"bucket={int(row.bucket)}: {col} decodes {vals.size} "
            f"values for {n} docids"
        )
    return vals


def _rank_factors(kind: str, row, n: int) -> tuple:
    """Per-posting rank multipliers of one block row of ``n`` docs,
    applied to idf·tfnorm in order: density = densMult·spamMult from
    the dens/spam streams, diversity = divMult from the divs
    stream."""
    if kind == "density":
        dens = _unpack_stream(row, "dens", n).astype(np.float64)
        spam = _unpack_stream(row, "spam", n).astype(np.float64)
        return ((8.0 + dens) / 16.0, (16.0 - spam) / 16.0)
    divs = _unpack_stream(row, "divs", n).astype(np.float64)
    return ((8.0 + divs) / 16.0,)


def _make_batch_scorer(qspecs: list[dict], k: int):
    """THE bucket-scoring kernel: scores Q query specs against ONE
    pass over a bucket's blocks. The single-query paths pass one spec,
    ``wand_topk_batch`` passes Q (round-4 verdict #3 — thread-level
    query overlap saturates at ~3.3 QPS because each query is its own
    job), and ``_seed_cut`` runs it driver-side on the seed blocks —
    like the reference's ``PosdbTable::intersectLists10_r``, one loop
    for every query shape.

    A spec (built by ``PackedIndex._query_spec``) is a dict: ``qid``;
    ``idf`` (termid → weighted idf; field terms carry weight·idf);
    ``required`` (AND termids); ``neg_ids``; ``cut`` (seed-τ cut, −inf
    = none); ``kind`` ∈ {"plain", "field", "phrase", "proximity",
    "density", "diversity"}; ``word_tids`` (phrase/proximity word
    order); ``prox_w``; ``sat`` — termids scored by saturation only,
    weight·idf·tf·(k1+1)/(tf+k1) with no length norm (the
    ``title:``/``anchor:`` field streams, ``Posdb.cpp`` hashgroup
    weighting, same formula as the relational
    ``linkextract.field_boosted_topk``). Field termids are their own
    termids, so saturation is a property of the termid across the
    batch.

    Per query: block-max bucket prune against the kind-adjusted cut
    (``_plain_cut``), sub-block row skip, scatter-add, required count,
    anti-filter, then the span kernels (phrase adjacency / proximity
    W/mindist boost over positions gathered only for AND survivors)
    or the rank multipliers, and a tie-inclusive top-k. Blocks shared
    between queries DECODE ONCE (positions and rank streams included:
    a phrase term shared by many queries gathers from one decode), and
    the whole batch is one FlatMapGroupsInPandas stage instead of Q
    job submissions."""
    pos_tids: set[int] = set()
    sat: set[int] = set()
    for q in qspecs:
        if q["kind"] in ("phrase", "proximity"):
            pos_tids.update(q["idf"])
        sat |= q["sat"]

    def score_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"query_id": [], "docid": [], "score": []}
        ).astype({"query_id": object, "docid": np.int64,
                  "score": np.float64})
        tids = pdf["termid"].to_numpy()
        tid_set = set(tids.tolist())
        inv_avgdl = float(pdf["inv_avgdl"].iloc[0])
        # Block-max pruning BEFORE any blob decode: per-term bucket
        # bound from the scalar blockmax columns — computed once,
        # reused by every query's prune check. tfnorm is increasing
        # in tf and decreasing in dl, so the (max tf, min dl) corner
        # bounds every doc in the block, with the EXACT avgdl
        # (inv_avgdl rides on the rows) — no build-time global.
        bm_tf = pdf["blockmax_tf"].to_numpy(np.float64)
        bm_dl = pdf["blockmin_dl"].to_numpy(np.float64)
        bm = (bm_tf * _K1P1) / (bm_tf + _K1_1MB + _K1B * bm_dl * inv_avgdl)
        if sat:
            # saturation-only terms: the tf corner alone bounds them
            bm = np.where(
                np.isin(tids, list(sat)), (bm_tf * _K1P1) / (bm_tf + K1), bm
            )
        tub: dict[int, float] = {}
        for t, v in zip(tids, bm):
            ti = int(t)
            if v > tub.get(ti, 0.0):
                tub[ti] = v
        survivors, needed = [], set()
        keep_rows = np.zeros(len(tids), dtype=bool)
        for q in qspecs:
            idf, required, neg_ids = q["idf"], q["required"], q["neg_ids"]
            cut = _plain_cut(q)
            # Buckets that cannot place a doc in the top-k (ub < τ′)
            # are skipped without touching a blob, and AND-mode
            # buckets missing a required term likewise.
            if required and not required.issubset(tid_set):
                continue
            pos_here = [t for t in idf if t in tid_set]
            if not pos_here:
                continue
            total_q = sum(idf[t] * tub[t] for t in pos_here)
            if cut > float("-inf") and total_q < cut:
                continue
            survivors.append(q)
            needed.update(pos_here)
            needed.update(t for t in neg_ids if t in tid_set)
            # Sub-block skip (Ding & Suel block-max granularity), per
            # query: a row of term t is needed by q only if
            # idf_q[t]·bm_row + Σ_{t'≠t} tmax_q(t') can reach cut_q —
            # below it no doc in the row can reach the top-k (cut is
            # the k-th score of REAL seed docs), so its blobs are
            # never varbyte-decoded. A row survives the batch when
            # ANY query needs it; a query scoring a block another
            # query kept only adds true sub-cut contributions that
            # the top-k then drops, so per-query results stay
            # rank-identical to scoring each query alone. Negative-
            # term rows always decode — their docid sets must stay
            # complete for the anti-filter.
            member = np.isin(tids, pos_here)
            if cut > float("-inf"):
                idf_arr = np.array(
                    [idf.get(int(t), 0.0) for t in tids]
                )
                tmax_arr = np.array(
                    [
                        idf.get(int(t), 0.0) * tub.get(int(t), 0.0)
                        for t in tids
                    ]
                )
                keep_rows |= member & (
                    idf_arr * bm + (total_q - tmax_arr) >= cut
                )
            else:
                keep_rows |= member
            if neg_ids:
                keep_rows |= np.isin(tids, list(neg_ids))
        if not survivors:
            return empty
        # decode each needed block ONCE (the batch win: a term shared
        # by 20 queries pays one varbyte decode, not 20); positions
        # stay ENCODED until the AND filter has produced a query's
        # candidate set — only blocks holding a surviving doc pay the
        # positions decode, gathered lazily from this one pass
        rows = list(pdf.itertuples(index=False))
        dec: dict[int, list] = {}
        pos_blobs: dict[int, list] = {}
        for i, row in enumerate(rows):
            ti = int(row.termid)
            if ti not in needed or not keep_rows[i]:
                continue
            docids = unpack_docids(row.docids).astype(np.int64)
            tfs_int = _unpack_stream(row, "tfs", docids.size).astype(
                np.int64
            )
            tfs = tfs_int.astype(np.float64)
            if ti in sat:
                tfnorm = (tfs * _K1P1) / (tfs + K1)
            else:
                dls = _unpack_stream(row, "dls", docids.size).astype(
                    np.float64
                )
                tfnorm = (tfs * _K1P1) / (
                    tfs + _K1_1MB + _K1B * dls * inv_avgdl
                )
            dec.setdefault(ti, []).append((i, docids, tfnorm))
            if ti in pos_tids:
                pos_blobs.setdefault(ti, []).append(
                    (docids, tfs_int, row.positions)
                )
        out = []
        # one positions-decode cache and one rank-stream cache per
        # bucket: a blob touched by many queries unpacks once (the
        # shared-decode promise of the batch, extended to the
        # positional and rank streams)
        pos_dec_cache: dict[int, tuple] = {}
        rank_cache: dict[tuple, tuple] = {}
        for q in survivors:
            idf, required, kind = q["idf"], q["required"], q["kind"]
            docid_parts, score_parts, req_parts = [], [], []
            for t, w in idf.items():
                for i, d, tf in dec.get(t, []):
                    part = w * tf
                    if kind in ("density", "diversity"):
                        fs = rank_cache.get((kind, i))
                        if fs is None:
                            fs = _rank_factors(kind, rows[i], d.size)
                            rank_cache[(kind, i)] = fs
                        for f in fs:
                            part = part * f
                    docid_parts.append(d)
                    score_parts.append(part)
                    req_parts.append(
                        np.full(d.size, t in required, dtype=np.int64)
                    )
            if not docid_parts:
                continue
            uniq, inv, scores = _scatter_scores(docid_parts, score_parts)
            if required:
                reqcnt = np.zeros(uniq.size, dtype=np.int64)
                np.add.at(reqcnt, inv, np.concatenate(req_parts))
                keep = reqcnt == len(required)
                uniq, scores = uniq[keep], scores[keep]
            negs = [d for t in q["neg_ids"] for _i, d, _tf in dec.get(t, [])]
            if negs:
                bad = np.unique(np.concatenate(negs))
                keep = ~np.isin(uniq, bad)
                uniq, scores = uniq[keep], scores[keep]
            if kind in ("phrase", "proximity") and uniq.size:
                # BATCHED span kernel (round-4 verdict #2): candidate
                # docs' positions are gathered term-by-term into ONE
                # flat (doc_idx, pos) key array and the adjacency /
                # min-gap tests run as sorted-array operations over
                # the whole bucket — no Python statement executes per
                # candidate doc (cf. the reference's C++ span loop in
                # PosdbTable::intersectLists10_r). Candidates are AND
                # survivors, so every (term, doc) posting row was kept
                # above and its positions are gatherable.
                word_tids = q["word_tids"]
                keys_by_tid = {
                    tid: _gather_positions(
                        pos_blobs.get(tid, []), uniq,
                        dec_cache=pos_dec_cache,
                    )
                    for tid in set(word_tids)
                }
                if kind == "phrase":
                    pk = _phrase_keep_mask(
                        keys_by_tid, word_tids, uniq.size
                    )
                    uniq, scores = uniq[pk], scores[pk]
                else:  # proximity: per-doc min |a-b| over two terms
                    best = _prox_min_gap(
                        keys_by_tid[word_tids[0]],
                        keys_by_tid[word_tids[1]],
                        uniq.size,
                    )
                    boosted = best < np.iinfo(np.int64).max
                    scores = scores + np.where(
                        boosted, q["prox_w"] / np.maximum(best, 1), 0.0
                    )
            uniq, scores = _topk_truncate(uniq, scores, k)
            if uniq.size:
                out.append(
                    pd.DataFrame(
                        {"query_id": q["qid"], "docid": uniq,
                         "score": scores}
                    )
                )
        return pd.concat(out, ignore_index=True) if out else empty

    return score_batch


class _SharedCache:
    """Open-handle counts per cached table. Spark's cache manager keeps
    ONE entry for all semantically equal plans, so two handles over
    one store share their cached tables: the last handle to release a
    table unpersists it. Keyed on the application and the plan's
    ``semanticHash`` — the identity the cache manager matches on — so
    counts from a stopped session never reach the next one."""

    def __init__(self):
        self._lock = threading.Lock()
        self._open: dict[tuple, int] = {}

    @staticmethod
    def _key(df: DataFrame) -> tuple:
        return (
            df.sparkSession.sparkContext.applicationId,
            df.semanticHash(),
        )

    def acquire(self, df: DataFrame) -> None:
        key = self._key(df)
        with self._lock:
            self._open[key] = self._open.get(key, 0) + 1
            df.cache()

    def release(self, df: DataFrame) -> None:
        key = self._key(df)
        with self._lock:
            n = self._open.pop(key, 1) - 1
            if n:
                self._open[key] = n
            else:
                df.unpersist()


_cache_handles = _SharedCache()


class PackedIndex:
    """Query handle over a SegmentStore (or any packed DataFrame)."""

    def __init__(
        self,
        spark: SparkSession,
        store: SegmentStore,
        packed: DataFrame | None = None,
    ):
        self.spark = spark
        self.store = store
        # cache both tables: every query prunes the SAME packed table
        # (by termid) and probes term_stats — without the cache each
        # query re-reads parquet (ref: RdbCache's termlist cache).
        # Hash-partitioned by bucket so the per-bucket scorer's
        # ClusteredDistribution(bucket) is already satisfied — the
        # applyInPandas stage runs WITHOUT a blob shuffle.
        # ``packed`` overrides with a WRITE-TIME bucketed table
        # (``segments.save_bucketed``): its scan already reports
        # HashPartitioning(bucket), so no repartition and no cache
        # warm shuffle are needed — queries never move blobs at all,
        # the layout the cache path stands in for at 100 TB.
        # disk-backed stores (write-time bucketed table) default to the
        # JVM-side prune (``_apply_prune``: a literal ``bucket IN``
        # pushed to the scan plus an array-literal row filter, both
        # from the driver bound cache), so pruned buckets' BLOBS are
        # never read off disk or shipped across Arrow. The in-memory
        # cache path keeps the kernel's in-worker prune only — there
        # the blob column is already resident (BENCH/wand_prune.md
        # measured an earlier aggregate+broadcast plan prune costing
        # more than it saved there).
        self.jvm_prune = packed is not None
        if packed is not None:
            self.packed = packed
        else:
            n_part = spark.conf.get("spark.sql.shuffle.partitions", "32")
            self.packed = store.packed(spark).repartition(
                int(n_part), "bucket"
            )
        self.term_stats = store.term_stats(spark)
        # what close() releases: the tables this handle cached
        self._cached = [self.term_stats]
        if packed is None:
            self._cached.append(self.packed)
        for df in self._cached:
            _cache_handles.acquire(df)
        self.n_docs, self.avgdl = store.globals_(spark)
        self._term_cache: dict[str, tuple] = {}
        self._seed_cache: dict[int, list] = {}
        # termid -> {bucket: max tfnorm_ub} — static per store snapshot
        # (like term_stats above; a PackedIndex is bound to the store
        # state at construction). Feeds _fold_batch_thresholds.
        self._bound_cache: dict[int, dict[int, float]] = {}
        self._n_buckets: int | None = None
        self._warm_popular()

    def close(self) -> None:
        """Release what this handle holds: the cached ``packed`` table
        (cache layout only — a disk-backed ``packed`` belongs to the
        caller), the cached ``term_stats`` and the driver-side term,
        seed and bound caches. A long-lived session that opens a
        handle per store snapshot leaks none of them. A cached table
        another open handle over the same store still shares stays
        cached until that handle closes too. Closing twice releases
        once."""
        for df in self._cached:
            _cache_handles.release(df)
        self._cached = []
        self._term_cache.clear()
        self._seed_cache.clear()
        self._bound_cache.clear()

    def __enter__(self) -> "PackedIndex":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def _nb(self) -> int:
        """Bucket fan-out of the store, probed lazily (one scalar
        min/max-stats aggregate over the bucket column, once per
        index) — sizes the prune's literal cap, its bucket-indexed
        threshold arrays and the bound-warm budget."""
        if self._n_buckets is None:
            mx = self.packed.agg(F.max("bucket")).first()[0]
            self._n_buckets = int(mx) + 1 if mx is not None else 1
        return self._n_buckets

    def _warm_popular(self, top_n: int = 256) -> None:
        """Pre-fetch the highest-df terms' stats + seed blocks in one
        action (the reference warms RdbCache with popular termlists
        the same way) — head-term queries then pay zero cold
        round-trips. top_n rows ≈ a few hundred KB regardless of
        corpus size."""
        rows = self._fetch_terms(
            self.term_stats.orderBy(F.desc("df"), F.asc("term"))
            .limit(top_n)
            .select("termid", "term", "df")
        )
        if self.jvm_prune and rows:
            # pre-warm block bounds for the head terms too, so their
            # first pruned query runs ONE job (the query) instead of a
            # bounds collect + the query. Budgeted by cell count: at
            # sandbox bucket fan-outs this covers all top_n terms; at
            # a 64k-bucket layout it warms only the very head.
            budget = max(0, _BOUND_WARM_MAX_CELLS // max(self._nb(), 1))
            tids = list(dict.fromkeys(
                int(r["termid"])
                for r in sorted(
                    rows, key=lambda r: (-int(r["df"]), r["term"])
                )
            ))[:budget]
            if tids:
                self._bounds_for(tids)

    def _fetch_terms(self, ts: DataFrame) -> list:
        """Collect term_stats rows ``ts`` (termid, term, df) together
        with each term's bucket-0 packed blocks (the τ seed sample —
        see ``_seed_rows``) via a left join, so a cold term pays ONE
        driver round-trip, not two; fills the term and seed caches."""
        rows = ts.join(
            self.packed.filter(F.col("bucket") == 0), "termid", "left"
        ).collect()
        for r in rows:
            if self._term_cache.get(r["term"]) is None:
                self._term_cache[r["term"]] = r
            seeds = self._seed_cache.setdefault(int(r["termid"]), [])
            if r["docids"] is not None:
                seeds.append(r)
        return rows

    def _term_rows(self, terms: list[str]) -> list:
        """term_stats rows for query terms, memoized across queries —
        the driver-side analogue of the reference's termFreq cache
        (Posdb::getTermFreq hits RdbMap counts, not the lists)."""
        missing = [t for t in terms if t not in self._term_cache]
        if missing:
            for t in missing:
                self._term_cache[t] = None
            self._fetch_terms(
                self.term_stats.filter(F.col("term").isin(missing)).select(
                    "termid", "term", "df"
                )
            )
        return [self._term_cache[t] for t in terms
                if self._term_cache[t] is not None]

    def _seed_rows(self, termids: list[int]) -> list:
        """Bucket-0 blocks for the given termids (the τ seed sample),
        memoized per termid — populated by ``_term_rows``'s combined
        fetch; one row per (term, segment), a few KB each."""
        out: list = []
        for t in termids:
            out.extend(self._seed_cache.get(t, []))
        return out

    def _bounds_for(self, termids: list[int]) -> dict[int, dict[int, float]]:
        """Per-(termid, bucket) block-bound maxima (``max tfnorm_ub``),
        memoized per termid — the driver-side analogue of
        ``_term_rows``. These are STATIC store metadata (extrema of
        scalar columns), so aggregating them per QUERY was paying two
        full scalar-column scans of the store in every disk-backed
        plan; now a cold term pays one aggregate collect (termid
        pushdown, scalar columns only — ≤ n_buckets rows per term) and
        every later query builds its bound tables as literals."""
        missing = [t for t in termids if t not in self._bound_cache]
        if missing:
            rows = (
                self._blocks(missing)
                .groupBy("bucket", "termid")
                .agg(F.max(_tfnorm_ub_col()).alias("raw_ub"))
                .collect()
            )
            for t in missing:
                self._bound_cache.setdefault(t, {})
            for r in rows:
                self._bound_cache[int(r["termid"])][int(r["bucket"])] = (
                    float(r["raw_ub"])
                )
        return {t: self._bound_cache[t] for t in termids}

    def _idf(self, df) -> float:
        """BM25 idf of a body df — the one formula every query shape
        (and the relational ``bm25_topk`` twin) scores with."""
        n = float(self.n_docs)
        return float(np.log((n - df + 0.5) / (df + 0.5) + 1.0))

    def _blocks(self, termids: list[int]) -> DataFrame:
        """The termids' packed blocks with the exact ``inv_avgdl``
        riding on every row — the one scan frame the query, batch and
        bound-cache paths build on.

        termid prune as an isin() literal filter. Trade-off,
        measured: the literals embed in the whole-stage-codegen
        source of the cached-scan stage, so the FIRST query with a
        given term set pays a ~1 s JIT compile; a broadcast-join
        prune avoids the compile but adds a per-query broadcast
        round (+0.3-0.5 s on EVERY execution). Steady-state wins:
        literal plans are compiled once per query shape and repeat
        executions run ~2-3× faster than the join form."""
        return self.packed.filter(F.col("termid").isin(termids)).withColumn(
            "inv_avgdl", F.lit(1.0 / self.avgdl)
        )

    def _query_spec(
        self,
        terms: list[str],
        k: int = 10,
        mode: str = "and",
        neg_terms: list[str] | None = None,
        round_to: int | None = 4,
        weights: dict[str, float] | None = None,
        kind: str = "plain",
        words: list[str] | None = None,
        prox_w: float = 0.0,
    ) -> dict | None:
        """THE query prologue for every shape: term stats, idf and the
        seed-sampled τ cut, returned as a kernel spec (see
        ``_make_batch_scorer``). None = provably empty result.

        ``weights`` (term → multiplier; ref: QueryTerm::m_synonymOf —
        synonym termlists score at reduced weight) folds into the idf
        map: a weight scales the term's partial w·idf·tfnorm linearly,
        so every downstream consumer — the bucket kernel, the block-max
        upper bound, the JVM prune, and the seed-τ — stays a valid
        bound/score with zero changes. Unlisted terms weigh 1.0.

        Positional kinds (AND mode) resolve ``words`` to word_tids:
        ``words`` defaults to the DEDUPED terms, and phrase callers
        pass the original word list — order and repeats matter for
        adjacency (a hand-copied batch prologue once dropped repeated
        phrase words; pinned by the duplicate-word parity test in
        tests/test_wand_batch.py). The seed τ ranks with the KIND's
        semantics: a plain-scorer τ would over-prune, since phrase
        restricts matches and density rescales scores."""
        if weights and min(weights.values()) <= 0:
            # the block-max machinery factors bounds as w·idf·max(x),
            # which upper-bounds max(w·idf·x) only for w > 0 — a
            # non-positive weight would silently flip the bound's
            # direction and prune true top-k docs
            raise ValueError(
                "term weights must be positive (got "
                f"{ {t: w for t, w in weights.items() if w <= 0} })"
            )
        terms = list(dict.fromkeys(terms))
        rows = self._term_rows(terms)
        found = {r["term"]: r for r in rows}
        if mode == "and" and len(found) < len(terms):
            return None
        if not found:
            return None
        idf = {
            int(r["termid"]): self._idf(r["df"])
            * (weights.get(r["term"], 1.0) if weights else 1.0)
            for r in rows
        }
        neg_rows = self._term_rows(list(neg_terms)) if neg_terms else []
        word_tids = None
        if kind in ("phrase", "proximity"):
            word_tids = [
                int(found[w]["termid"])
                for w in (words if words is not None else terms)
            ]
        spec = {
            "qid": "",
            "idf": idf,
            "required": set(idf) if mode == "and" else set(),
            "neg_ids": {int(r["termid"]) for r in neg_rows},
            "cut": float("-inf"),
            "kind": kind,
            "word_tids": word_tids,
            "prox_w": prox_w,
            "sat": frozenset(),
        }
        spec["cut"] = self._seed_cut(spec, k, round_to)
        return spec

    def _scan(self, spec: dict | None) -> dict | None:
        """``spec`` plus its block scan (query + neg termids) as
        ``blocks`` — the ctx form the prune helpers, the single-query
        plan and ``prune_stats`` take. None stays None."""
        if spec is None:
            return None
        return dict(spec, blocks=self._blocks(_spec_tids(spec)))

    def _query_ctx(self, *args, **kwargs) -> dict | None:
        """``_query_spec`` (same arguments) with its block scan."""
        return self._scan(self._query_spec(*args, **kwargs))

    def _seed_cut(self, spec: dict, k: int, round_to=4) -> float:
        """τ from a SAMPLED seed bucket, scored driver-side — the ONE
        tau/cut implementation shared by every query shape (drift here
        invalidates block-max pruning, so it must not be re-implemented
        per path).

        docids are uniform 63-bit hashes, so every bucket is a fair
        sample of the score distribution: bucket 0's k-th best score
        is a valid τ (any subset's k-th score lower-bounds the global
        k-th) and, by uniformity, a near-tight one. Its blocks are one
        row per (term, segment), fetched via the memoized pure-JVM
        collect and scored with the SAME kernel (and the spec's own
        kind, unpruned: ``spec`` carries a −inf cut here) as the
        distributed branch — the reference's per-shard TopTree seed
        (Msg39), far cheaper than a distributed stage just for τ.

        The returned cut compares against τ in the ROUNDED domain
        minus one ulp of the rounding grid: final ranking is on
        round(score, round_to), so a doc whose exact score is below
        unrounded-τ but rounds equal (and ties by smaller docid) must
        still be scored — ``ub > τ(unrounded)`` would drop it."""
        seed_rows = self._seed_rows(_spec_tids(spec))
        tau = float("-inf")
        if seed_rows:
            pdf = pd.DataFrame([r.asDict() for r in seed_rows])
            pdf["inv_avgdl"] = 1.0 / self.avgdl
            seed_scored = _make_batch_scorer([spec], k)(pdf).sort_values(
                ["score", "docid"], ascending=[False, True]
            )
            if len(seed_scored) >= k:
                tau = float(seed_scored["score"].iloc[k - 1])
        if tau > float("-inf") and round_to:
            return round(tau, round_to) - 10.0 ** -round_to
        return tau

    def wand_topk(
        self,
        terms: list[str],
        k: int = 10,
        mode: str = "and",
        neg_terms: list[str] | None = None,
        round_to: int | None = 4,
        weights: dict[str, float] | None = None,
    ) -> DataFrame:
        return self._topk(
            self._query_ctx(terms, k, mode, neg_terms, round_to, weights),
            k,
            round_to,
        )

    def _topk(
        self,
        ctx: dict | None,
        k: int,
        round_to: int | None,
        label_map: DataFrame | None = None,
    ) -> DataFrame:
        """The single-query plan — ONE action mirroring the relational
        path's shape: termid prune at the scan → literal JVM prune
        (disk-backed stores: ``_apply_prune`` with one spec) → the
        kernel on one spec per bucket → TakeOrderedAndProject. No
        shuffle: the cache is hash-partitioned by bucket (and a
        write-time bucketed table's scan reports the same
        partitioning), so FlatMapGroupsInPandas's
        ClusteredDistribution is already satisfied. On the cache
        layout the kernel's own per-bucket / per-row bound check is
        the prune — skipped rows never decode a blob. Field-boosted
        queries skip the JVM prune: the bound cache holds BM25-form
        block bounds, which do not bound a saturation-only field term.

        ``label_map`` (docid, label) re-labels output docids and makes
        the final tie-break run on the label."""
        if ctx is None:
            return self.spark.createDataFrame(
                [],
                "docid string, score double"
                if label_map is not None else SCORE_SCHEMA,
            )
        spec = {key: v for key, v in ctx.items() if key != "blocks"}
        blocks = ctx["blocks"]
        if self.jvm_prune and spec["kind"] != "field":
            blocks = self._apply_prune(blocks, [spec])
        result = (
            _project_scorer_cols(blocks, [spec["kind"]])
            .groupBy("bucket")
            .applyInPandas(
                _make_batch_scorer([spec], k), schema=BATCH_SCORE_SCHEMA
            )
        )
        score = F.round(F.col("score"), round_to) if round_to else F.col("score")
        if label_map is not None:
            result = result.join(F.broadcast(label_map), "docid")
            cols = (F.col("label").alias("docid"), score.alias("score"))
        else:
            cols = ("docid", score.alias("score"))
        return (
            result.select(*cols)
            .orderBy(F.desc("score"), F.asc("docid"))
            .limit(k)
        )

    def _fold_batch_thresholds(
        self, idf_all: dict[int, float], qspecs: list
    ):
        """THE block-max prune decision for Q query specs (a single
        query is Q = 1): per (bucket, termid), the weakest row-level
        bound any query still needs — the multi-query form of
        ``_block_survivors``' row bound, folded from the driver bound
        cache (``_bounds_for``; cold terms pay one shared aggregate
        collect, warm ones never touch the cluster). ``idf_all`` maps
        every scored termid to its (term-global) weighted idf.

        Returns None — the plan then carries no prune — when no query
        has a seed cut (there is nothing to prune against, and cold
        terms' bounds would cost a collect), or past
        ``_LITERAL_PRUNE_MAX_CELLS`` (|terms| × n_buckets, checked
        BEFORE the bounds are fetched: the cache collect itself is
        that many rows). Otherwise ``(tids, thr)``: the scored and
        negated termids, and an n_buckets × |tids| array where a row
        of term ``tids[j]`` in bucket b survives iff its
        ``idf·tfnorm_ub ≥ thr[b, j]`` (−inf: keep unconditionally —
        neg terms, no-seed queries; +inf: no surviving query needs
        it). A bucket whose cells are all +inf can serve no query.

        Vectorized per QUERY over the dense buckets × terms matrix:
        O(Σ_q buckets·|q|) numpy work, no Python loop over buckets."""
        if all(_plain_cut(q) == float("-inf") for q in qspecs):
            return None
        nb = self._nb()
        if len(idf_all) * nb > _LITERAL_PRUNE_MAX_CELLS:
            return None
        tids = list(dict.fromkeys(
            [*idf_all, *(t for q in qspecs for t in q["neg_ids"])]
        ))
        col_of = {t: j for j, t in enumerate(tids)}
        # M[b, j] = t_ub = idf·max tfnorm_ub; NaN where term j has no
        # block in bucket b. M already carries idf — multiplying again
        # (idf²) would understate the bound for idf < 1 stopwords and
        # prune buckets holding true top-k docs.
        M = np.full((nb, len(tids)), np.nan)
        for t, by_bucket in self._bounds_for(list(idf_all)).items():
            M[list(by_bucket), col_of[t]] = idf_all[t] * np.fromiter(
                by_bucket.values(), np.float64, len(by_bucket)
            )
        present = ~np.isnan(M)
        thr = np.full(M.shape, np.inf)
        for q in qspecs:
            cols = [col_of[t] for t in q["idf"]]
            req = [col_of[t] for t in q["required"]]
            # AND buckets need every required term, OR buckets any term
            alive = (
                present[:, req].all(axis=1) if req
                else present[:, cols].any(axis=1)
            )
            sub = M[:, cols]
            # per-kind bound adjustment, shared with the kernel
            cut = _plain_cut(q)
            if cut > float("-inf"):
                bucket_ub = np.nansum(sub, axis=1)
                alive &= bucket_ub >= cut
                # row_ub + (bucket_ub − t_ub) ≥ cut, solved for row_ub;
                # the max row per (b, t) always meets its own
                # threshold, so a live query keeps all its termids
                need = cut - (bucket_ub[:, None] - sub)
            else:
                need = np.full(sub.shape, -np.inf)
            need = np.where(present[:, cols] & alive[:, None], need, np.inf)
            thr[:, cols] = np.minimum(thr[:, cols], need)
            for t in q["neg_ids"]:
                # neg docid sets must stay complete for the
                # anti-filter wherever q is evaluated
                thr[alive, col_of[t]] = -np.inf
        return tids, thr

    def _apply_prune(self, blocks: DataFrame, qspecs: list) -> DataFrame:
        """Fold Q query specs' prune (``_fold_batch_thresholds``) into
        the scan of ``blocks`` as LITERALS — the one prune applier of
        the single-query and batch plans: surviving buckets become a
        ``bucket IN (...)`` predicate that pushes down to the parquet
        scan (a pruned bucket's files are deselected, so its blobs are
        never read — the Ding & Suel skip realized as I/O pruning), and
        the sub-block row test reads its per-(termid, bucket)
        thresholds from one bucket-indexed array literal per termid.
        One filter stage: zero joins, zero Exchanges, and a plan whose
        py4j call count does not grow with the bucket count (an array
        literal's elements still cross as one py4j array command
        each). A row dropped here is one the kernel's own per-bucket /
        per-row check would skip too, so results never depend on
        whether the plan prunes."""
        idf_all: dict[int, float] = {}
        for q in qspecs:
            # term-global: only a single query (Q = 1) carries weights
            idf_all.update(q["idf"])
        fold = self._fold_batch_thresholds(idf_all, qspecs)
        if fold is None:
            return blocks
        tids, thr = fold
        surv = np.flatnonzero((thr < np.inf).any(axis=1))
        if not surv.size:
            return blocks.filter(F.lit(False))
        ub = _tfnorm_ub_col()
        at_bucket = F.col("bucket") + 1
        keep = None
        for j, t in enumerate(tids):
            is_t = F.col("termid") == t
            # a neg-only termid scores 0: ≥ −inf keeps, ≥ +inf drops
            row_ok = F.lit(idf_all.get(t, 0.0)) * ub >= F.element_at(
                F.lit(thr[:, j]), at_bucket
            )
            keep = (
                F.when(is_t, row_ok) if keep is None
                else keep.when(is_t, row_ok)
            )
        return blocks.filter(
            F.expr(f"bucket IN ({', '.join(map(str, surv))})")
        ).filter(keep)

    def wand_topk_batch(
        self,
        queries: dict[str, list[str] | tuple],
        k: int = 10,
        round_to: int | None = 4,
    ) -> DataFrame:
        """Score MANY queries in ONE Spark job (round-4 verdict #3).

        ``queries``: {query_id: terms} for AND queries, or
        {query_id: (terms, mode, neg_terms[, prox_w])} for the full
        shape set — mode ∈ {"and", "or", "phrase", "proximity"}; the
        optional 4th element is a per-query proximity weight
        (default 0.5, wand_proximity_topk's default). The positional
        modes need a ``with_positions`` store, take no neg_terms, and
        mirror ``wand_phrase_topk`` / ``wand_proximity_topk`` exactly
        (kind-specific seed-τ, proximity cut adjusted by prox_w,
        positions gathered only for AND-surviving candidates); a
        training-data pipeline mining phrase duplicates or
        co-occurrence pairs issues thousands of these. Returns
        (query_id, docid, score) — per query RANK-IDENTICAL to
        ``wand_topk`` / ``wand_phrase_topk`` / ``wand_proximity_topk``
        (pinned in tests/test_wand_batch.py): same per-query seed-τ
        cuts, same block-max prune, same scoring and tie rules; only
        the execution is fused. The thread-overlap
        route saturates at ~3.3 QPS on 8 cores because each query
        pays its own job submission and its narrow stages idle cores
        (BENCH/concurrency.md); batching carries a query_id through
        the bucket scorer instead — one FlatMapGroupsInPandas pass
        decodes shared term blocks once and fills every core, then
        one rank-per-query top-k (a window over ≤ Q·buckets·k rows)
        replaces Q TakeOrderedAndProjects.

        Scale shape: Q queries' termids union into ONE scan filter;
        on a disk-backed bucketed store the single-query prune
        (``_apply_prune``) takes all Q specs: the driver fold keeps,
        per (bucket, termid), the weakest row-level threshold any
        query still needs, so a block row below every interested
        query's threshold is dropped in the plan and never crosses
        Arrow into the Python scorer (same row-level guarantee as a
        single query; past ``_LITERAL_PRUNE_MAX_CELLS`` the plan
        carries no prune and the kernel's per-query check skips the
        decode instead).
        """
        from pyspark.sql.window import Window

        norm: list[tuple] = []
        for qid, spec in queries.items():
            if isinstance(spec, (list,)):
                norm.append((str(qid), list(spec), "and", None, 0.0))
            else:
                # (terms, mode, neg) or (terms, "proximity", None,
                # prox_w) — the 4th element carries a per-query
                # proximity weight so batch results stay rank-
                # identical to wand_proximity_topk at ANY weight, not
                # just the 0.5 default
                terms, mode, neg = spec[0], spec[1], spec[2]
                pw = (
                    float(spec[3])
                    if len(spec) > 3 and spec[3] is not None
                    else _BATCH_PROX_W
                )
                if mode in ("phrase", "proximity"):
                    if neg:
                        raise ValueError(
                            f"{mode} batch queries take no neg_terms "
                            f"(query {qid!r})"
                        )
                    self._require_streams(mode)
                    if (
                        mode == "proximity"
                        and len(dict.fromkeys(terms)) != 2
                    ):
                        raise ValueError(
                            "proximity takes exactly two distinct "
                            f"terms (query {qid!r})"
                        )
                norm.append((str(qid), list(terms), mode, neg, pw))
        # ONE driver round-trip for every term in the batch (the
        # per-query ctx calls below then hit the memoized cache)
        all_terms = list(
            dict.fromkeys(
                t
                for _qid, terms, _m, neg, _pw in norm
                for t in list(terms) + list(neg or [])
            )
        )
        self._term_rows(all_terms)
        qspecs: list[dict] = []
        for qid, terms, mode, neg, pw in norm:
            # the SAME prologue as the per-query paths — phrase keeps
            # the original word list (repeats and order matter for
            # adjacency, exactly like wand_phrase_topk); proximity
            # uses the deduped pair
            if mode in ("phrase", "proximity"):
                spec = self._query_spec(
                    terms, k, "and", None, round_to, kind=mode,
                    words=terms if mode == "phrase" else None, prox_w=pw,
                )
            else:
                spec = self._query_spec(terms, k, mode, neg, round_to)
            if spec is None:
                continue  # AND query with a term the corpus lacks
            qspecs.append(dict(spec, qid=qid))
        if not qspecs:
            return self.spark.createDataFrame([], BATCH_SCORE_SCHEMA)
        blocks = self._blocks(
            sorted({t for q in qspecs for t in _spec_tids(q)})
        )
        if self.jvm_prune:
            # the single-query prune with Q specs: a block row below
            # EVERY interested query's threshold is dropped in the
            # plan and never crosses Arrow into the batch scorer
            blocks = self._apply_prune(blocks, qspecs)

        result = (
            # positions ride along only when some query gathers them
            _project_scorer_cols(blocks, {q["kind"] for q in qspecs})
            .groupBy("bucket")
            .applyInPandas(
                _make_batch_scorer(qspecs, k), schema=BATCH_SCORE_SCHEMA
            )
        )
        score = (
            F.round(F.col("score"), round_to) if round_to else F.col("score")
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("docid")
        )
        return (
            result.select("query_id", "docid", score.alias("score"))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .drop("_rn")
        )

    # --- positional query modes (need a with_positions store) -----------

    def _require_streams(self, kind: str) -> None:
        """Positional kinds need a ``with_positions`` store (diversity
        also its ``divs`` stream). A ValueError, not an assert, so the
        check holds under ``python -O``."""
        cols = self.packed.columns
        if "positions" not in cols:
            raise ValueError(
                f"{kind} queries need a positional store "
                "(build_segments(with_positions=True))"
            )
        if kind == "diversity" and "divs" not in cols:
            raise ValueError(
                "positional store lacks the 'divs' stream "
                "(pre-diversity layout); rebuild with "
                "build_segments(with_positions=True) to score "
                "diversity"
            )

    def _wand_pos(
        self,
        terms: list[str],
        kind: str,
        k: int = 10,
        words: list[str] | None = None,
        prox_w: float = 0.5,
        round_to: int | None = 4,
    ) -> DataFrame:
        """Shared driver for density/diversity/phrase/proximity over
        the packed positional store — the single-query plan of
        ``wand_topk`` with the kind's spec, so the kind-specific
        semantics rank BOTH the τ seed and the pruned branch (a
        plain-scorer τ would over-prune: phrase restricts matches and
        density rescales scores, so the seed must rank with the final
        semantics)."""
        self._require_streams(kind)
        ctx = self._query_ctx(
            terms, k, "and", None, round_to,
            kind=kind, words=words, prox_w=prox_w,
        )
        return self._topk(ctx, k, round_to)

    def wand_density_topk(self, terms: list[str], k: int = 10) -> DataFrame:
        """BM25 × per-posting density/spam rank multipliers decoded
        from the packed dens/spam streams (C4; ``Posdb.h``
        densityRank/wordSpamRank damping)."""
        return self._wand_pos(terms, "density", k)

    def wand_diversity_topk(self, terms: list[str], k: int = 10) -> DataFrame:
        """BM25 × per-posting diversityRank multiplier decoded from the
        packed divs stream (C4; ``Posdb.h`` diversityRank bits /
        ``XmlDoc::getDiversityVec`` — context-variety damping: a term
        always followed by the same word scores lower than one used in
        varied contexts)."""
        return self._wand_pos(terms, "diversity", k)

    def wand_phrase_topk(self, words: list[str], k: int = 10) -> DataFrame:
        """Exact-phrase top-k ON THE PACKED PATH: adjacency from the
        positions stream inside the bucket scorer (the
        intersectLists10_r span loop) — rank-identical to the
        relational phrase_bm25 (same oracle SQL)."""
        return self._wand_pos(
            list(dict.fromkeys(words)), "phrase", k, words=words
        )

    def wand_proximity_topk(
        self, terms: list[str], k: int = 10, prox_w: float = 0.5
    ) -> DataFrame:
        """Proximity-boosted BM25 on the packed path: score =
        BM25_AND + W/mindist with mindist from the positions stream
        (PosdbTable sliding-window analogue); same oracle as the
        relational proximity_bm25."""
        if len(dict.fromkeys(terms)) != 2:
            raise ValueError(
                "proximity requires exactly two distinct terms "
                f"(got {terms!r})"
            )
        # the deduped pair, as in the batch: a repeated term must not
        # measure its gap to itself
        return self._wand_pos(terms, "proximity", k, prox_w=prox_w)

    def field_boosted_topk(
        self,
        terms: list[str],
        field: str,
        weight: float,
        k: int = 10,
        label_map: DataFrame | None = None,
        round_to: int | None = 4,
    ) -> DataFrame:
        """Hashgroup-boosted top-k FROM THE ONE INDEX: body BM25 +
        weight·saturation over the build-time ``{field}:term``
        postings (``XmlDoc::hashIncomingLinkText`` / ``hashTitle`` —
        the reference indexes inlink-text/title keys at build time and
        scores them as weighted hashgroups in the same intersect).

        idf always comes from the BODY df (one termFreq source); a
        term with no body presence contributes nothing, matching the
        relational ``linkextract.field_boosted_topk``. ``label_map``
        (docid, label) — e.g. the docid↔url map for a web store —
        re-labels output docids and makes the final tie-break run on
        the label, identical to the relational/oracle ordering.
        """
        terms = list(dict.fromkeys(terms))
        body_rows = self._term_rows(terms)
        if not body_rows:
            # match the non-empty path's schema: label_map outputs
            # re-label docid as a string (review fix — an empty
            # bigint frame broke unions with labelled results)
            return self._topk(None, k, round_to, label_map)
        idf_of_term = {r["term"]: self._idf(r["df"]) for r in body_rows}
        idf = {int(r["termid"]): idf_of_term[r["term"]] for r in body_rows}
        f_rows = self._term_rows(
            [f"{field}:{t}" for t in terms if t in idf_of_term]
        )
        field_widf = {
            int(r["termid"]): weight
            * idf_of_term[r["term"].split(":", 1)[1]]
            for r in f_rows
        }
        # OR semantics (scatter-add, no required set); field termids
        # score weight·idf·saturation, body termids full BM25
        spec = {
            "qid": "", "idf": {**idf, **field_widf}, "required": set(),
            "neg_ids": set(), "cut": float("-inf"), "kind": "field",
            "word_tids": None, "prox_w": 0.0, "sat": frozenset(field_widf),
        }
        spec["cut"] = self._seed_cut(spec, k, round_to)
        return self._topk(self._scan(spec), k, round_to, label_map)

    def prune_stats(
        self,
        terms: list[str],
        k: int = 10,
        mode: str = "and",
        neg_terms: list[str] | None = None,
    ) -> dict:
        """Diagnostic: block-max pruning effectiveness for a plain
        query at BOTH granules — buckets (the ``bucket IN`` / partition
        granule) and sub-block rows (the Ding & Suel granule the kernel
        and the JVM row filter actually skip at). Pure-JVM aggregates
        over the scalar blockmax columns via ``_block_survivors`` —
        the reference implementation of the bound the query path's
        literal prune (``_apply_prune``) evaluates from the driver
        bound cache. Both evaluate ``_tfnorm_ub_col``, and
        survivor-set parity is pinned in tests/test_segments_wand.py,
        so the diagnostic can't drift from the plan."""
        ctx = self._query_ctx(terms, k, mode, neg_terms)
        if ctx is None:
            return {"buckets": 0, "buckets_scored": 0,
                    "blocks": 0, "blocks_scored": 0,
                    "bytes_total": 0, "bytes_scored": 0,
                    "bytes_total_blocks": 0,
                    "bytes_scored_blocks": 0, "cut": None}
        per_bucket = _bucket_upper_bounds(
            ctx["blocks"], ctx["idf"], with_bytes=True
        )
        need = len(ctx["required"]) or None
        rows = per_bucket.collect()
        cut = ctx["cut"]
        scored = [
            r for r in rows
            if float(r["ub"]) >= cut and (need is None or r["nterms"] == need)
        ]
        nb = (
            F.octet_length("docids")
            + F.octet_length("tfs")
            + F.octet_length("dls")
        )
        if cut == float("-inf"):
            blk = ctx["blocks"].agg(
                F.count(F.lit(1)).alias("blocks"),
                F.count(F.lit(1)).alias("blocks_scored"),
                F.sum(nb).alias("bytes_total_blocks"),
                F.sum(nb).alias("bytes_scored_blocks"),
            ).first()
        else:
            keep = (F.col("bucket_ub") >= F.lit(cut)) & F.col("row_keep")
            if need is not None:
                keep = keep & (F.col("nterms") == need)
            keep = F.coalesce(keep, F.lit(False))
            blk = (
                _block_survivors(ctx["blocks"], ctx["idf"], cut)
                .agg(
                    F.count(F.lit(1)).alias("blocks"),
                    F.sum(keep.cast("long")).alias("blocks_scored"),
                    F.sum(nb).alias("bytes_total_blocks"),
                    F.sum(
                        F.when(keep, nb).otherwise(F.lit(0))
                    ).alias("bytes_scored_blocks"),
                )
                .first()
            )
        return {
            "buckets": len(rows),
            "buckets_scored": len(scored),
            "blocks": int(blk["blocks"] or 0),
            "blocks_scored": int(blk["blocks_scored"] or 0),
            "bytes_total": int(sum(r["nb"] for r in rows)),
            "bytes_scored": int(sum(r["nb"] for r in scored)),
            # block-level totals span ALL fetched rows (incl. negative
            # terms, which always decode) — the bucket-level pair above
            # spans positive-term rows only, so use matching pairs when
            # computing skip fractions
            "bytes_total_blocks": int(blk["bytes_total_blocks"] or 0),
            "bytes_scored_blocks": int(blk["bytes_scored_blocks"] or 0),
            "cut": cut,
        }
