"""Relational BM25 top-k retrieval (SURVEY.md §2 D4a/D5/D6/D8).

Reference anchors: ``Posdb.cpp: PosdbTable::intersectLists10_r`` (the
k-way docid intersection hot loop), ``TopTree.cpp: TopTree::addNode``
(bounded top-k), ``Msg3a.cpp: Msg3a::mergeLists`` (cross-shard merge).

Spark-first shape: the n-way termlist intersection is a groupBy(docid)
with ``HAVING count(distinct termid) == n_required``; top-k is
``ORDER BY score DESC, docid ASC LIMIT k`` which Catalyst executes as
``TakeOrderedAndProject`` — a per-partition bounded heap + driver
merge, exactly the TopTree/Msg3a distributed shape, built in.

Scale notes:
- the query-term table is a handful of rows → ``broadcast`` join, so
  the only shuffle is the groupBy(docid) over *matching* postings
  (pruned by the broadcast hash semi-join at the scan).
- scores sum doubles; ties broken (score desc, docid asc)
  deterministically everywhere (including the WAND path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .index_build import InvertedIndex


def query_terms_df(index: InvertedIndex, terms: list[str]) -> DataFrame:
    """term_stats rows for the query terms, with idf precomputed.
    (ref: Posdb::getTermFreq — df lookup without scanning lists)."""
    qt = index.term_stats.filter(F.col("term").isin(list(terms)))
    return qt.select("termid", "term", "df", index.idf_col().alias("idf"))


def bm25_candidates(index: InvertedIndex, terms: list[str]) -> DataFrame:
    """postings ⋈ query terms → per (docid, term) partial scores."""
    qt = query_terms_df(index, terms)
    return (
        index.postings.join(F.broadcast(qt), ["termid", "term"])
        .withColumn("partial", F.col("idf") * index.tfnorm_col())
        .select("docid", "term", "tf", "doclen", "partial")
    )


def bm25_topk(
    index: InvertedIndex,
    terms: list[str],
    k: int | None = 10,
    mode: str = "and",
    neg_terms: list[str] | None = None,
    round_to: int | None = 4,
    restrict: DataFrame | None = None,
    neg_docids: DataFrame | None = None,
) -> DataFrame:
    """Top-k BM25 (docid, score). mode='and' requires all terms
    (D4: intersection); mode='or' unions (D5); neg_terms anti-join
    (D6: negative termlists); ``restrict`` semi-joins candidates to a
    (docid) DataFrame (phrase / field constraints) BEFORE the top-k
    cut, so constrained queries still rank over all matches;
    ``neg_docids`` anti-joins a (docid) DataFrame (negated-phrase
    exclusions — candidate-level, so no universe scan).
    ``k=None`` returns the full scored set unordered (callers that
    window/cluster before the final cut)."""
    terms = list(dict.fromkeys(terms))
    cand = bm25_candidates(index, terms)
    agg = cand.groupBy("docid").agg(
        F.sum("partial").alias("score"),
        F.countDistinct("term").alias("nmatch"),
    )
    if mode == "and":
        agg = agg.filter(F.col("nmatch") == len(terms))
    if restrict is not None:
        agg = agg.join(restrict.select("docid").distinct(), "docid")
    if neg_docids is not None:
        agg = agg.join(
            neg_docids.select("docid").distinct(), "docid", "left_anti"
        )
    if neg_terms:
        neg = (
            index.postings.join(
                F.broadcast(
                    index.term_stats.filter(F.col("term").isin(list(neg_terms)))
                ),
                ["termid", "term"],
            )
            .select("docid")
            .distinct()
        )
        agg = agg.join(neg, "docid", "left_anti")
    # Order by the ROUNDED score: both this path and the DuckDB oracle
    # rank on identical values, so float noise below 1e-4 can never
    # flip the LIMIT boundary; docid asc breaks ties deterministically.
    score = F.round(F.col("score"), round_to) if round_to else F.col("score")
    out = agg.select("docid", score.alias("score"))
    if k is None:
        return out
    return out.orderBy(F.desc("score"), F.asc("docid")).limit(k)


def bm25_oracle_sql(
    terms: list[str],
    k: int = 10,
    mode: str = "and",
    neg_terms: list[str] | None = None,
    doc_table: str = "documents",
    restrict_cte: str | None = None,
) -> str:
    """DuckDB-equivalent ANSI SQL for bm25_topk over the driver's
    documents(doc_id, text) view — the correctness oracle.

    ``restrict_cte``: optional SQL body for a CTE named ``allowed``
    selecting a ``docid`` column; candidates are limited to it (the
    SQL mirror of bm25_topk's ``restrict`` argument)."""
    terms = list(dict.fromkeys(terms))
    tlist = ", ".join(f"'{t}'" for t in terms)
    having = (
        f"HAVING count(DISTINCT p.term) = {len(terms)}" if mode == "and" else ""
    )
    neg_cte = ""
    neg_clause = ""
    if neg_terms:
        nlist = ", ".join(f"'{t}'" for t in neg_terms)
        neg_cte = f""",
neg AS (SELECT DISTINCT docid FROM postings WHERE term IN ({nlist}))"""
        neg_clause = "AND s.docid NOT IN (SELECT docid FROM neg)"
    if restrict_cte:
        neg_cte += f""",
allowed AS ({restrict_cte})"""
        neg_clause += " AND s.docid IN (SELECT docid FROM allowed)"
    return f"""
WITH tok AS (
  SELECT doc_id AS docid, t.tokk AS term
  FROM {doc_table}, LATERAL unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t(tokk)
  WHERE t.tokk <> ''
),
postings AS (
  SELECT docid, term, count(*) AS tf FROM tok GROUP BY docid, term
),
doclen AS (SELECT docid, count(*) AS dl FROM tok GROUP BY docid),
consts AS (
  SELECT (SELECT count(*) FROM doclen) AS n,
         (SELECT avg(dl) FROM doclen) AS avgdl
),
ts AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
scored AS (
  SELECT p.docid,
         sum( ln((c.n - t.df + 0.5)/(t.df + 0.5) + 1.0)
              * (p.tf * (1.2 + 1.0))
                / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / c.avgdl)) ) AS score
  FROM postings p
  JOIN ts t ON p.term = t.term
  JOIN doclen d ON p.docid = d.docid
  CROSS JOIN consts c
  WHERE p.term IN ({tlist})
  GROUP BY p.docid
  {having}
){neg_cte}
SELECT s.docid, round(s.score, 4) AS score
FROM scored s
WHERE 1=1 {neg_clause}
ORDER BY round(s.score, 4) DESC, s.docid ASC
LIMIT {k}
"""
