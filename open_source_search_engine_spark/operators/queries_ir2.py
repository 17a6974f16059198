"""Second operator-coverage batch (SURVEY.md §2 A10/A11, B2/D19, C5,
C12/H4, D2): forward-doc fetch, tombstone deletes, bigram terms, URL
normalization, synonym expansion, exact distinct counts. The link
graph and siteRank (C13/C14/E3) run over real extracted links in
``linkextract`` / ``queries_web``."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from .bm25 import bm25_topk
from .index_build import cached_index
from .pipeline import shingles_col
from .registry import TOK_CTE, register


def _docs(spark, sf_dir):
    return (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .withColumnRenamed("doc_id", "docid")
    )


# --- A10/A11: forward-doc fetch (Msg22 TitleRec join / PageGet) -----------

DOC_FETCH_SQL = f"""
WITH {TOK_CTE},
hits AS (SELECT DISTINCT docid FROM postings WHERE term = 'vector')
SELECT h.docid, d.lang, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
FROM hits h JOIN documents d ON d.doc_id = h.docid
"""


@register("doc_fetch", DOC_FETCH_SQL)
def doc_fetch(spark, sf_dir):
    """Matching docids -> forward store row (ref: Msg22::getTitleRec;
    broadcast the small docid side against the doc-partitioned
    forward table)."""
    idx = cached_index(spark, sf_dir)
    hits = (
        idx.postings.filter(F.col("term") == "vector")
        .select("docid")
        .distinct()
    )
    return F.broadcast(hits).join(_docs(spark, sf_dir), "docid").select(
        "docid", "lang", "source", F.col("n_chars").cast("long").alias("n_chars")
    )


# --- B2/D19: tombstone deletes (negative keys / query-driven delete) ------

TOMBSTONE_SQL = f"""
WITH {TOK_CTE},
tomb AS (SELECT doc_id AS docid FROM documents WHERE doc_id % 17 = 0)
SELECT p.docid, p.term, p.tf
FROM postings p
WHERE p.docid NOT IN (SELECT docid FROM tomb)
"""


@register("delete_tombstones", TOMBSTONE_SQL)
def delete_tombstones(spark, sf_dir):
    """Delete-annihilation: postings anti-joined against a tombstone
    set (ref: negative keys in RdbList::merge_r; PageReindex
    query-driven deletes become MERGE/anti-join in Spark). The
    tombstone set here is the deterministic docid%17 sample."""
    idx = cached_index(spark, sf_dir)
    tomb = _docs(spark, sf_dir).filter(F.col("docid") % 17 == 0).select("docid")
    return (
        idx.postings.join(tomb, "docid", "left_anti")
        .select("docid", "term", F.col("tf").cast("long").alias("tf"))
    )


# --- C5: bigram/phrase term generation (Phrases.cpp) ----------------------

BIGRAM_SQL = """
WITH toks AS (
  SELECT doc_id AS docid, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
  FROM documents
),
big AS (
  SELECT docid, s AS bigram
  FROM toks,
       LATERAL unnest(CASE WHEN len(t) < 2 THEN []
                           ELSE list_transform(range(1, len(t)),
                                i -> array_to_string(t[i:i+1], ' ')) END
                     ) AS u(s)
)
SELECT docid, bigram, CAST(count(*) AS BIGINT) AS tf
FROM big GROUP BY docid, bigram
"""


_BIGRAMS: dict = {}


def cached_bigrams(spark, sf_dir):
    """Memoized (docid, bigram, tf) table — the C5 phrase-term index
    the bigram-accelerated quoted-query path scans. Keyed like
    cached_index ((applicationId, startTime): ids never recycle)."""
    sc = spark.sparkContext
    key = (sc.applicationId, sc.startTime, sf_dir)
    if key not in _BIGRAMS:
        _BIGRAMS[key] = bigram_postings(spark, sf_dir).cache()
    return _BIGRAMS[key]


@register("bigram_postings", BIGRAM_SQL)
def bigram_postings(spark, sf_dir):
    """Two-word phrase terms indexed alongside singles (ref:
    Phrases::set — enables quoted-phrase queries without a positions
    join). Same explode pipeline over 2-shingles."""
    docs = _docs(spark, sf_dir)
    return (
        docs.select("docid", F.explode(shingles_col("text", 2)).alias("bigram"))
        .groupBy("docid", "bigram")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


# --- C12/H4: URL normalization + parts ------------------------------------
# The driver documents table carries no urls; construct them
# deterministically (both sides) and exercise the normalizer on them.

URL_EXPR_SPARK = (
    "concat('HTTPS://', upper(source), '.Example.COM"
    "', CASE WHEN docid % 2 = 0 THEN ':443' ELSE '' END, "
    "'/Docs/', CAST(docid AS STRING), '?ref=abc#frag')"
)

URL_SQL = """
WITH urls AS (
  SELECT doc_id AS docid,
         concat('HTTPS://', upper(source), '.Example.COM',
                CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END,
                '/Docs/', CAST(doc_id AS VARCHAR), '?ref=abc#frag') AS url
  FROM documents
),
norm AS (
  SELECT docid,
         concat(
           lower(regexp_extract(url, '^([A-Za-z]+)://', 1)), '://',
           replace(lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
                   ':443', ''),
           regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1),
           CASE WHEN url LIKE '%?%'
                THEN concat('?', regexp_extract(url, '\\?([^#]*)', 1))
                ELSE '' END
         ) AS norm_url,
         replace(lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
                 ':443', '') AS host
  FROM urls
)
SELECT docid, norm_url, host,
       regexp_extract(host, '([a-z0-9-]+\\.[a-z]+)$', 1) AS domain
FROM norm
"""


@register("url_normalize", URL_SQL)
def url_normalize(spark, sf_dir):
    """URL normalization (ref: Url::set — lowercase scheme+host, strip
    default port and fragment, keep query) + host/registrable-domain
    parts (``Url::getHost/getDomain``, tldtab). The regex spec is
    pinned identically on both sides."""
    docs = _docs(spark, sf_dir).withColumn("url", F.expr(URL_EXPR_SPARK))
    scheme = F.lower(F.regexp_extract("url", r"^([A-Za-z]+)://", 1))
    host = F.regexp_replace(
        F.lower(F.regexp_extract("url", r"^[A-Za-z]+://([^/?#]+)", 1)),
        ":443",
        "",
    )
    path = F.regexp_extract("url", r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    query = F.when(
        F.col("url").contains("?"),
        F.concat(F.lit("?"), F.regexp_extract("url", r"\?([^#]*)", 1)),
    ).otherwise(F.lit(""))
    return docs.select(
        "docid",
        F.concat(scheme, F.lit("://"), host, path, query).alias("norm_url"),
        host.alias("host"),
        F.regexp_extract(host, r"([a-z0-9-]+\.[a-z]+)$", 1).alias("domain"),
    )


# --- D2: synonym expansion -------------------------------------------------

SYN_WEIGHT = 0.5


def load_synonyms() -> dict[str, list[str]]:
    """Synonym dictionary from the packaged data file (ref:
    Synonyms.cpp loads its Wiktionary-derived file at startup; the
    dict is driver-resident — it is query-side metadata, tiny).
    importlib.resources so it also resolves when the package ships as
    a --py-files zip."""
    from importlib import resources

    text = (
        resources.files("open_source_search_engine_spark")
        .joinpath("data/synonyms.tsv")
        .read_text()
    )
    out: dict[str, list[str]] = {}
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        term, syn = line.split("\t")
        out.setdefault(term, []).append(syn)
    return out


SYNONYMS = load_synonyms()


def bm25_synonyms_topk(idx, base_terms, k=10):
    """Query-time synonym expansion (ref: Synonyms.cpp +
    QueryTerm::m_synonymOf — synonym termlists score with a reduced
    weight). Weighted OR: original terms weight 1.0, synonyms 0.5;
    a doc matches if it has any of the group's terms."""
    rows = []
    for t in base_terms:
        rows.append((t, 1.0))
        for s in SYNONYMS.get(t, []):
            rows.append((s, SYN_WEIGHT))
    spark = idx.postings.sparkSession
    qdf = spark.createDataFrame(rows, "term string, weight double")
    qt = idx.term_stats.join(F.broadcast(qdf), "term").select(
        "termid", "term", "weight", idx.idf_col().alias("idf")
    )
    cand = idx.postings.join(F.broadcast(qt), ["termid", "term"]).withColumn(
        "partial", F.col("weight") * F.col("idf") * idx.tfnorm_col()
    )
    agg = cand.groupBy("docid").agg(F.sum("partial").alias("score"))
    return (
        agg.select("docid", F.round("score", 4).alias("score"))
        .orderBy(F.desc(F.round("score", 4)), F.asc("docid"))
        .limit(k)
    )


def _syn_values(base_terms: list[str]) -> str:
    """VALUES list mirroring the expansion the Spark side performs
    from the same synonyms.tsv — the oracle sees the identical
    (term, weight) rows."""
    rows = []
    for t in base_terms:
        rows.append(f"('{t}', 1.0)")
        for s in SYNONYMS.get(t, []):
            rows.append(f"('{s}', {SYN_WEIGHT})")
    return ", ".join(rows)


SYNONYM_SQL = f"""
WITH tok AS (
  SELECT doc_id AS docid, t.tokk AS term
  FROM documents, LATERAL unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t(tokk)
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
q(term, weight) AS (VALUES {_syn_values(["join"])}),
scored AS (
  SELECT p.docid,
         sum( q.weight * ln((c.n - t.df + 0.5)/(t.df + 0.5) + 1.0)
              * (p.tf * (1.2 + 1.0))
                / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / c.avgdl)) )
           AS score
  FROM postings p
  JOIN q ON p.term = q.term
  JOIN ts t ON p.term = t.term
  JOIN doclen d ON p.docid = d.docid
  CROSS JOIN consts c
  GROUP BY p.docid
)
SELECT docid, round(score, 4) AS score
FROM scored
ORDER BY round(score, 4) DESC, docid ASC
LIMIT 10
"""


@register("bm25_synonyms", SYNONYM_SQL)
def bm25_synonyms(spark, sf_dir):
    return bm25_synonyms_topk(cached_index(spark, sf_dir), ["join"], k=10)


def synonym_weights(base_terms: list[str]) -> dict[str, float]:
    """Expansion → per-term weight map (weights SUM across expansion
    rows, matching the relational join's duplicate-row accumulation:
    a term that is both a base term and another's synonym scores
    1.0 + SYN_WEIGHT there, so it must here too)."""
    w: dict[str, float] = {}
    for t in base_terms:
        w[t] = w.get(t, 0.0) + 1.0
        for s in SYNONYMS.get(t, []):
            w[s] = w.get(s, 0.0) + SYN_WEIGHT
    return w


def synonym_groups(base_terms: list[str]) -> list[dict[str, float]]:
    """One weight-summed group per base term — the ONE builder every
    syn-group caller uses (search.py syn:1, bm25_syngroups, the plan
    audit). Weights SUM across expansion rows for the same reason as
    synonym_weights: the SQL oracle's VALUES join accumulates
    duplicate rows, so a term listed as its own synonym (or twice)
    must weigh 1.0 + SYN_WEIGHT here too, not dict-overwrite to 0.5."""
    groups: list[dict[str, float]] = []
    for t in base_terms:
        g: dict[str, float] = {t: 1.0}
        for s in SYNONYMS.get(t, []):
            g[s] = g.get(s, 0.0) + SYN_WEIGHT
        groups.append(g)
    return groups


def bm25_groups_topk(
    idx,
    groups: list[dict[str, float]],
    k: int | None = 10,
    mode: str = "and",
    restrict=None,
    neg_terms: list[str] | None = None,
    round_to: int = 4,
    neg_docids=None,
):
    """AND/OR of synonym GROUPS (ref: QueryTerm::m_synonymOf +
    Query.cpp requiredness — a synonym termlist satisfies its base
    term's requiredness, at reduced score weight). A doc matches
    group g if it contains ANY member of g; mode='and' requires every
    group matched (``HAVING count(distinct gid) = n`` — the same
    one-shuffle shape as bm25_topk's intersection), and the score sums
    weight·idf·tfnorm over all matched members. This is what
    'synonyms ON' means in the reference: expansion widens RECALL
    inside the boolean retrieval, unlike bm25_synonyms_topk's pure
    weighted OR which only re-ranks."""
    rows = [
        (gi, t, w) for gi, g in enumerate(groups) for t, w in g.items()
    ]
    spark = idx.postings.sparkSession
    qdf = spark.createDataFrame(rows, "gid int, term string, weight double")
    qt = idx.term_stats.join(F.broadcast(qdf), "term").select(
        "termid", "term", "gid", "weight", idx.idf_col().alias("idf")
    )
    cand = idx.postings.join(F.broadcast(qt), ["termid", "term"]).withColumn(
        "partial", F.col("weight") * F.col("idf") * idx.tfnorm_col()
    )
    # group-coverage via a bitmask popcount, NOT countDistinct(gid):
    # Spark expands a distinct-aggregate into TWO shuffles (partial on
    # (docid, gid), then (docid)); bit_or is plain map-side-combinable
    # — one shuffle, like bm25_topk. Queries have ≤ 64 terms (the
    # reference caps at MAX_QUERY_TERMS≈16).
    if len(groups) > 64:
        raise ValueError("bm25_groups_topk supports at most 64 groups")
    agg = cand.groupBy("docid").agg(
        F.sum("partial").alias("score"),
        F.bit_count(
            F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), gid)"))
        ).alias("ngroups"),
    )
    if mode == "and":
        agg = agg.filter(F.col("ngroups") == len(groups))
    if restrict is not None:
        agg = agg.join(restrict.select("docid").distinct(), "docid")
    if neg_docids is not None:
        # negated-phrase exclusions (docid-level, candidate anti-join)
        agg = agg.join(
            neg_docids.select("docid").distinct(), "docid", "left_anti"
        )
    if neg_terms:
        # negation stays EXACT (the reference never expands negative
        # terms) and applies before the top-k cut, like bm25_topk
        bad = (
            idx.postings.filter(F.col("term").isin(list(neg_terms)))
            .select("docid")
            .distinct()
        )
        agg = agg.join(bad, "docid", "left_anti")
    out = agg.select("docid", F.round("score", round_to).alias("score"))
    if k is None:
        # match-set mode (sortby:+syn:1): no ranking cut, caller
        # re-orders by its own key
        return out
    return out.orderBy(
        F.desc(F.round("score", round_to)), F.asc("docid")
    ).limit(k)


def _syngroup_values(base_terms: list[str]) -> str:
    rows = []
    for gi, t in enumerate(base_terms):
        rows.append(f"({gi}, '{t}', 1.0)")
        for s in SYNONYMS.get(t, []):
            rows.append(f"({gi}, '{s}', {SYN_WEIGHT})")
    return ", ".join(rows)


def syngroup_sql(base_terms: list[str], k: int = 10) -> str:
    return f"""
WITH tok AS (
  SELECT doc_id AS docid, t.tokk AS term
  FROM documents, LATERAL unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t(tokk)
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
q(gid, term, weight) AS (VALUES {_syngroup_values(base_terms)}),
scored AS (
  SELECT p.docid,
         sum( q.weight * ln((c.n - t.df + 0.5)/(t.df + 0.5) + 1.0)
              * (p.tf * (1.2 + 1.0))
                / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / c.avgdl)) )
           AS score
  FROM postings p
  JOIN q ON p.term = q.term
  JOIN ts t ON p.term = t.term
  JOIN doclen d ON p.docid = d.docid
  CROSS JOIN consts c
  GROUP BY p.docid
  HAVING count(DISTINCT q.gid) = {len(base_terms)}
)
SELECT docid, round(score, 4) AS score
FROM scored
ORDER BY round(score, 4) DESC, docid ASC
LIMIT {k}
"""


_SYNGROUP_TERMS = ["join", "filter"]


@register(
    "bm25_syngroups", syngroup_sql(_SYNGROUP_TERMS), extended=True
)
def bm25_syngroups(spark, sf_dir):
    """AND of two synonym groups — a doc holding only 'merge' (a
    synonym of 'join') plus 'filter' still matches, at reduced
    weight."""
    return bm25_groups_topk(
        cached_index(spark, sf_dir),
        synonym_groups(_SYNGROUP_TERMS),
        k=10,
        mode="and",
    )


@register("wand_synonyms", SYNONYM_SQL, extended=True)
def wand_synonyms(spark, sf_dir):
    """Synonym weighting on the PACKED path (ref: Posdb scoring reads
    QueryTerm::m_termFreqWeight inside the intersect loop): the same
    synonyms.tsv expansion becomes a weight map folded into the idf
    that drives the bucket scorer, block-max bound, JVM prune, and
    seed-τ (wand._query_ctx) — rank-identical to the relational
    bm25_synonyms against the one SQL oracle."""
    from .queries_ir import _packed_index

    w = synonym_weights(["join"])
    return _packed_index(spark, sf_dir).wand_topk(
        list(w), k=10, mode="or", weights=w
    )


# --- E3-adjacent: exact distinct counts over events -----------------------

DISTINCT_USERS_SQL = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type
"""


@register("distinct_users", DISTINCT_USERS_SQL, extended=True)
def distinct_users(spark, sf_dir):
    """Exact distinct-user counts per event type (the oracle-paired
    form; the 10^12-scale variant swaps in approx_count_distinct —
    ref: Msg25's approximate unique-inlinker counting)."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
