"""HTTP fetch-side processing (SURVEY.md §2 A1, minus the socket).

Reference anchor: ``Msg13.cpp`` (``Msg13::getDoc`` — the fetch path
that follows redirects up to a cap, handles gzip content-encoding and
classifies the terminal status before a page is admitted to indexing).
The socket I/O itself needs a network and is out of engine scope (the
north rule's input is the already-fetched page table); everything the
reference does ON the fetch results is pure computation and lives
here:

- **redirect-chain resolution**: follow ``Location:`` up to
  ``max_hops``, classifying each seed url's terminal state
  (final url, hop count, final status; ``599`` = too many redirects,
  ``0`` = redirect with a broken/absent Location);
- **admission**: only chains terminating in ``200`` are indexable;
- **gzip decode**: ``Content-Encoding: gzip`` bodies are decompressed
  in Arrow batches (``gunzip_bodies``).

The fetch LOG is synthesized deterministically from the webtext url
set (a pure md5 function of the url, replayable bit-identically in
DuckDB — the same pinned-md5 idiom as the SimHash oracle), so the
resolution operator is oracle-paired end to end.

Scale shape: resolution is the same bounded iterative-join loop as
``crawl_frontier`` — each wave is an equi-join on the current url,
state rows are (seed, cur, hops) with no payloads, and the loop exits
early when no chain is still moving. Real-web redirect chains are
short (P(redirect) here is 0.2, expected chain ≈ 1.25 hops), so the
loop runs 2-3 waves; settled rows leave the loop immediately instead
of riding every wave. No Python in the resolution path; gzip decode is
one ``mapInPandas`` pass (zlib is stdlib) with the body bytes
carried through Arrow as a binary column.
"""

from __future__ import annotations

import gzip
from collections.abc import Iterator
from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# status taxonomy (pure function of md5(url) % 10)
_REDIR_BUCKETS = 2  # buckets 0,1 → 301 (P = 0.2)
_NOTFOUND_BUCKET = 2  # → 404
_RETRY_BUCKET = 3  # → 503
MAX_HOPS = 6  # the reference caps redirect hops; 6 is the usual cap

PAGE_RE = "/p/([0-9]+)$"


def fetch_log(web: DataFrame, n_web: int, host_stride: int) -> DataFrame:
    """(url, status, location) — the deterministic fetch outcome for
    every page url. Redirects point ``host_stride`` pages ahead on the
    SAME host (page numbers are congruent mod the host count), so
    chains are acyclic by construction; a redirect whose target would
    fall past the corpus end gets a NULL Location (broken redirect).
    """
    page = F.regexp_extract("url", PAGE_RE, 1).cast("long")
    b = F.conv(F.substring(F.md5(F.col("url")), 1, 4), 16, 10).cast(
        "long"
    ) % 10
    status = (
        F.when(b < _REDIR_BUCKETS, F.lit(301))
        .when(b == _NOTFOUND_BUCKET, F.lit(404))
        .when(b == _RETRY_BUCKET, F.lit(503))
        .otherwise(F.lit(200))
        .cast("int")
    )
    location = F.when(
        (b < _REDIR_BUCKETS) & (page + host_stride < n_web),
        F.concat(
            F.regexp_replace(F.col("url"), "/p/[0-9]+$", "/p/"),
            (page + host_stride).cast("string"),
        ),
    )
    return web.select(
        "url", status.alias("status"), location.alias("location")
    )


def resolve_redirects(
    fetches: DataFrame, max_hops: int = MAX_HOPS
) -> DataFrame:
    """fetches(url, status, location) → (url, final_url, hops,
    final_status) for every seed url.

    Bounded iterative equi-joins (the ``crawl_frontier`` loop shape):
    wave d LEFT-joins the still-moving chains to the fetch table on
    the current url; rows that hit a non-redirect status, a NULL or
    dangling Location, or the hop cap settle OUT of the loop
    immediately. Sentinels: ``599`` = still redirecting at the cap
    (too many redirects), ``0`` = dead end — a redirect with no
    Location OR one pointing outside the fetch log (every seed url
    settles exactly once; nothing is silently dropped).

    The per-wave caches back the settled branches referenced by the
    final union; the result is eagerly localCheckpoint-ed so they can
    all be released before returning (bounded executor storage no
    matter how many times the operator runs in one session)."""
    f = fetches.select(
        F.col("url").alias("cur"), "status", "location"
    )
    state = fetches.select(
        "url", F.col("url").alias("cur"), F.lit(0).cast("int").alias("hops")
    )
    # null-safe status: a LEFT-join miss (Location target absent from
    # the fetch log) reads as st = -1 → not moving, terminal 0
    st = F.coalesce(F.col("status"), F.lit(-1))
    moving = (
        st.isin(301, 302)
        & F.col("location").isNotNull()
        & (F.col("hops") < max_hops)
    )
    terminal = (
        F.when(st == -1, F.lit(0))
        .when(
            st.isin(301, 302),
            F.when(F.col("location").isNull(), F.lit(0)).otherwise(
                F.lit(599)
            ),
        )
        .otherwise(F.col("status"))
        .cast("int")
    )
    settled: list[DataFrame] = []
    caches: list[DataFrame] = []
    for _ in range(max_hops + 1):
        joined = state.join(f, "cur", "left").cache()
        caches.append(joined)
        settled.append(
            joined.filter(~moving).select(
                "url",
                F.col("cur").alias("final_url"),
                "hops",
                terminal.alias("final_status"),
            )
        )
        state = joined.filter(moving).select(
            "url",
            F.col("location").alias("cur"),
            (F.col("hops") + F.lit(1)).cast("int").alias("hops"),
        )
        if state.isEmpty():
            break
    out = reduce(lambda a, b: a.unionByName(b), settled).localCheckpoint()
    for c in caches:
        c.unpersist()
    return out


def admitted(resolved: DataFrame) -> DataFrame:
    """Chains terminating in 200 — the set the indexer may ingest."""
    return resolved.filter(F.col("final_status") == 200)


def gunzip_bodies(
    df: DataFrame,
    body_col: str = "body",
    encoding_col: str = "content_encoding",
) -> DataFrame:
    """Decompress ``Content-Encoding: gzip`` bodies; identity for
    everything else. One Arrow-batched pass (``mapInPandas``), stdlib
    zlib — blobs never shuffle, the decode happens wherever the rows
    already are. Output schema = input schema with ``body_col``
    replaced by the decoded bytes and the encoding column dropped."""
    out_fields = [
        fld for fld in df.schema.fields if fld.name != encoding_col
    ]
    out_schema = ", ".join(
        f"{fld.name} {fld.dataType.simpleString()}" for fld in out_fields
    )
    names = [fld.name for fld in out_fields]

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            enc = pdf[encoding_col]
            pdf[body_col] = [
                gzip.decompress(b) if e == "gzip" and b is not None else b
                for b, e in zip(pdf[body_col], enc)
            ]
            yield pdf[names]

    return df.mapInPandas(decode, schema=out_schema)


def redirect_resolve_sql(
    path: str,
    n_web: int,
    host_stride: int,
    max_hops: int = MAX_HOPS,
    ordered: bool = True,
) -> str:
    """DuckDB replay: same md5-derived fetch log, recursive-CTE chain
    walk, same sentinel taxonomy. ``ordered=False`` drops the trailing
    ORDER BY for derived-table composition (spider_cycle oracle)."""
    return f"""
WITH RECURSIVE pg AS (
  SELECT url,
         CAST(regexp_extract(url, '/p/([0-9]+)$', 1) AS BIGINT) AS page,
         ('0x' || substr(md5(url), 1, 4))::BIGINT % 10 AS b
  FROM read_parquet('{path}')
),
fetches AS (
  SELECT url,
         CASE WHEN b < {_REDIR_BUCKETS} THEN 301
              WHEN b = {_NOTFOUND_BUCKET} THEN 404
              WHEN b = {_RETRY_BUCKET} THEN 503
              ELSE 200 END AS status,
         CASE WHEN b < {_REDIR_BUCKETS} AND page + {host_stride} < {n_web}
              THEN regexp_replace(url, '/p/[0-9]+$', '/p/')
                   || CAST(page + {host_stride} AS VARCHAR)
              ELSE NULL END AS location
  FROM pg
),
chain AS (
  SELECT url, url AS cur, 0 AS hops FROM fetches
  UNION ALL
  SELECT c.url, x.location AS cur, c.hops + 1 AS hops
  FROM chain c JOIN fetches x ON x.url = c.cur
  WHERE x.status IN (301, 302) AND x.location IS NOT NULL
    AND c.hops < {max_hops}
),
last AS (
  SELECT url, cur, hops,
         row_number() OVER (PARTITION BY url ORDER BY hops DESC) AS rn
  FROM chain
)
SELECT l.url AS url, l.cur AS final_url, CAST(l.hops AS INT) AS hops,
       CAST(CASE WHEN x.url IS NULL THEN 0  -- dangling Location: dead end
                 WHEN x.status IN (301, 302) THEN
                   CASE WHEN x.location IS NULL THEN 0 ELSE 599 END
                 ELSE x.status END AS INT) AS final_status
FROM last l LEFT JOIN fetches x ON x.url = l.cur
WHERE l.rn = 1
{"ORDER BY url" if ordered else ""}
"""
