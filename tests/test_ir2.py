"""Coverage batch 2: forward fetch, tombstones, bigrams, URL
normalization, synonyms, distinct counts — each against
its registered DuckDB oracle (driver-style comparison)."""

from __future__ import annotations

import pytest
from conftest import SF_CORRECT, assert_df_matches_duckdb, query_and_oracle


@pytest.mark.parametrize(
    "name",
    [
        "doc_fetch",
        "delete_tombstones",
        "bigram_postings",
        "url_normalize",
        "bm25_synonyms",
        "distinct_users",
    ],
)
def test_oracle_paired_ir2(spark, duck_correct, name):
    fn, sql = query_and_oracle(name)
    assert_df_matches_duckdb(fn(spark, SF_CORRECT), duck_correct, sql)
