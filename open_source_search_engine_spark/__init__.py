"""spark-fulltext: PySpark-native full-text index + BM25/WAND query engine.

A from-scratch, Spark-first rebuild of the core capabilities of the
Gigablast open-source search engine (reference:
``Acidburn0zzz/open-source-search-engine``, a fork of
``gigablast/open-source-search-engine``; see SURVEY.md §0 for the
provenance caveat — citations are symbol anchors, e.g. ``Posdb.cpp:
Posdb::makeKey``, not verified line numbers).

Layout
------
- ``session``        SparkSession factory tuned for the sandbox/local mode
- ``extraction``     pinned HTML → text spec + Arrow UDF (ref: Xml.cpp/XmlDoc.cpp)
- ``tokenizer``      tokenization + termids (ref: Words.cpp, hash.h)
- ``functions/``     ``varbyte``: delta-gap + varbyte postings codec
- ``operators/``     index build, packed segments, BM25, block-max WAND,
                     query parser + search (ref: Query.cpp), dedup,
                     similarity, crawl-side replays, and the
                     ``queries_*`` registry of driver (Spark, DuckDB) pairs
- ``sources/``       synthetic webtext corpus and its ``catalog`` reader;
                     ``codecs``: standalone image codecs, used by no
                     search path
- ``streaming/``     incremental index ingest (ref: Msg4.cpp/Rdb.cpp LSM
                     path), ingest-time dedup gates, per-key throttle
- ``data/``          bundled synonym and title lists
"""

__version__ = "0.1.0"
