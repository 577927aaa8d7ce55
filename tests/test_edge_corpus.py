"""Regression net for short/degenerate documents: the driver
REGENERATES testdata between rounds, so 0/1/2-word and NULL-text
documents are live risks even though the current corpus has none.
Every token-pipeline query must match its DuckDB oracle on a corpus
built from exactly those edge cases (Spark's descending
``sequence(1, 0)`` manufactured junk n-grams here before the guards).
"""

from __future__ import annotations

import duckdb
import pytest

from bolson_spark.oracle import compare_query
from bolson_spark.queries import QUERIES

EDGE_DOCS = [
    # (doc_id, text, lang, source, n_chars)
    (0, "", "en", "web", 0),
    (1, "one", "en", "web", 3),
    (2, "two words", "en", "wiki", 9),
    (3, "a b c", "de", "web", 5),
    (4, None, "de", "wiki", 0),
    (5, "   ", "en", "web", 3),  # whitespace-only -> zero words
    (6, "w " * 30, "en", "books", 60),  # repeated single word
    (7, "the quick brown fox jumps over the lazy dog", "en", "books", 43),
]

EDGE_QUERIES = [
    "gopher_repetition",
    "bigram_nll",
    "quality_percentile_filter",
    "gopher_quality",
    "rare_token_docs",
    "text_stats",
    "token_histogram",
    # pmi_collocations special-cases exactly these shapes: the size>=2
    # bigram filter (descending sequence trap) and the NULL-text-aware
    # M = N - count(ws) derivation
    "pmi_collocations",
    # boilerplate_chunks: zero-chunk docs must keep their manifest row
    # (join-back on the Spark side, words-derived totals in the oracle)
    "boilerplate_chunks",
    # incremental_ingest: NULL-text docs excluded on BOTH engines (the
    # anti-join and NOT-IN forms disagree about null keys otherwise)
    "incremental_ingest",
    "intra_doc_dedup",
    # language_id: NULL text must predict NULL, not 'other' (both
    # engines pinned by the edge corpus's NULL-text doc)
    "language_id",
    "langid_confusion",
    # repetition_metrics: NULL/empty/whitespace-only text must report
    # zero fractions and keep=TRUE; the repeated single word drives
    # every n-gram fraction past 1 on both engines
    "repetition_metrics",
]


@pytest.fixture(scope="module")
def edge_sf_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("edge_sf")
    spark.createDataFrame(
        EDGE_DOCS, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


@pytest.mark.parametrize("name", EDGE_QUERIES)
def test_edge_corpus_matches_oracle(spark, edge_sf_dir, name):
    con = duckdb.connect()
    # Spark writes a parquet DIRECTORY; DuckDB globs inside it
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{edge_sf_dir}/documents.parquet/*.parquet'"
    )
    r = compare_query(spark, con, name, edge_sf_dir)
    assert r.ok, f"{name}: {r.detail[:500]}"
