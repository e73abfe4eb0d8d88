"""Arrow shingle-postings backend == interpreted-HOF backend, posting
for posting; the HOF backend is the reference the Arrow one is pinned
against."""

import pandas as pd
import pytest

from nuclei_feature_extraction_spark.operators.dedup import (
    _shingle_postings,
    ngram_contamination,
)


@pytest.fixture(scope="module")
def spark():
    from nuclei_feature_extraction_spark.session import get_spark

    return get_spark(master="local[4]", shuffle_partitions=8,
                     app_name="test-shingle-backend")


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "a b"),                      # shorter than the shingle window
        (2, "single"),                   # one token
        (3, ""),                         # empty text → one '' token
        (4, "  leading and trailing  spaced   tokens here"),
        (5, "dup dup dup dup dup"),      # within-row duplicate shingles
        (6, "Mixed CASE Tokens mixed case tokens mixed case tokens"),
        (7, "the quick brown fox jumps over the lazy dog"),  # cross-doc dup
        (8, None),                       # null text → no postings / null set
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(["doc_id", "s"]).reset_index(drop=True)


@pytest.mark.parametrize("shingle", [2, 3, 5])
def test_postings_identical_across_backends(spark, docs, shingle):
    arrow = _canon(
        _shingle_postings(docs, shingle=shingle, backend="arrow").toPandas()
    )
    hof = _canon(
        _shingle_postings(docs, shingle=shingle, backend="hof").toPandas()
    )
    pd.testing.assert_frame_equal(arrow, hof)


def test_contamination_identical_across_backends(spark, docs):
    bench = docs.filter("doc_id % 4 = 0")
    corpus = docs.filter("doc_id % 4 != 0")
    a = ngram_contamination(corpus, bench, backend="arrow").toPandas()
    h = ngram_contamination(corpus, bench, backend="hof").toPandas()
    a = a.sort_values("doc_id").reset_index(drop=True)
    h = h.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, h)


def test_contamination_benchmark_without_id_col(spark, docs):
    # curation benchmark tables carry their own id name (bench_id) or
    # none — contamination must only read the benchmark's TEXT
    bench = docs.filter("doc_id % 4 = 0").selectExpr(
        "doc_id AS bench_id", "text"
    )
    corpus = docs.filter("doc_id % 4 != 0")
    a = ngram_contamination(corpus, bench, backend="arrow").toPandas()
    h = ngram_contamination(corpus, bench, backend="hof").toPandas()
    a = a.sort_values("doc_id").reset_index(drop=True)
    h = h.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, h)
