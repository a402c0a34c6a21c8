"""Token-count golden."""

import pytest
from pyspark.sql import functions as F

from vtshaver_spark.functions.text import token_count

DOCS = [
    (1, "The quick brown fox jumps over the lazy dog and runs into the woods"),
    (2, "The quick brown fox jumps over the lazy dog and runs into the woods"),  # exact dup of 1
    (3, "The quick brown fox jumps over the lazy dog and runs into the forest"),  # near dup of 1
    (4, "Der schnelle braune Fuchs springt und das ist ein deutscher Satz mit der die das"),
    (5, "completely different content about spark query engines and columnar execution"),
    (6, "the quick  brown fox jumps over the lazy dog and runs into the woods"),  # ws/case variant of 1
    (7, ""),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def test_token_count(spark, docs):
    out = {r["doc_id"]: r["n"] for r in docs.select("doc_id", token_count(F.col("text")).alias("n")).collect()}
    assert out[1] == 14
    assert out[7] == 0
