"""Salted-key skew handling for stop-word-like hot terms.

A bare hash shuffle on (field, term_id) sends a ubiquitous term's entire
posting list to one task; `_encode_blocks` salts hot terms (identified
from the dictionary's own num_occurences) with salt = block_no % n_salts.
Because the salt is a pure function of block_no, the encoded block rows
must be IDENTICAL to the unsalted layout — only task placement changes.
These tests build the same corpus with salting forced on (threshold 2)
and effectively off (default 4M) and assert bit-identical indexes and
query results.
"""

import os

import pytest
from pyspark.sql import functions as F

from veloci_spark import FieldConfig, IndexConfig, build_index
from veloci_spark.request import Request, SearchPart

# "the" appears in every doc (the hot/stop-word term); tail terms appear
# once or twice. 24 docs / block_docs=4 → 6 blocks for the hot term.
DOCS = [
    (i, f"the tok{i} " + ("shared " if i % 2 == 0 else "rare ") + f"the word{i % 3}")
    for i in range(24)
]
SCHEMA = "doc_id long, text string"


def _build(spark, tmp_root, name: str, salt_rows_per_shard: int):
    cfg = IndexConfig(
        fields=(FieldConfig("text"),),
        block_docs=4,
        salt_rows_per_shard=salt_rows_per_shard,
    )
    corpus = spark.createDataFrame(DOCS, SCHEMA)
    out = os.path.join(tmp_root, name)
    return build_index(spark, corpus, cfg, out, resume=False)


@pytest.fixture(scope="module")
def salted_and_plain(spark, tmp_root):
    # threshold 2: "the" (48 occurrences) → n_salts = min(ceil(48/2), 256)
    # = 24 shuffle keys; "shared" (12) salts too; singletons stay salt 0
    salted = _build(spark, tmp_root, "salt_on", salt_rows_per_shard=2)
    plain = _build(spark, tmp_root, "salt_off", salt_rows_per_shard=4_000_000)
    return salted, plain


def _blocks_rows(index):
    df = index.postings_blocks("text").select(
        "term_id", "block_no", "n_docs", "max_score", "min_doc_id", "max_doc_id",
        "doc_ids", "scores",
    )
    return sorted(
        (r.term_id, r.block_no, r.n_docs, r.max_score, r.min_doc_id,
         r.max_doc_id, tuple(r.doc_ids), tuple(r.scores))
        for r in df.collect()
    )


def test_salted_blocks_bit_identical(salted_and_plain):
    salted, plain = salted_and_plain
    assert _blocks_rows(salted) == _blocks_rows(plain)


def test_hot_term_spans_multiple_blocks(salted_and_plain):
    # sanity: the corpus actually exercises a multi-block hot term
    salted, _ = salted_and_plain
    dict_df = salted.dictionary("text")
    hot = dict_df.where(F.col("term") == "the").collect()[0]
    n_blocks = (
        salted.postings_blocks("text")
        .where(F.col("term_id") == hot.term_id)
        .count()
    )
    assert hot.num_occurences == 48
    assert n_blocks == 6  # 24 docs / block_docs=4


def test_salted_query_results_identical(spark, salted_and_plain):
    salted, plain = salted_and_plain
    from veloci_spark.executor import search

    req = Request(search=SearchPart(field="text", term="the"), top=50)
    a = sorted(
        (r.doc_id, round(r.score, 9)) for r in search(salted, req).hits.collect()
    )
    b = sorted(
        (r.doc_id, round(r.score, 9)) for r in search(plain, req).hits.collect()
    )
    assert a == b and len(a) == 24
