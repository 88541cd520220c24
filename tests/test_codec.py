"""Posting-block layout roundtrip (the reference's vint block tests,
token_to_anchor_score_vint.rs:206-248, restated for this engine's
layout): postings go through ``build._encode_blocks`` and
``build._write_blocks`` into Parquet v2 ``doc_ids``/``scores`` array
blocks and come back through ``index.decode_blocks_df`` unchanged."""

import glob
import os
import uuid

import pyarrow.parquet as pq
from hypothesis import given, settings, strategies as st

from veloci_spark.build import _encode_blocks, _write_blocks
from veloci_spark.index import decode_blocks_df

FLAT = "field string, term_id long, doc_id long, score long"


def _roundtrip(spark, tmp_root, postings, block_docs=1024):
    """Encode + write + read + decode ``(term_id, doc_id, score)``
    triples of one field; returns (decoded triples, table path)."""
    flat = spark.createDataFrame([("f", t, d, s) for t, d, s in postings], FLAT)
    path = os.path.join(tmp_root, f"blocks_{uuid.uuid4().hex}")
    _write_blocks(_encode_blocks(flat, block_docs), path)
    rows = decode_blocks_df(spark.read.parquet(path)).collect()
    return sorted((r.term_id, r.doc_id, r.score) for r in rows), path


def test_block_roundtrip(spark, tmp_root):
    postings = [(1, d, s) for d, s in [(3, 400), (7, 10), (8, 2047), (100, 1), (65536, 0)]]
    got, _ = _roundtrip(spark, tmp_root, postings)
    assert got == sorted(postings)


def test_block_single(spark, tmp_root):
    got, _ = _roundtrip(spark, tmp_root, [(5, 42, 7)])
    assert got == [(5, 42, 7)]


def test_delta_compression_is_small(spark, tmp_root):
    # dense ascending ids in one block delta-bit-pack to well under a
    # byte per id (plain 64-bit longs would take 8)
    postings = [(1, d + 10, 55) for d in range(1000)]
    got, path = _roundtrip(spark, tmp_root, postings, block_docs=4096)
    assert got == postings
    chunks = []
    for f in glob.glob(os.path.join(path, "field=*", "*.parquet")):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            for c in range(md.num_columns):
                col = md.row_group(rg).column(c)
                if col.path_in_schema == "doc_ids.list.element":
                    chunks.append(col)
    assert chunks
    assert all("DELTA_BINARY_PACKED" in c.encodings for c in chunks)
    assert sum(c.total_compressed_size for c in chunks) < 1000


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=0, max_value=2**32 - 1),
            st.integers(min_value=0, max_value=2**32 - 1),
        ),
        min_size=1,
        max_size=300,
        unique_by=lambda p: (p[0], p[1]),
    )
)
def test_block_roundtrip_property(spark, tmp_root, postings):
    got, _ = _roundtrip(spark, tmp_root, postings, block_docs=2**30)
    assert got == sorted(postings)
