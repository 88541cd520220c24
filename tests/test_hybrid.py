"""Hybrid RRF fusion (pipeline/hybrid.py): fusion arithmetic pinned
against an independent python replay of the two legs, single-leg docs
surface with a NULL rank, and the pool cut is the documented total
order.  Cross-engine value parity is the oracle-parity replica's job
(hybrid_rrf / hybrid_rrf_sq8 are auto-gated there)."""

from __future__ import annotations

import math

import pytest

from veloci_spark.pipeline.hybrid import (
    HYBRID_POOL,
    HYBRID_TERMS,
    RRF_K,
    bm25_text_topk,
    hybrid_rrf_topk,
)
from veloci_spark.pipeline.similarity import ann_cosine_topk

SF = "/root/testdata/sf0.001"


def _contrib(rank):
    return int(math.floor(1000000.0 / (RRF_K + rank)))


@pytest.fixture(scope="module")
def legs(spark):
    lex = bm25_text_topk(spark, SF).collect()
    dense = ann_cosine_topk(spark, SF, k=HYBRID_POOL).collect()
    lex_rank = {r["doc_id"]: i + 1 for i, r in enumerate(lex)}
    dense_rank = {r["vec_id"]: i + 1 for i, r in enumerate(dense)}
    return lex_rank, dense_rank


def test_bm25_text_topk_without_terms_is_empty(spark):
    lex = bm25_text_topk(spark, SF, terms=[])
    assert lex.columns == ["doc_id", "bm25_e4"]
    assert lex.collect() == []


@pytest.fixture(scope="module")
def fused(spark):
    return hybrid_rrf_topk(spark, SF, k=500).collect()


def test_rrf_score_is_sum_of_leg_contributions(legs, fused):
    lex_rank, dense_rank = legs
    assert fused, "fusion returned no rows"
    for r in fused:
        expect = 0
        if r["doc_id"] in lex_rank:
            expect += _contrib(lex_rank[r["doc_id"]])
        if r["doc_id"] in dense_rank:
            expect += _contrib(dense_rank[r["doc_id"]])
        assert r["rrf_e6"] == expect, r
        assert r["lex_rank"] == lex_rank.get(r["doc_id"], 0)
        assert r["dense_rank"] == dense_rank.get(r["doc_id"], 0)


def test_single_leg_docs_surface_with_zero_other_rank(legs, fused):
    lex_rank, dense_rank = legs
    only_lex = set(lex_rank) - set(dense_rank)
    only_dense = set(dense_rank) - set(lex_rank)
    # the fixture legs genuinely disagree — otherwise the rank-0
    # sentinel path is never exercised
    assert only_lex and only_dense
    by_id = {r["doc_id"]: r for r in fused}
    for d in only_lex:
        assert by_id[d]["dense_rank"] == 0
    for d in only_dense:
        assert by_id[d]["lex_rank"] == 0


def test_fused_union_is_exactly_both_pools(legs, fused):
    lex_rank, dense_rank = legs
    assert {r["doc_id"] for r in fused} == set(lex_rank) | set(dense_rank)


def test_topk_order_is_score_desc_docid_desc(fused):
    keys = [(-r["rrf_e6"], -r["doc_id"]) for r in fused]
    assert keys == sorted(keys)


def test_leg_ranks_are_dense_from_one(legs):
    lex_rank, dense_rank = legs
    for m in (lex_rank, dense_rank):
        assert sorted(m.values()) == list(range(1, len(m) + 1))
        assert len(m) <= HYBRID_POOL


def test_both_legs_share_docs_somewhere(legs):
    # the query terms were chosen so the lexical and dense pools overlap
    lex_rank, dense_rank = legs
    both = set(lex_rank) & set(dense_rank)
    assert both, f"terms {HYBRID_TERMS} produce disjoint pools"
