"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship query on sf0.001 (smoke check).
queries()      — one entry per implemented operator (SURVEY.md §2).
oracle_sql()   — DuckDB-equivalent SQL for the driver's side-by-side
                 correctness comparison at sf0.01.

All float scores are quantized to integer `*_e4` columns in BOTH
engines, and every top-k has a deterministic (score_e4 desc, id desc)
tie-break, so the order-insensitive value-hash comparison is stable.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build the full inverted index over sf0.001 documents and
    run a boolean OR query with a lang filter and facet — exercising
    tokenizer, dictionary, posting blocks, set ops and top-k."""
    from veloci_spark.entry_queries import documents_index, _run_request
    from veloci_spark.request import OrNode, Request, SearchPart

    sf_dir = "/root/testdata/sf0.001"
    req = Request(
        search=OrNode(
            (
                SearchPart(field="text", term="spark"),
                SearchPart(field="text", term="join"),
            )
        ),
        filter=SearchPart(field="lang", term="en"),
    )
    return _run_request(spark, sf_dir, req, top=10)


#: WINDOW ROTATION POLICY (the driver records 50 rows; the registry is
#: larger).  A registered operator earns/keeps a window slot by this
#: rule, applied mechanically each round:
#:
#:   1. one slot per DISTINCT MECHANISM (a scoring formula, a join
#:      shape, a pruning strategy, a codec, a planner rule) — never two
#:      slots for parameter/plan variants of the same mechanism;
#:   2. when a round adds a new mechanism and the window is full, the
#:      entry demoted is the variant whose FACTORS all still have their
#:      own rows (e.g. AND∘WAND leaves when AND and OR-WAND each keep a
#:      row), newest-mechanism-first — new mechanisms always enter;
#:   3. demotion is to extra_queries(), never deletion: every demoted
#:      entry keeps its oracle and stays green in the pytest driver-gate
#:      replica (tests/test_oracle_parity.py) at every scale the gate
#:      runs.
#:
#: Round-5 rotation (two applications of rule 2):
#:   - code_bm25_auto (planner-rule dispatch — a NEW mechanism) enters;
#:     code_bm25_and_wand (AND∘WAND variant; both factors —
#:     code_bm25_and and code_bm25_wand — retain rows) demotes.
#:   - ann_mmr_topk (MMR diversified selection — a NEW mechanism)
#:     enters; ann_multiprobe_topk (probe-count variant of the LSH
#:     bucket scan; bucketing and bucket-probed top-k keep rows via
#:     ann_bucketed_pairs / ann_ivf_topk) demotes — both swaps applied
#:     at their source registries (code_corpus.py / similarity.py).
#:   - hybrid_rrf (reciprocal-rank fusion of the BM25 and cosine legs —
#:     a NEW mechanism, pipeline/hybrid.py) enters; code_bm25f_wand
#:     (WAND∘BM25F composition; both factors — code_bm25f_topk and
#:     code_bm25_wand — retain rows) demotes.
#:   - code_bm25_collapse (field-collapsed top-k — a NEW result-shaping
#:     mechanism: per-group cut on a partitioned window) enters;
#:     decontam_shuffle (a PLAN variant of decontam_ngram — rule 1; the
#:     fallback plan shape stays pinned in tests/test_plan_shapes.py)
#:     demotes.
#:   - code_bm25_mlt (more-like-this / query-by-document — a NEW
#:     term-selection mechanism) enters; code_bm25_filtered
#:     (filter∘BM25 composition; its factors — code_bm25_topk and the
#:     native semi-join filter ft_and_with_filter — retain rows)
#:     demotes.
#:   - ft_hits_histogram (scored numeric bucket aggregation over the
#:     hit set — a NEW hit-consumption mechanism, aggs.py) enters;
#:     ft_nested_facet (facets∘nested composition; ft_facet_lang and
#:     ft_nested_search retain the factor rows) demotes.
#:   - code_bm25_prf (pseudo-relevance-feedback query expansion — a NEW
#:     term-selection mechanism: feedback-set mining + weighted
#:     re-query, bm25.bm25_prf_topk) enters; code_bm25_explain demotes
#:     by rule 1 (score-provenance attachment is ONE mechanism and
#:     ft_explain_components keeps its row; code_bm25_topk pins the
#:     underlying retrieval).
#:   - code_bm25_near (unordered span-near proximity — a NEW matching
#:     mechanism: positional MIN-COVER window verify over intersection
#:     candidates, bm25.bm25_near_topk; distinct from code_bm25_phrase's
#:     ordered-adjacency pair chain) enters; code_bm25_term demotes —
#:     the per-(term, doc) score TABLE is the factor every retrieval row
#:     integer-sums (code_bm25_topk pins the aggregate end-to-end,
#:     ft_explain_components pins per-component provenance, and the
#:     BM25-side provenance row code_bm25_explain stays oracled in
#:     extras).
#:   - code_bm25_snippet (best-fragment snippet extraction — a NEW
#:     result-decoration mechanism: leftmost maximal-occurrence token
#:     window per hit, bm25.bm25_snippet_topk; distinct from
#:     ft_highlight_texts, which resolves token hits to stored text ids)
#:     enters; ft_exact_token demotes — single-term exact retrieval is
#:     the factor chain contained in EVERY other ft row (both branches
#:     of ft_or_two_terms are exact token matches over the same anchor
#:     resolve; ft_dictionary pins the probe).
#:   - code_bm25_sigterms (significant terms — a NEW contrastive
#:     term-mining mechanism: JLH foreground/background scoring of the
#:     deterministic top-k_sample hit set against the corpus dictionary,
#:     bm25.bm25_sigterms; distinct from code_bm25_mlt, which selects a
#:     single doc's rarest terms with no contrast) enters;
#:     ft_nested_boost_1n demotes — the 1:n boost diamond is the
#:     boost∘nested composition: ft_nested_search pins the nested join
#:     chain (ordkey instance keys included), ft_boost_log10 pins boost
#:     application, ft_nested_locality keeps a third nested consumer in
#:     the window.
#:   - code_regex_search (trigram-index-accelerated content regex — a
#:     NEW pruning mechanism: regex → required-trigram query →
#:     partition-pruned probe → rlike verify, trigram.py; distinct from
#:     ft_regex, which matches the term DICTIONARY) enters;
#:     dedup_embedding_cosine demotes (LSH-bounded cosine composition;
#:     ann_cosine_topk pins cosine scoring, dedup_minhash_lsh /
#:     dedup_semantic pin the bucketed-candidate mechanisms).
_DEMOTED = (
    "code_bm25_explain",        # provenance mechanism pinned by ft_explain_components
    "dedup_embedding_cosine",   # LSH∘cosine; ann_cosine_topk + dedup_minhash_lsh pin factors
    "code_bm25_term",           # per-entry score table; code_bm25_topk pins the sum, explain rows pin provenance
    "ft_exact_token",           # single-term exact chain contained in every ft row; ft_dictionary pins the probe
    "ft_nested_boost_1n",       # boost∘nested diamond; ft_nested_search + ft_boost_log10 pin the factors

    "ft_nested_facet",          # facets∘nested; ft_facet_lang + ft_nested_search pin the factors
    "decontam_shuffle",         # plan variant of decontam_ngram (rule 1); shape pinned in tests
    "code_bm25_filtered",       # filter∘BM25; code_bm25_topk + ft_and_with_filter pin the factors
    "code_bm25_filtered_wand",  # WAND variant of code_bm25_filtered (4 other WAND rows)
    "code_bm25_and_wand",       # AND∘WAND; code_bm25_and + code_bm25_wand pin the factors
    "code_bm25f_wand",          # WAND∘BM25F; code_bm25f_topk + code_bm25_wand pin the factors
    "ft_wand_topk",             # fulltext WAND; the code_* rows pin the same operator
    "ft_fuzzy_prefix",          # fuzzy ∘ prefix; both factors have their own rows
    "ft_topk_skip",             # pagination variant of the top-k every row exercises
    "ft_postings_spark_term",   # postings build internals; every query decodes them
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The driver's correctness window (50 entries), registered
    north-rule-first: the code-corpus BM25 engine, then the fulltext
    engine, then the LLM-pipeline operators.  Parameter-variant /
    redundant entries live in extra_queries() (see _DEMOTED) and are
    gated by pytest's driver-gate replica
    (tests/test_oracle_parity.py) instead."""
    from veloci_spark.code_corpus import code_queries
    from veloci_spark.entry_queries import fulltext_queries
    from veloci_spark.pipeline.entry import pipeline_queries

    out = {}
    out.update(code_queries())
    out.update(fulltext_queries())
    out.update(pipeline_queries())
    for k in _DEMOTED:
        out.pop(k, None)
    return out


def oracle_sql() -> dict[str, str]:
    from veloci_spark.code_corpus import code_oracles
    from veloci_spark.entry_queries import fulltext_oracles
    from veloci_spark.pipeline.entry import pipeline_oracles

    out = {}
    out.update(code_oracles())
    out.update(fulltext_oracles())
    out.update(pipeline_oracles())
    for k in _DEMOTED:
        out.pop(k, None)
    return out


def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Pytest-only entries: parameter variants and standalone versions of
    fused driver entries (plus the _DEMOTED window variants).  Same
    contract as queries()."""
    from veloci_spark.code_corpus import code_extra_queries, code_queries
    from veloci_spark.entry_queries import (
        fulltext_extra_queries,
        fulltext_queries,
    )
    from veloci_spark.pipeline.entry import (
        pipeline_extra_queries,
        pipeline_queries,
    )

    out = {}
    out.update(code_extra_queries())
    out.update(fulltext_extra_queries())
    out.update(pipeline_extra_queries())
    full = {**code_queries(), **fulltext_queries(), **pipeline_queries()}
    for k in _DEMOTED:
        out[k] = full[k]
    return out


def extra_oracle_sql() -> dict[str, str]:
    from veloci_spark.code_corpus import code_extra_oracles, code_oracles
    from veloci_spark.entry_queries import (
        fulltext_extra_oracles,
        fulltext_oracles,
    )
    from veloci_spark.pipeline.entry import (
        pipeline_extra_oracles,
        pipeline_oracles,
    )

    out = {}
    out.update(code_extra_oracles())
    out.update(fulltext_extra_oracles())
    out.update(pipeline_extra_oracles())
    full = {**code_oracles(), **fulltext_oracles(), **pipeline_oracles()}
    for k in _DEMOTED:
        out[k] = full[k]
    return out
