"""Physical-plan regression pins for the scale-critical properties the
round-2/3 audits fixed (PLANS.md): hot-key windows replaced by prefix
sums or groupBy+join-back, small sides explicitly broadcast, and
diamond-shaped dataflows cached so Arrow passes run once. These assert
plan STRUCTURE, not timing, so a refactor that silently reintroduces a
global window or a double scan fails fast.

Only robust properties are asserted: hinted broadcasts (F.broadcast is
honored regardless of AQE), Window absence, and InMemoryTableScan
presence. Join strategies of UN-hinted joins are left alone — AQE may
legitimately pick broadcast at fixture scale."""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ------------------------------------------------ window-free prefix sums

@pytest.mark.parametrize(
    "opname",
    ["sample_token_budget", "pack_sequences"],
)
def test_prefix_sum_ops_have_no_window(spark, opname):
    # both were designed as distributed two-phase prefix sums precisely
    # to avoid an unsplittable Window over (lang) / the whole corpus
    import veloci_spark.pipeline.text as text

    out = getattr(text, opname)(spark, SF_DIR)
    try:
        assert "Window" not in _plan(out)
    finally:
        if hasattr(out, "_veloci_unpersist"):
            out._veloci_unpersist()


def test_dedup_group_ops_have_no_window(spark):
    # the groupBy key IS the duplicate: identical-content skew collapses
    # in the map-side combiner, never in a sorted window partition
    from veloci_spark.pipeline.dedup import dedup_exact, dedup_simhash

    assert "Window" not in _plan(dedup_exact(spark, SF_DIR))
    assert "Window" not in _plan(dedup_simhash(spark, SF_DIR))


# --------------------------------------------------- broadcast small sides

def test_dsir_broadcasts_bucket_tables(spark):
    from veloci_spark.pipeline.text import dsir_weights

    out = dsir_weights(spark, SF_DIR)
    try:
        p = _plan(out)
        assert p.count("BroadcastHashJoin") >= 2
        assert "SortMergeJoin" not in p
    finally:
        out._veloci_unpersist()


def test_lm_perplexity_broadcasts_lm_tables(spark):
    from veloci_spark.pipeline.text import lm_perplexity

    out = lm_perplexity(spark, SF_DIR)
    try:
        p = _plan(out)
        # both LM count tables are broadcast; the one shuffle join left
        # is the doc-keyed short-doc backfill (corpus-sized both sides,
        # unskewed equi-key — the correct shape at scale)
        assert p.count("BroadcastHashJoin") >= 2
        assert p.count("SortMergeJoin") <= 1
    finally:
        out._veloci_unpersist()


def test_decontam_broadcasts_small_bench(spark):
    from veloci_spark.pipeline.text import decontam_ngram

    # fixture eval set is far under max_broadcast_grams -> hinted
    # broadcast join; the corpus is never shuffled on gram
    assert "BroadcastHashJoin" in _plan(decontam_ngram(spark, SF_DIR))


def test_decontam_shuffle_fallback_matches_broadcast(spark):
    # the oversized-eval-set fallback must (a) really take a non-broadcast
    # gram join and (b) produce flag-identical output (round-3 verdict #8)
    from veloci_spark.pipeline.text import decontam_ngram

    # at toy scale Catalyst AUTO-broadcasts the bench side even without
    # the hint; turn auto-broadcast off so the plan shape reflects what
    # an actually-oversized eval set would get at 100 TB
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    bcast = shuf = None
    try:
        bcast = decontam_ngram(spark, SF_DIR)  # hinted: still broadcasts
        shuf = decontam_ngram(spark, SF_DIR, max_broadcast_grams=1)
        plan = _plan(shuf)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "BroadcastHashJoin" in _plan(bcast)
        a = sorted(tuple(r) for r in bcast.collect())
        b = sorted(tuple(r) for r in shuf.collect())
        assert a == b and a
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        # guard: an exception before assignment must surface itself, not
        # a NameError from cleanup
        if bcast is not None:
            bcast._veloci_unpersist()
        if shuf is not None:
            shuf._veloci_unpersist()


# ------------------------------------------------- diamond caches (1 pass)

def test_substring_spans_reads_cache_in_both_branches(spark):
    from veloci_spark.pipeline.dedup import dedup_substring

    out = dedup_substring(spark, SF_DIR, l=6)
    try:
        # occurrence frame cached: keeper agg AND join-back read the
        # cache instead of re-running the Arrow window-hash pass
        assert _plan(out).count("InMemoryTableScan") >= 2
    finally:
        out._veloci_unpersist()


def test_dsir_final_plan_scans_cache_once(spark):
    from veloci_spark.pipeline.text import dsir_weights

    out = dsir_weights(spark, SF_DIR)
    try:
        # the bucket count tables were collected eagerly (they are
        # <= n_buckets rows), so the final plan is ONE cached-feature
        # scan joined against two literal local frames — not three
        # separate passes over the corpus-sized cache
        assert _plan(out).count("InMemoryTableScan") == 1
    finally:
        out._veloci_unpersist()


# -------------------------------------- round-3 embedding/layout additions

def test_semantic_dedup_has_no_window(spark):
    # centroid = groupBy(bucket, dim) avg rebuilt per bucket; the
    # within-cluster ranking is carried as a column, never a window
    from veloci_spark.pipeline.similarity import dedup_semantic

    assert "Window" not in _plan(dedup_semantic(spark, SF_DIR))


def test_quantized_ann_topk_shapes(spark):
    # both quantized variants: no window anywhere, candidate cut and
    # final cut are TakeOrderedAndProject (never a global sort), and
    # the PQ codebook/ADC sides are hinted broadcasts
    from veloci_spark.pipeline.similarity import ann_pq_topk, ann_sq8_topk

    p_sq8 = _plan(ann_sq8_topk(spark, SF_DIR))
    assert "Window" not in p_sq8
    assert p_sq8.count("TakeOrderedAndProject") == 2
    p_pq = _plan(ann_pq_topk(spark, SF_DIR))
    assert "Window" not in p_pq
    assert p_pq.count("TakeOrderedAndProject") == 2
    assert "BroadcastHashJoin" in p_pq


def test_shard_assign_is_shuffle_free(spark):
    # pure column expressions over one scan: assignment must never
    # shuffle (the only exchange in the WRITE path is the intended
    # repartition on shard)
    from veloci_spark.pipeline.shards import shard_assign

    p = _plan(shard_assign(spark, SF_DIR))
    assert "Exchange" not in p and "Window" not in p


# ------------------------------------------- round-4 web-text operators

def test_boilerplate_broadcasts_boiler_set(spark):
    # the boiler set is threshold-bounded and must be BROADCAST: a
    # boilerplate hash has >= min_docs copies by definition, so the
    # sort-merge alternative reshuffles the whole corpus and
    # concentrates exactly the hottest keys (BENCH/BASELINE.md round-4
    # web-text scaling section: 0.699 -> 0.784 from this change)
    from veloci_spark.pipeline.text import text_boilerplate_lines

    p = _plan(text_boilerplate_lines(spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "Window" not in p


def test_fused_web_quality_scan_has_no_exchange(spark):
    # the fused C4+Gopher battery is pure column expressions over one
    # scan — any Exchange here means a regression to a shuffling plan
    from pyspark.sql import functions as F

    from veloci_spark.pipeline.text import web_keep_col, web_metrics_cols

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    m = web_metrics_cols(F.col("text"))
    out = d.select(
        "doc_id", *[c.alias(k) for k, c in m.items()]
    ).withColumn("keep", web_keep_col({k: F.col(k) for k in m}))
    p = _plan(out)
    assert "Exchange" not in p
    assert "Window" not in p


def test_classifier_scoring_has_no_exchange(spark):
    # scoring rides the broadcast weight literal: one scan, no shuffle
    from veloci_spark.pipeline.text import (
        QC_BUCKETS,
        quality_classifier_score,
    )

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    w = [0] * (QC_BUCKETS + 1)
    p = _plan(quality_classifier_score(d, w))
    assert "Exchange" not in p
    assert "Window" not in p


# --------------------------------------- WAND candidate-set restriction

def test_candidate_filter_small_set_is_literal_in(spark):
    # <=512 candidates: a literal IN that can reach Parquet row-group
    # stats — no join in the plan
    from veloci_spark.wand import candidate_block_filter

    df = spark.range(100).withColumnRenamed("id", "block_no")
    out = candidate_block_filter(df, [1, 2, 3], spark)
    plan = _plan(out)
    assert "Join" not in plan


def test_candidate_filter_large_set_is_broadcast_semi_join(spark):
    # >512 candidates: the round-5 ladder showed literal IN cost growing
    # with the list (the WAND deficit WIDENED with corpus size) — the
    # set must ship as a broadcast LEFT SEMI instead
    from veloci_spark.wand import candidate_block_filter

    df = spark.range(5000).withColumnRenamed("id", "block_no")
    out = candidate_block_filter(df, list(range(1000)), spark)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_auto_dispatch_defaults_to_exhaustive_at_fixture_scale(spark):
    # the recalibrated planner rule: at every scale this sandbox can
    # demonstrate, the shipped default must be the exhaustive plan
    from veloci_spark.bm25 import WAND_MIN_POSTINGS

    assert WAND_MIN_POSTINGS >= 100_000_000


# ------------------------------------------- collapse / MLT (round 5)

def test_collapse_window_is_partitioned_and_group_limited(spark):
    """The per-group cut must (a) PARTITION the window by the collapse
    key — never a SinglePartition global window — and (b) keep
    Catalyst's WindowGroupLimit rank pushdown, which applies the
    per-group top-m map-side BEFORE the exchange so a skewed group
    never materializes wholesale; (c) the block scan keeps the literal
    term_id IN parquet pushdown."""
    from veloci_spark.bm25 import bm25_collapse_topk
    from veloci_spark.code_corpus import code_index

    idx = code_index(spark, SF_DIR)
    df = bm25_collapse_topk(idx, "content", ["spark", "join", "merge"], 20)
    p = _plan(df)
    assert "WindowGroupLimit" in p
    assert "SinglePartition" not in p
    # the window's exchange hashes on the collapse key
    assert "hashpartitioning(repo" in p
    qe = df._jdf.queryExecution().toString()
    assert "In(term_id" in qe


def test_mlt_is_window_free_with_literal_in(spark):
    """MLT is term selection + the standard exhaustive decode: no
    window anywhere, and the selected term ids reach the parquet scan
    as a literal IN (row-group pruning)."""
    from veloci_spark.bm25 import bm25_mlt_topk
    from veloci_spark.code_corpus import code_index

    idx = code_index(spark, SF_DIR)
    df = bm25_mlt_topk(idx, "content", 42, 20)
    assert "Window" not in _plan(df)
    assert "In(term_id" in df._jdf.queryExecution().toString()


def test_hybrid_fusion_is_window_free(spark):
    """Both legs rank via bounded sort_array+posexplode, the fusion is
    a pool-sized full-outer join — no Window operator in the whole
    plan."""
    from veloci_spark.pipeline.hybrid import hybrid_rrf_topk

    assert "Window" not in _plan(hybrid_rrf_topk(spark, SF_DIR))


# ----------------------------------------------- trigram regex pruning

def test_trigram_probe_is_partition_pruned_and_broadcast(spark):
    """The candidate probe must (a) push the query trigrams' crc32
    buckets into PartitionFilters — the posting scan reads only the
    buckets the pattern needs — and (b) broadcast the pattern-sized
    requirement table; the full posting table must never shuffle for a
    lookup, and no Window appears anywhere in the operator."""
    from veloci_spark.code_corpus import code_index
    from veloci_spark.trigram import plan_regex, regex_candidates

    idx = code_index(spark, SF_DIR)
    plan = plan_regex(r"merge (sort|join)")
    assert plan is not None
    df = regex_candidates(idx, "content", plan)
    p = _plan(df)
    assert "PartitionFilters: [bucket" in p and "bucket#" in p
    assert "BroadcastHashJoin" in p
    assert "Window" not in p


def test_trigram_fallback_is_single_docstore_scan(spark):
    """An unindexable pattern must not touch the trigram table at all —
    one docstore scan with the rlike filter, nothing else."""
    from veloci_spark.code_corpus import code_index
    from veloci_spark.trigram import regex_search

    idx = code_index(spark, SF_DIR)
    p = _plan(regex_search(idx, "content", r"(spark|qq)"))
    assert "trigram_content" not in p
    assert "rlike" in p.lower() or "RLike" in p


_PYTHON_NODES = ("MapInPandas", "PythonMapInArrow", "ArrowEvalPython", "BatchEvalPython")


def _spy_collects(spark, monkeypatch) -> list:
    """Record the executed plan of every ``DataFrame.collect`` run from
    here on (``take``/``first`` go through it too)."""
    cls = type(spark.range(0))  # the session's concrete DataFrame class
    plans = []
    real = cls.collect

    def collect(self):
        plans.append(_plan(self))
        return real(self)

    monkeypatch.setattr(cls, "collect", collect)
    return plans


def _docstore_in_lists(plans) -> list:
    """The pushed ``doc_id IN`` literal count of every docstore read
    (Spark pushes a one-literal IN as ``EqualTo``); None for a docstore
    read that carries no such prune."""
    import re

    out = []
    for p in plans:
        if "/docstore]" not in p:
            continue
        m = re.search(r"PushedFilters: \[[^\]]*In\(doc_id, \[([^\]]*)\]\)", p)
        if m:
            out.append(len(m.group(1).split(",")))
        else:
            out.append(1 if re.search(r"PushedFilters: \[[^\]]*EqualTo\(doc_id,", p) else None)
    return out


def _assert_k_bounded(plans):
    assert not [n for p in plans for n in _PYTHON_NODES if n in p], plans
    # createDataFrame over a Python list scans an ExistingRDD whose rows
    # pass through a Python worker each time it is collected or broadcast
    assert not [p for p in plans if "ExistingRDD" in p], plans
    assert not [p for p in plans if "Window" in p], plans
    fetches = _docstore_in_lists(plans)
    assert fetches and all(n is not None and n <= 512 for n in fetches), fetches


def test_snippet_fragment_stage_is_k_bounded(spark, monkeypatch):
    """The snippet decoration must stay O(k) and off the Python worker:
    the k texts come into the driver through docstore reads pruned by a
    literal doc_id IN of at most 512 ids, no query the call runs (nor
    the frame it returns) holds a Python-evaluating node or a
    Python-list scan, and nothing introduces a Window."""
    from veloci_spark.bm25 import bm25_snippet_topk
    from veloci_spark.code_corpus import code_index

    idx = code_index(spark, SF_DIR)
    plans = _spy_collects(spark, monkeypatch)
    df = bm25_snippet_topk(idx, "content", ["spark", "join"], 10)
    plans.append(_plan(df))
    _assert_k_bounded(plans)


def test_sigterms_sample_count_is_k_bounded(spark, monkeypatch):
    """The sigterms foreground count runs in the driver over the
    k_sample texts: the same docstore prune, no Python-evaluating node."""
    from veloci_spark.bm25 import bm25_sigterms
    from veloci_spark.code_corpus import code_index

    idx = code_index(spark, SF_DIR)
    plans = _spy_collects(spark, monkeypatch)
    df = bm25_sigterms(idx, "content", ["spark", "join"], k_sample=20)
    plans.append(_plan(df))
    _assert_k_bounded(plans)


@pytest.mark.parametrize("name", ["code_bm25_snippet", "code_bm25_sigterms"])
def test_k_bounded_fetch_chunks_equal_one_fetch(spark, monkeypatch, name):
    """With the fetch cut into chunks of 2 ids, snippet and sigterms
    answer exactly as with one fetch and as the DuckDB oracle, in
    ceil(hits / 2) docstore reads."""
    import os

    import duckdb

    import veloci_spark.code_corpus as cc
    import veloci_spark.wand as wand
    from veloci_spark.bm25 import bm25_auto_topk, bm25_topk

    whole = [tuple(r) for r in cc._QUERIES[name](spark, SF_DIR).collect()]
    idx = cc.code_index(spark, SF_DIR)
    if name == "code_bm25_snippet":
        hits = bm25_auto_topk(idx, "content", cc._SNIPPET_TERMS, cc._SNIPPET_K)
    else:
        hits = bm25_topk(idx, "content", cc._SIG_TERMS, cc._SIG_SAMPLE)
    hits = hits.count()
    assert hits > 2

    monkeypatch.setattr(wand, "INLIST_SEMI_JOIN_CUTOVER", 2)
    plans = _spy_collects(spark, monkeypatch)
    chunked = [tuple(r) for r in cc._QUERIES[name](spark, SF_DIR).collect()]
    assert whole and chunked == whole
    fetches = _docstore_in_lists(plans)
    assert len(fetches) == (hits + 1) // 2, fetches
    assert all(n is not None and n <= 2 for n in fetches), fetches

    con = duckdb.connect()
    docs = os.path.join(SF_DIR, "documents.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs}'")
    assert sorted(chunked) == sorted(con.execute(cc._ORACLES[name]).fetchall())
