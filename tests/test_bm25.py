"""BM25 baked postings + block-max WAND (veloci_spark/bm25.py).

The formula is the textbook Okapi/Lucene BM25 (the reference has no BM25
of its own — this is the north-rule addition); tests pin the python
mirror against hand-computed values, prove the engine's baked blocks
reproduce a naive per-doc recomputation, and prove the WAND pruned path
is rank-identical to the exhaustive decode on a multi-block index.
"""

import math
import os

import pytest
from pyspark.sql import functions as F

from veloci_spark import bm25
from veloci_spark.bm25 import (
    bm25_prf_topk,
    B,
    K1,
    K1_PLUS_1,
    bm25_and_topk,
    bm25_auto_topk,
    bm25_batch_topk,
    bm25_filtered_topk,
    bm25_topk,
    bm25f_topk,
    py_bm25,
    py_bm25_e4,
    py_idf,
)
from veloci_spark.config import FieldConfig, IndexConfig
from veloci_spark.build import build_index
from veloci_spark.tokenize import py_tokenize

# ---------------------------------------------------------------- formula

def test_idf_hand_value():
    # N=10, df=3: ln((10-3+0.5)/(3+0.5)+1) = ln(7.5/3.5 + 1)
    assert py_idf(10, 3) == pytest.approx(math.log(7.5 / 3.5 + 1.0), rel=0, abs=0)


def test_idf_positive_even_for_ubiquitous_terms():
    assert py_idf(100, 100) > 0.0


def test_bm25_hand_value():
    # tf=2, df=3, dl=8, N=10, avgdl=8.0 → tf_part = 2*2.2 / (2 + 1.2*(0.25+0.75*1))
    tf_part = (2 * K1_PLUS_1) / (2 + K1 * (0.25 + B * (8.0 / 8.0)))
    assert py_bm25(2, 3, 8, 10, 8.0) == pytest.approx(py_idf(10, 3) * tf_part)


def test_bm25_monotone_in_tf_and_antitone_in_df():
    assert py_bm25(3, 2, 10, 100, 10.0) > py_bm25(2, 2, 10, 100, 10.0)
    assert py_bm25(2, 2, 10, 100, 10.0) > py_bm25(2, 20, 10, 100, 10.0)
    # longer docs score lower at equal tf
    assert py_bm25(2, 2, 30, 100, 10.0) < py_bm25(2, 2, 10, 100, 10.0)


# ------------------------------------------------------------- engine e2e

CORPUS = [
    (0, "alpha beta beta gamma"),
    (1, "alpha alpha alpha"),
    (2, "beta gamma gamma delta"),
    (3, "delta epsilon"),
    (4, "alpha beta gamma delta epsilon"),
    (5, "gamma"),
    (6, "alpha beta"),
    (7, "zeta eta theta iota kappa lambada"),
    (8, "alpha gamma alpha gamma"),
    (9, "beta"),
]


@pytest.fixture(scope="module")
def bm25_index(spark, tmp_root):
    cfg = IndexConfig(
        fields=(FieldConfig("body", bm25=True),),
        block_docs=4,  # forces 3 blocks over 10 docs: exercises WAND pruning
    )
    df = spark.createDataFrame(CORPUS, "doc_id long, body string")
    out = os.path.join(tmp_root, "bm25_index")
    return build_index(spark, df, cfg, out, resume=False)


def _naive_bm25(terms):
    """Pure-python recomputation over CORPUS (non-separator tokens)."""
    # has_tokens semantics: texts with < 2 runs produce NO token rows
    # (simple_tokenizer_group.rs:10-15), so single-token docs like "gamma"
    # don't participate in tf/dl/N at all — engine and oracle agree.
    runs = {i: list(py_tokenize(txt)) for i, txt in CORPUS}
    docs = {
        i: [t for t, sep in rs if not sep] for i, rs in runs.items() if len(rs) >= 2
    }
    n = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / n
    out = {}
    for term in terms:
        df = sum(1 for toks in docs.values() if term in toks)
        if df == 0:
            continue
        for i, toks in docs.items():
            tf = toks.count(term)
            if tf:
                out[(term, i)] = py_bm25_e4(tf, df, len(toks), n, avgdl)
    return out, n, avgdl


def test_baked_scores_match_naive(bm25_index):
    naive, n, avgdl = _naive_bm25(["alpha", "beta", "gamma"])
    stats = bm25_index.bm25_stats("body")
    assert stats["n_docs"] == n
    assert stats["avgdl"] == pytest.approx(avgdl)

    d = bm25_index.dictionary("body").where(
        F.col("term").isin("alpha", "beta", "gamma")
    )
    flat = bm25_index.bm25_postings_for("body", d).join(
        d.select("term_id", "term"), "term_id"
    )
    got = {(r["term"], r["doc_id"]): r["score"] for r in flat.collect()}
    assert got == naive


def test_topk_sums_terms(bm25_index):
    naive, _, _ = _naive_bm25(["alpha", "gamma"])
    per_doc = {}
    for (_, i), s in naive.items():
        per_doc[i] = per_doc.get(i, 0) + s
    want = sorted(per_doc.items(), key=lambda kv: (-kv[1], -kv[0]))[:3]
    got = [
        (r["doc_id"], r["score_e4"])
        for r in bm25_topk(bm25_index, "body", ["alpha", "gamma"], 3).collect()
    ]
    assert got == want


def _force_loop(monkeypatch, start_blocks=1, max_iters=8):
    """Make every BM25 kind entry take its block-max arm."""
    monkeypatch.setattr(bm25, "WAND_MIN_POSTINGS", 0)
    monkeypatch.setattr(bm25, "WAND_START_BLOCKS", start_blocks)
    monkeypatch.setattr(bm25, "WAND_MAX_ITERS", max_iters)


@pytest.mark.parametrize("terms", [["alpha"], ["alpha", "gamma"], ["beta", "delta", "epsilon"]])
@pytest.mark.parametrize("k", [2, 5])
def test_wand_rank_identical(bm25_index, monkeypatch, terms, k):
    exact = bm25_topk(bm25_index, "body", terms, k).collect()
    _force_loop(monkeypatch)
    wand = bm25_auto_topk(bm25_index, "body", terms, k).collect()
    assert [tuple(r) for r in wand] == [tuple(r) for r in exact]


def test_and_intersection_semantics(bm25_index):
    naive, _, _ = _naive_bm25(["alpha", "gamma"])
    docs_a = {i for (t, i) in naive if t == "alpha"}
    docs_g = {i for (t, i) in naive if t == "gamma"}
    both = docs_a & docs_g
    per_doc = {
        i: sum(s for (t, j), s in naive.items() if j == i) for i in both
    }
    want = sorted(per_doc.items(), key=lambda kv: (-kv[1], -kv[0]))
    got = [
        (r["doc_id"], r["score_e4"])
        for r in bm25_and_topk(bm25_index, "body", ["alpha", "gamma"], 10).collect()
    ]
    assert got == want
    assert set(i for i, _ in got) == both  # strict intersection


def test_and_with_absent_term_is_empty(bm25_index):
    assert bm25_and_topk(bm25_index, "body", ["alpha", "nosuchtoken"], 5).count() == 0


@pytest.mark.parametrize("terms", [["alpha", "gamma"], ["beta", "delta"]])
def test_and_wand_rank_identical(bm25_index, monkeypatch, terms):
    exact = bm25_and_topk(bm25_index, "body", terms, 5).collect()
    _force_loop(monkeypatch)
    wand = bm25_and_topk(bm25_index, "body", terms, 5).collect()
    assert [tuple(r) for r in wand] == [tuple(r) for r in exact]


def test_wand_prunes_on_skewed_blocks(bm25_index, monkeypatch):
    # "alpha" is block-skewed in CORPUS (tf=3 in block 0, tf<=2 elsewhere):
    # with k=1 the first decoded block's exact score strictly beats every
    # remaining block-max, so WAND must stop after ONE block of three
    stats: dict = {}
    driver = bm25.blockmax_topk
    monkeypatch.setattr(
        bm25, "blockmax_topk", lambda *a, **kw: driver(*a, **{**kw, "stats": stats})
    )
    exact = bm25_topk(bm25_index, "body", ["alpha"], 1).collect()
    _force_loop(monkeypatch)
    rows = bm25_auto_topk(bm25_index, "body", ["alpha"], 1).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in exact]
    assert stats["blocks_total"] == 3
    assert stats["blocks_decoded"] == 1  # pruned, not full decode


def _spy_blockmax(monkeypatch) -> dict:
    """Route the block-max driver's stats into the returned dict; it
    stays empty while the exhaustive arm runs."""
    stats: dict = {}
    driver = bm25.blockmax_topk
    monkeypatch.setattr(
        bm25, "blockmax_topk", lambda *a, **kw: driver(*a, **{**kw, "stats": stats})
    )
    return stats


def test_auto_dispatch_picks_exhaustive_below_threshold(bm25_index, monkeypatch):
    # tiny corpus: matched postings ≪ the calibrated threshold → the
    # rule must pick the single-job exhaustive plan
    postings = bm25._field_parts(bm25_index, {"body": 1}, ["alpha", "gamma"])[1]
    assert 0 < postings < bm25.WAND_MIN_POSTINGS
    stats = _spy_blockmax(monkeypatch)
    rows = bm25_auto_topk(bm25_index, "body", ["alpha", "gamma"], 5).collect()
    exact = bm25_topk(bm25_index, "body", ["alpha", "gamma"], 5).collect()
    assert not stats
    assert [tuple(r) for r in rows] == [tuple(r) for r in exact]


def test_auto_dispatch_picks_wand_above_threshold(bm25_index, monkeypatch):
    # forcing the threshold to 0 postings must route through block-max
    # WAND and stay rank-identical (the dispatch is a plan choice, not a
    # result choice)
    stats = _spy_blockmax(monkeypatch)
    monkeypatch.setattr(bm25, "WAND_MIN_POSTINGS", 0)
    rows = bm25_auto_topk(bm25_index, "body", ["alpha", "gamma"], 5).collect()
    exact = bm25_topk(bm25_index, "body", ["alpha", "gamma"], 5).collect()
    assert stats["blocks_total"] >= stats["blocks_decoded"] >= 1
    assert [tuple(r) for r in rows] == [tuple(r) for r in exact]


def test_resume_skips_bm25_stage(spark, tmp_root, bm25_index):
    # rebuilding over the same dir with resume=True must not rewrite bm25
    out = os.path.join(tmp_root, "bm25_index")
    marker = os.path.join(out, "bm25", "_SUCCESS")
    mtime = os.path.getmtime(marker)
    cfg = IndexConfig(fields=(FieldConfig("body", bm25=True),), block_docs=4)
    df = spark.createDataFrame(CORPUS, "doc_id long, body string")
    build_index(spark, df, cfg, out, resume=True)
    assert os.path.getmtime(marker) == mtime


def test_resume_rebuilds_varint_block_table(spark, tmp_root, bm25_index):
    # an index built before the array layout: a `data binary` bm25 table
    # with _SUCCESS and a version-2 manifest.  Resume must rebuild the
    # table instead of reusing it, and queries must answer.
    import json
    import shutil

    from veloci_spark.index import Index

    out = os.path.join(tmp_root, "bm25_index_varint")
    cfg = IndexConfig(fields=(FieldConfig("body", bm25=True),), block_docs=4)
    df = spark.createDataFrame(CORPUS, "doc_id long, body string")
    build_index(spark, df, cfg, out, resume=False)
    bm25_path = os.path.join(out, "bm25")
    old = os.path.join(tmp_root, "bm25_index_varint_old_bm25")
    (
        spark.read.parquet(bm25_path)
        .drop("doc_ids", "scores")
        .withColumn("data", F.lit(bytearray(b"\x01\x02")))
        .write.mode("overwrite")
        .partitionBy("field")
        .parquet(old)
    )
    shutil.rmtree(bm25_path)
    shutil.move(old, bm25_path)
    manifest_path = os.path.join(out, "manifest.json")
    with open(manifest_path) as f:
        manifest = json.load(f)
    manifest["version"] = 2
    with open(manifest_path, "w") as f:
        json.dump(manifest, f)
    with pytest.raises(ValueError, match="rebuild"):
        Index(spark, out)

    idx = build_index(spark, df, cfg, out, resume=True)
    assert {"doc_ids", "scores"} <= set(spark.read.parquet(bm25_path).columns)
    assert idx.manifest["version"] == 3
    got = [tuple(r) for r in bm25_topk(idx, "body", ["alpha", "beta"], 5).collect()]
    want = [tuple(r) for r in bm25_topk(bm25_index, "body", ["alpha", "beta"], 5).collect()]
    assert got and got == want


_PYTHON_NODES = ("MapInPandas", "PythonMapInArrow", "ArrowEvalPython", "BatchEvalPython")


def test_decode_and_topk_plans_have_no_python_stage(bm25_index):
    # block decode runs in the JVM scan stage: no Python worker round trip
    from veloci_spark.index import decode_blocks_df

    for df in (
        decode_blocks_df(bm25_index.bm25_blocks("body")),
        bm25_topk(bm25_index, "body", ["alpha", "beta"], 5),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert not [n for n in _PYTHON_NODES if n in plan], plan


def test_bm25_doc_ids_are_delta_binary_packed(bm25_index):
    # the v2 writer delta-bit-packs the sorted ids; v1 would write them
    # plain and roughly double a dense table
    import glob

    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(bm25_index.path, "bm25", "field=*", "*.parquet"))
    encodings = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            for c in range(md.num_columns):
                col = md.row_group(rg).column(c)
                if col.path_in_schema == "doc_ids.list.element":
                    encodings.append(col.encodings)
    assert encodings
    assert all("DELTA_BINARY_PACKED" in e for e in encodings), encodings


# ------------------------------------------------- phrase + BM25F engine

PHRASE_CORPUS = [
    # (doc_id, body, path)
    (0, "merge sort join filter", "src/a.py"),
    (1, "merge join x join filter", "src/b.rs"),   # pair-chain FALSE POSITIVE
    #    ^ pairs (merge,join) and (join,filter) both exist, but the
    #      trigram "merge join filter" is NOT contiguous
    (2, "merge join filter scan", "lib/a.py"),      # true trigram match
    (3, "scan merge join filter", "lib/merge.py"),  # true trigram match
    (4, "join filter merge", "src/c.go"),           # pairs only partially
    (5, "filter scan merge join", "x/y.js"),        # (merge,join) only
    (6, "alpha beta gamma delta", "src/d.py"),
]


@pytest.fixture(scope="module")
def phrase_index(spark, tmp_root):
    cfg = IndexConfig(
        fields=(
            FieldConfig("body", bm25=True, phrase_pairs=True),
            FieldConfig("path", tokenize_on_chars=("/", "."), bm25=True),
        ),
        block_docs=2,  # multi-block: exercises block-max pruning
    )
    df = spark.createDataFrame(PHRASE_CORPUS, "doc_id long, body string, path string")
    out = os.path.join(tmp_root, "bm25_phrase_index")
    return build_index(spark, df, cfg, out, resume=False)


def _contiguous_docs(terms):
    """Doc ids whose body token sequence contains `terms` contiguously."""
    out = []
    for i, body, _ in PHRASE_CORPUS:
        toks = [t for t, sep in py_tokenize(body) if not sep]
        if any(toks[j : j + len(terms)] == list(terms) for j in range(len(toks))):
            out.append(i)
    return sorted(out)


def test_phrase_trigram_rejects_pair_chain_false_positive(phrase_index):
    from veloci_spark.bm25 import bm25_phrase_topk

    rows = bm25_phrase_topk(phrase_index, "body", ["merge", "join", "filter"], 10).collect()
    got = sorted(r["doc_id"] for r in rows)
    assert got == _contiguous_docs(["merge", "join", "filter"]) == [2, 3]
    # doc 1 has both adjacent pairs but not the contiguous trigram
    assert 1 not in got


def test_phrase_two_terms_is_pair_table_exact(phrase_index):
    from veloci_spark.bm25 import bm25_phrase_topk

    rows = bm25_phrase_topk(phrase_index, "body", ["merge", "join"], 10).collect()
    got = sorted(r["doc_id"] for r in rows)
    assert got == _contiguous_docs(["merge", "join"])


def test_phrase_absent_term_is_empty(phrase_index):
    from veloci_spark.bm25 import bm25_phrase_topk

    assert bm25_phrase_topk(phrase_index, "body", ["merge", "unobtainium"], 10).count() == 0


def test_phrase_scores_are_bm25_sums(phrase_index):
    """Phrase score = integer sum of the member terms' baked BM25 scores."""
    from veloci_spark.bm25 import bm25_phrase_topk
    from veloci_spark.index import decode_blocks_df

    terms = ["merge", "join", "filter"]
    rows = {r["doc_id"]: r["score_e4"] for r in
            bm25_phrase_topk(phrase_index, "body", terms, 10).collect()}
    dict_df = phrase_index.dictionary("body").where(F.col("term").isin(terms))
    flat = phrase_index.bm25_postings_for("body", dict_df).collect()
    for doc_id, score in rows.items():
        expect = sum(r["score"] for r in flat if r["doc_id"] == doc_id)
        assert score == expect


def _naive_bm25f(terms, weights):
    """Pure-python weighted multi-field recomputation over PHRASE_CORPUS."""
    seps = {"body": None, "path": ("/", ".")}
    total = {}
    for field, w in weights.items():
        runs = {
            i: list(py_tokenize(txt, seps[field]) if seps[field] else py_tokenize(txt))
            for i, body, path in PHRASE_CORPUS
            for txt in [body if field == "body" else path]
        }
        docs = {
            i: [t for t, sep in rs if not sep] for i, rs in runs.items() if len(rs) >= 2
        }
        n = len(docs)
        if n == 0:
            continue
        avgdl = sum(len(t) for t in docs.values()) / n
        for term in terms:
            df = sum(1 for toks in docs.values() if term in toks)
            if df == 0:
                continue
            for i, toks in docs.items():
                tf = toks.count(term)
                if tf:
                    total[i] = total.get(i, 0) + w * py_bm25_e4(tf, df, len(toks), n, avgdl)
    return total


def test_bm25f_weighted_sum_matches_naive(phrase_index):
    from veloci_spark.bm25 import bm25f_topk

    terms = ["merge", "py"]
    weights = {"body": 1, "path": 3}
    rows = {r["doc_id"]: r["score_e4"]
            for r in bm25f_topk(phrase_index, weights, terms, 100).collect()}
    assert rows == _naive_bm25f(terms, weights)


def test_bm25f_single_field_weight1_equals_bm25(phrase_index):
    from veloci_spark.bm25 import bm25f_topk

    a = bm25f_topk(phrase_index, {"body": 1}, ["merge", "join"], 10).collect()
    b = bm25_topk(phrase_index, "body", ["merge", "join"], 10).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_bm25_explain_provenance_sums_to_topk(spark, bm25_index):
    """Explain rows partition each top-k doc's score: per-term integer
    contributions sum exactly to score_e4, and the (doc, total) pairs
    equal the plain top-k."""
    from veloci_spark.bm25 import bm25_explain_topk, bm25_topk

    terms = ["alpha", "beta"]
    top = [(r["doc_id"], r["score_e4"]) for r in bm25_topk(bm25_index, "body", terms, 5).collect()]
    rows = bm25_explain_topk(bm25_index, "body", terms, 5).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], [0, r["score_e4"]])
        by_doc[r["doc_id"]][0] += r["term_score_e4"]
    assert set(by_doc) == {d for d, _ in top}
    for d, total in top:
        assert by_doc[d][0] == total == by_doc[d][1], (d, by_doc[d], total)


def test_bm25_explain_decodes_only_topk_blocks(bm25_index):
    # blocks are doc-aligned: the per-term decode is cut to the top-k
    # docs' blocks by a block_no predicate on the block scan, before decode
    import re

    from veloci_spark.bm25 import bm25_explain_topk

    out = bm25_explain_topk(bm25_index, "body", ["alpha", "beta"], 2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PushedFilters: \[.*(In|EqualTo)\(block_no", plan), plan


# ------------------------------------------- BM25-only build (no native)

def test_bm25_only_build_skips_native_postings(spark, tmp_root, monkeypatch):
    """native_postings=False: the expensive native posting stage is
    skipped for the field, BM25 results are IDENTICAL to a full build,
    and native Request search raises a clear error instead of silently
    returning nothing (the code-corpus production config)."""
    df = spark.createDataFrame(CORPUS, "doc_id long, body string")
    full_cfg = IndexConfig(
        fields=(FieldConfig("body", bm25=True),), block_docs=4
    )
    lean_cfg = IndexConfig(
        fields=(FieldConfig("body", bm25=True, native_postings=False),),
        block_docs=4,
    )
    full = build_index(
        spark, df, full_cfg, os.path.join(tmp_root, "bm25_full"), resume=False
    )
    lean = build_index(
        spark, df, lean_cfg, os.path.join(tmp_root, "bm25_lean"), resume=False
    )

    # the postings table was not built at all (no native field in cfg)
    assert not os.path.isdir(os.path.join(lean.path, "postings"))
    # ... and the lineage has no postings stage record
    stages = [
        __import__("json").loads(line)["stage"]
        for line in open(os.path.join(lean.path, "_lineage.jsonl"))
    ]
    assert "postings" not in stages

    # BM25 answers are bit-identical to the full build's, on both plans
    for loop in (False, True):
        if loop:
            _force_loop(monkeypatch)
        a = [tuple(r) for r in bm25_auto_topk(full, "body", ["alpha", "beta"], 5).collect()]
        b = [tuple(r) for r in bm25_auto_topk(lean, "body", ["alpha", "beta"], 5).collect()]
        assert a == b and a

    # native search path refuses loudly
    with pytest.raises(ValueError, match="native_postings=False"):
        lean.postings_blocks("body")


# ------------------------- batched multi-query -------------------------

def test_batch_matches_per_query(bm25_index):
    """One batched job returns, per query, EXACTLY the single-query
    bm25_topk rows (values and within-query order)."""
    batch = {
        "qa": ["alpha"],
        "qb": ["alpha", "gamma"],
        "qc": ["beta", "delta", "epsilon"],
    }
    k = 3
    got = {}
    for r in bm25_batch_topk(bm25_index, "body", batch, k).collect():
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["score_e4"]))
    for qid, terms in batch.items():
        want = [
            (r["doc_id"], r["score_e4"])
            for r in bm25_topk(bm25_index, "body", terms, k).collect()
        ]
        assert got.get(qid, []) == want, qid


def test_batch_missing_term_semantics(bm25_index):
    """A missing term inside a query is ignored (same as single-query);
    a query whose terms ALL miss contributes no rows."""
    res = bm25_batch_topk(
        bm25_index,
        "body",
        {"mixed": ["alpha", "zz_missing"], "gone": ["zz_missing", "zz_too"]},
        5,
    ).collect()
    qids = {r["query_id"] for r in res}
    assert "gone" not in qids
    want = [
        (r["doc_id"], r["score_e4"])
        for r in bm25_topk(bm25_index, "body", ["alpha"], 5).collect()
    ]
    got = [(r["doc_id"], r["score_e4"]) for r in res if r["query_id"] == "mixed"]
    assert got == want


def test_batch_empty_and_all_missing(bm25_index):
    empty = bm25_batch_topk(bm25_index, "body", {}, 3)
    assert empty.columns == ["query_id", "doc_id", "score_e4"]
    assert empty.count() == 0
    none = bm25_batch_topk(bm25_index, "body", {"q": ["zz_missing"]}, 3)
    assert none.count() == 0


def test_bm25_field_with_no_token_rows_builds_empty(spark, tmp_root):
    """A bm25 field whose every value tokenizes to < 2 runs (short enum
    fields like a lang code) has NO token rows under has_tokens
    semantics — the build must produce an empty, queryable posting set,
    not crash on empty corpus stats."""
    cfg = IndexConfig(
        fields=(FieldConfig("tag", bm25=True, native_postings=False),)
    )
    df = spark.createDataFrame([(0, "en"), (1, "de")], "doc_id long, tag string")
    out = os.path.join(tmp_root, "bm25_empty_field")
    idx = build_index(spark, df, cfg, out, resume=False)
    assert bm25_topk(idx, "tag", ["en"], 5).count() == 0
    assert bm25_batch_topk(idx, "tag", {"q": ["en"]}, 5).count() == 0
    # the empty table has no schema to check the layout by: resume keeps it
    marker = os.path.join(out, "bm25", "_SUCCESS")
    mtime = os.path.getmtime(marker)
    build_index(spark, df, cfg, out, resume=True)
    assert os.path.getmtime(marker) == mtime


# ----------------------------------------------------------- filtered path

def test_filtered_equals_postfiltered_exhaustive(bm25_index):
    """filtered top-k == unfiltered scores ∩ allowed docs, re-cut to k
    (corpus-level stats: the filter must NOT change any score)."""
    from veloci_spark.bm25 import bm25_filtered_topk

    terms = ["alpha", "gamma"]
    full = bm25_topk(bm25_index, "body", terms, 100).collect()
    expect = [tuple(r) for r in full if r["doc_id"] % 2 == 0][:3]
    got = bm25_filtered_topk(
        bm25_index, "body", terms, 3, F.col("doc_id") % 2 == 0
    ).collect()
    assert [tuple(r) for r in got] == expect


def test_filtered_wand_rank_identical(bm25_index, monkeypatch):
    terms = ["alpha", "beta", "gamma"]
    pred = F.col("doc_id") % 3 != 1
    exact = bm25_filtered_topk(bm25_index, "body", terms, 4, pred).collect()
    _force_loop(monkeypatch)
    wand = bm25_filtered_topk(bm25_index, "body", terms, 4, pred).collect()
    assert [tuple(r) for r in wand] == [tuple(r) for r in exact]


def test_filtered_true_predicate_is_unfiltered(bm25_index):
    from veloci_spark.bm25 import bm25_filtered_topk

    terms = ["alpha", "beta"]
    got = bm25_filtered_topk(bm25_index, "body", terms, 5, F.lit(True)).collect()
    exact = bm25_topk(bm25_index, "body", terms, 5).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in exact]


def test_filtered_nothing_allowed_is_empty(bm25_index, monkeypatch):
    assert bm25_filtered_topk(
        bm25_index, "body", ["alpha"], 5, F.lit(False)
    ).count() == 0
    # WAND never decodes its way into a phantom result either
    _force_loop(monkeypatch)
    assert bm25_filtered_topk(
        bm25_index, "body", ["alpha"], 5, F.lit(False)
    ).count() == 0


# ------------------------------------------- block-max loop, every variant

_LOOP_WEIGHTS = {"body": 1, "path": 3}
_LOOP_FILTER = "doc_id % 3 != 1"


def _kind_entry(kind, bm25_index, phrase_index):
    """(entry as k -> frame, its matched postings total as a thunk) for
    each BM25 query kind."""
    idx, weights = bm25_index, {"body": 1}
    if kind == "or":
        t = ["alpha", "gamma"]
        entry = lambda k: bm25_auto_topk(idx, "body", t, k)
    elif kind == "and":
        t = ["alpha", "beta"]
        entry = lambda k: bm25_and_topk(idx, "body", t, k)
    elif kind == "bm25f":
        t, idx, weights = ["merge", "py"], phrase_index, _LOOP_WEIGHTS
        entry = lambda k: bm25f_topk(idx, weights, t, k)
    else:
        t = ["alpha", "beta", "gamma"]
        entry = lambda k: bm25_filtered_topk(idx, "body", t, k, _LOOP_FILTER)
    return entry, lambda: bm25._field_parts(idx, weights, t)[1]


@pytest.mark.parametrize("kind", ["or", "and", "bm25f", "filtered"])
def test_topk_rule_runs_loop_iff_postings_reach_threshold(
    bm25_index, phrase_index, monkeypatch, kind
):
    """Every kind entry runs the block-max driver exactly when its
    matched postings reach WAND_MIN_POSTINGS (never at fixture scale
    by default), and answers the same rows either way."""
    entry, postings_of = _kind_entry(kind, bm25_index, phrase_index)
    postings = postings_of()
    assert 0 < postings < bm25.WAND_MIN_POSTINGS
    calls = []
    driver = bm25.blockmax_topk
    monkeypatch.setattr(
        bm25, "blockmax_topk", lambda *a, **kw: calls.append(1) or driver(*a, **kw)
    )
    want = [tuple(r) for r in entry(5).collect()]
    assert not calls
    for threshold, loop in ((postings + 1, False), (postings, True)):
        monkeypatch.setattr(bm25, "WAND_MIN_POSTINGS", threshold)
        calls.clear()
        assert [tuple(r) for r in entry(5).collect()] == want
        assert bool(calls) == loop, threshold


@pytest.mark.parametrize("max_iters", [1, 8])
@pytest.mark.parametrize("k", [0, 1, 5])
@pytest.mark.parametrize("variant", ["or", "and", "bm25f", "filtered"])
def test_blockmax_loop_rank_identical(
    bm25_index, phrase_index, monkeypatch, variant, k, max_iters
):
    """With the threshold forced to 0, every kind entry runs the pruning
    loop (max_iters=1 from one start block also forces the full-decode
    fallback on these multi-block fixtures) and must equal its own
    exhaustive plan, k=0 included."""
    entry, _ = _kind_entry(variant, bm25_index, phrase_index)
    want = [tuple(r) for r in entry(k).collect()]
    _force_loop(monkeypatch, max_iters=max_iters)
    assert [tuple(r) for r in entry(k).collect()] == want


def test_blockmax_releases_cache_when_decode_fails(spark, bm25_index, monkeypatch):
    """A filter that fails only at execution aborts the loop's decode;
    the blocks the loop cached must be released all the same."""
    _force_loop(monkeypatch)
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    with pytest.raises(Exception, match="boom"):
        bm25_filtered_topk(
            bm25_index, "body", ["alpha", "gamma"], 3,
            "raise_error('boom') IS NULL",
        ).collect()
    assert persisted().size() == before


def test_filter_accepts_sql_string_and_pushes_down(bm25_index):
    """A string predicate works, and a pushable comparison reaches the
    docstore Parquet scan as a PushedFilter (the 100-TB contract: the
    filter prunes row groups / partitions, not post-scan rows)."""
    from veloci_spark.bm25 import bm25_filtered_topk

    q = bm25_filtered_topk(bm25_index, "body", ["alpha", "gamma"], 5, "doc_id <= 5")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "LessThanOrEqual(doc_id,5)" in plan
    full = bm25_topk(bm25_index, "body", ["alpha", "gamma"], 100).collect()
    expect = [tuple(r) for r in full if r["doc_id"] <= 5][:5]
    assert [tuple(r) for r in q.collect()] == expect


@pytest.fixture(scope="module")
def pag_idx(spark):
    from veloci_spark.code_corpus import code_index

    return code_index(spark, "/root/testdata/sf0.001")


class TestCursorPagination:
    """search_after cursor: pages are disjoint, complete, ordered, and
    page-1-with-no-cursor equals plain top-k."""

    def test_pages_partition_the_ranking(self, spark, pag_idx):
        from veloci_spark.bm25 import bm25_topk, bm25_topk_after

        terms = ["spark", "join", "merge"]
        full = [
            (int(r["doc_id"]), int(r["score_e4"]))
            for r in bm25_topk(pag_idx, "content", terms, 30).collect()
        ]
        p1 = [
            (int(r["doc_id"]), int(r["score_e4"]))
            for r in bm25_topk_after(pag_idx, "content", terms, 10).collect()
        ]
        assert p1 == full[:10]
        cur = (p1[-1][1], p1[-1][0])
        p2 = [
            (int(r["doc_id"]), int(r["score_e4"]))
            for r in bm25_topk_after(
                pag_idx, "content", terms, 10, after=cur
            ).collect()
        ]
        assert p2 == full[10:20]
        cur2 = (p2[-1][1], p2[-1][0])
        p3 = [
            (int(r["doc_id"]), int(r["score_e4"]))
            for r in bm25_topk_after(
                pag_idx, "content", terms, 10, after=cur2
            ).collect()
        ]
        assert p3 == full[20:30]
        assert len({d for d, _ in p1 + p2 + p3}) == 30  # disjoint

    def test_tie_cursor_is_exact(self, spark, pag_idx):
        # cursors routinely land mid-tie (many docs share a score_e4);
        # the doc_id tiebreak must cut exactly, no dupes and no gaps
        from veloci_spark.bm25 import bm25_topk, bm25_topk_after

        terms = ["spark"]
        full = [
            (int(r["doc_id"]), int(r["score_e4"]))
            for r in bm25_topk(pag_idx, "content", terms, 40).collect()
        ]
        scores = [s for _, s in full]
        assert len(set(scores)) < len(scores), "fixture should contain ties"
        for cut in (5, 17, 33):
            cur = (full[cut - 1][1], full[cut - 1][0])
            nxt = [
                (int(r["doc_id"]), int(r["score_e4"]))
                for r in bm25_topk_after(
                    pag_idx, "content", terms, 7, after=cur
                ).collect()
            ]
            assert nxt == full[cut : cut + 7]

    def test_exhausted_cursor_returns_empty(self, spark, pag_idx):
        from veloci_spark.bm25 import bm25_topk_after

        assert (
            bm25_topk_after(
                pag_idx, "content", ["spark"], 5, after=(0, -1)
            ).count()
            == 0
        )


# ---------------- pseudo-relevance feedback (Rocchio) ----------------

def _naive_prf(terms, k, fb_docs, fb_terms, min_occ, orig_w, exp_w):
    """Pure-python replica of bm25_prf_topk over CORPUS."""
    uniq = sorted(set(terms))
    naive, _, _ = _naive_bm25(uniq)
    per_doc = {}
    for (_, i), s in naive.items():
        per_doc[i] = per_doc.get(i, 0) + s
    fb = [d for d, _ in sorted(per_doc.items(), key=lambda kv: (-kv[1], -kv[0]))[:fb_docs]]

    runs = {i: list(py_tokenize(txt)) for i, txt in CORPUS}
    docs = {
        i: [t for t, sep in rs if not sep] for i, rs in runs.items() if len(rs) >= 2
    }
    # dictionary num_occurences: token occurrences (>=2-run texts) plus
    # whole-text entries for texts <= 64 bytes (build.py term counting)
    num_occ = {}
    for toks in docs.values():
        for t in toks:
            num_occ[t] = num_occ.get(t, 0) + 1
    for _, txt in CORPUS:
        if txt is not None and len(txt.encode()) <= 64:
            num_occ[txt] = num_occ.get(txt, 0) + 1

    fb_df = {}
    for d in fb:
        for t in set(docs.get(d, [])):
            fb_df[t] = fb_df.get(t, 0) + 1
    cands = [
        t for t in fb_df
        if t not in uniq and num_occ.get(t, 0) >= min_occ
    ]
    chosen = sorted(cands, key=lambda t: (-fb_df[t], num_occ[t], t))[:fb_terms]

    full, _, _ = _naive_bm25(sorted(set(uniq) | set(chosen)))
    final = {}
    for (t, i), s in full.items():
        w = orig_w if t in uniq else exp_w
        final[i] = final.get(i, 0) + w * s
    return (
        sorted(final.items(), key=lambda kv: (-kv[1], -kv[0]))[:k],
        chosen,
    )


def test_prf_matches_naive_replica(bm25_index):
    want, chosen = _naive_prf(
        ["alpha"], 5, fb_docs=3, fb_terms=2, min_occ=2, orig_w=2, exp_w=1
    )
    assert chosen  # the fixture corpus must actually exercise expansion
    got = [
        (r["doc_id"], r["score_e4"])
        for r in bm25_prf_topk(
            bm25_index, "body", ["alpha"], 5,
            fb_docs=3, fb_terms=2, min_occ=2, orig_w=2, exp_w=1,
        ).collect()
    ]
    assert got == want


def test_prf_expansion_excludes_query_terms(bm25_index):
    _, chosen = _naive_prf(
        ["alpha", "beta"], 5, fb_docs=4, fb_terms=3, min_occ=1, orig_w=2, exp_w=1
    )
    assert "alpha" not in chosen and "beta" not in chosen


def test_prf_zero_expansion_is_weighted_plain_query(bm25_index):
    plain = [
        (r["doc_id"], r["score_e4"])
        for r in bm25_topk(bm25_index, "body", ["alpha", "gamma"], 4).collect()
    ]
    prf = [
        (r["doc_id"], r["score_e4"])
        for r in bm25_prf_topk(
            bm25_index, "body", ["alpha", "gamma"], 4,
            fb_docs=3, fb_terms=0, orig_w=3, exp_w=1,
        ).collect()
    ]
    assert prf == [(d, 3 * s) for d, s in plain]


def test_prf_absent_terms_empty(bm25_index):
    assert (
        bm25_prf_topk(bm25_index, "body", ["zz_missing"], 5).collect() == []
    )


# ------------------- span-near (unordered proximity) -------------------

from veloci_spark.bm25 import bm25_near_topk, bm25_snippet_topk  # noqa: E402


def _naive_near_docs(terms, slop):
    """Brute-force exists-a-combination semantics (itertools.product over
    per-term position lists) — deliberately NOT the engine's two-pointer
    min-cover, so the two implementations check each other."""
    import itertools

    width = (len(terms) - 1) + slop
    runs = {i: list(py_tokenize(txt)) for i, txt in CORPUS}
    docs = {
        i: [t for t, sep in rs if not sep] for i, rs in runs.items() if len(rs) >= 2
    }
    keep = set()
    for i, toks in docs.items():
        pls = [[p for p, t in enumerate(toks) if t == q] for q in terms]
        if any(not pl for pl in pls):
            continue
        best = min(max(c) - min(c) for c in itertools.product(*pls))
        if best <= width:
            keep.add(i)
    return keep


def _near_rows(bm25_index, terms, slop, k=10):
    return [
        (r["doc_id"], r["score_e4"])
        for r in bm25_near_topk(bm25_index, "body", terms, k, slop=slop).collect()
    ]


def test_near_matches_bruteforce_replica(bm25_index):
    for terms, slop in (
        (["alpha", "gamma"], 0),
        (["alpha", "gamma"], 2),
        (["alpha", "beta", "gamma"], 0),
        (["alpha", "beta", "gamma"], 1),
        (["beta", "delta"], 3),
    ):
        want_docs = _naive_near_docs(terms, slop)
        got = _near_rows(bm25_index, terms, slop)
        assert {d for d, _ in got} == want_docs, (terms, slop)


def test_near_slop_zero_is_unordered_adjacency(bm25_index):
    # doc8 = "alpha gamma alpha gamma" is the only adjacent alpha/gamma pair
    got = _near_rows(bm25_index, ["alpha", "gamma"], 0)
    assert [d for d, _ in got] == [8]


def test_near_monotone_in_slop(bm25_index):
    prev = set()
    for slop in (0, 1, 2, 4, 8):
        cur = {d for d, _ in _near_rows(bm25_index, ["alpha", "gamma"], slop)}
        assert prev <= cur
        prev = cur
    # wide enough slop degenerates to the AND result
    and_docs = {
        r["doc_id"]
        for r in bm25_and_topk(bm25_index, "body", ["alpha", "gamma"], 10).collect()
    }
    assert prev == and_docs


def test_near_scores_equal_and_scores(bm25_index):
    # proximity is a match predicate: survivors keep their AND-sum score
    and_rows = {
        r["doc_id"]: r["score_e4"]
        for r in bm25_and_topk(bm25_index, "body", ["alpha", "gamma"], 10).collect()
    }
    for d, s in _near_rows(bm25_index, ["alpha", "gamma"], 1):
        assert s == and_rows[d]


def test_near_validation_and_empties(bm25_index):
    with pytest.raises(ValueError):
        bm25_near_topk(bm25_index, "body", ["alpha", "alpha"], 5)
    with pytest.raises(ValueError):
        bm25_near_topk(bm25_index, "body", ["alpha"], 5)
    assert (
        bm25_near_topk(bm25_index, "body", ["alpha", "zz_missing"], 5).collect()
        == []
    )


# ------------------- best-fragment snippet extraction -------------------

def test_snippet_scores_and_order_equal_topk(bm25_index):
    plain = [
        (r["doc_id"], r["score_e4"])
        for r in bm25_topk(bm25_index, "body", ["alpha", "gamma"], 5).collect()
    ]
    snip = bm25_snippet_topk(bm25_index, "body", ["alpha", "gamma"], 5).collect()
    assert [(r["doc_id"], r["score_e4"]) for r in snip] == plain


def test_snippet_leftmost_maximal_window(bm25_index):
    # doc8 = "alpha gamma alpha gamma": every width-2 window holds 2
    # matches; the tie must break to the LEFTMOST (start 0)
    rows = {
        r["doc_id"]: r
        for r in bm25_snippet_topk(
            bm25_index, "body", ["alpha", "gamma"], 10, window=2
        ).collect()
    }
    assert rows[8]["snippet"] == "alpha gamma"
    assert rows[8]["n_matched"] == 2
    # doc0 = "alpha beta beta gamma": width-2 windows hold at most 1 match;
    # leftmost maximal is the alpha at position 0
    assert rows[0]["snippet"] == "alpha beta"
    assert rows[0]["n_matched"] == 1


def test_snippet_window_clips_at_doc_end(bm25_index):
    rows = {
        r["doc_id"]: r
        for r in bm25_snippet_topk(
            bm25_index, "body", ["epsilon"], 10, window=50
        ).collect()
    }
    # doc3 = "delta epsilon": the window is larger than the doc — the
    # snippet is anchored at the match and clips at the end
    assert rows[3]["snippet"] == "epsilon"
    assert rows[3]["n_matched"] == 1
    # doc4 contains epsilon at the end; window clips, still 1 match
    assert rows[4]["snippet"] == "epsilon"


def test_snippet_absent_term_empty_schema(bm25_index):
    df = bm25_snippet_topk(bm25_index, "body", ["zz_missing"], 5)
    assert df.collect() == []
    assert [f.name for f in df.schema.fields] == [
        "doc_id", "score_e4", "n_matched", "snippet",
    ]


def _naive_near_ordered_docs(terms, slop):
    import itertools

    width = (len(terms) - 1) + slop
    runs = {i: list(py_tokenize(txt)) for i, txt in CORPUS}
    docs = {
        i: [t for t, sep in rs if not sep] for i, rs in runs.items() if len(rs) >= 2
    }
    keep = set()
    for i, toks in docs.items():
        pls = [[p for p, t in enumerate(toks) if t == q] for q in terms]
        if any(not pl for pl in pls):
            continue
        for combo in itertools.product(*pls):
            if all(a < b for a, b in zip(combo, combo[1:])) and (
                combo[-1] - combo[0] <= width
            ):
                keep.add(i)
                break
    return keep


def test_near_ordered_matches_bruteforce_replica(bm25_index):
    for terms, slop in (
        (["alpha", "gamma"], 0),
        (["gamma", "alpha"], 0),
        (["beta", "alpha"], 4),
        (["alpha", "beta", "gamma"], 1),
        (["gamma", "beta", "alpha"], 4),
    ):
        want = _naive_near_ordered_docs(terms, slop)
        got = {
            r["doc_id"]
            for r in bm25_near_topk(
                bm25_index, "body", terms, 10, slop=slop, in_order=True
            ).collect()
        }
        assert got == want, (terms, slop)


def test_near_ordered_is_subset_of_unordered(bm25_index):
    for slop in (0, 1, 3):
        o = {
            r["doc_id"]
            for r in bm25_near_topk(
                bm25_index, "body", ["alpha", "gamma"], 10,
                slop=slop, in_order=True,
            ).collect()
        }
        u = {
            r["doc_id"]
            for r in bm25_near_topk(
                bm25_index, "body", ["alpha", "gamma"], 10, slop=slop
            ).collect()
        }
        assert o <= u


def test_near_ordered_direction_matters(bm25_index):
    # doc0 = "alpha beta beta gamma": beta AFTER alpha exists, alpha
    # AFTER beta does not — the unordered variant accepts both orders
    fwd = {
        r["doc_id"]
        for r in bm25_near_topk(
            bm25_index, "body", ["alpha", "beta"], 10, slop=0, in_order=True
        ).collect()
    }
    rev = {
        r["doc_id"]
        for r in bm25_near_topk(
            bm25_index, "body", ["beta", "alpha"], 10, slop=0, in_order=True
        ).collect()
    }
    assert 0 in fwd and 0 not in rev


# ---------------------- significant terms (JLH) ----------------------

from veloci_spark.bm25 import bm25_sigterms  # noqa: E402


def _naive_sigterms(terms, k_sample, top_terms, min_fg):
    import math

    # deterministic sample = plain OR top-k_sample
    full, n, avgdl = _naive_bm25(sorted(set(terms)))
    totals = {}
    for (t, i), s in full.items():
        totals[i] = totals.get(i, 0) + s
    sample = [
        d for d, _ in sorted(totals.items(), key=lambda kv: (-kv[1], -kv[0]))
    ][:k_sample]
    runs = {i: list(py_tokenize(txt)) for i, txt in CORPUS}
    docs = {
        i: [t for t, sep in rs if not sep] for i, rs in runs.items() if len(rs) >= 2
    }
    fg = {}
    for d in sample:
        for t in docs.get(d, []):
            fg[t] = fg.get(t, 0) + 1
    fg_total = sum(fg.values())
    # background = dictionary num_occurences: ALL token runs (separator
    # runs included — the dictionary stores them) + whole short texts
    bg = {}
    for i, rs in runs.items():
        if len(rs) < 2:
            continue
        for t, _sep in rs:
            bg[t] = bg.get(t, 0) + 1
    for _, txt in CORPUS:
        if txt is not None and len(txt.encode()) <= 64:
            bg[txt] = bg.get(txt, 0) + 1
    bg_total = sum(bg.values())
    out = []
    for t, f in fg.items():
        if t in terms or f < min_fg:
            continue
        fgr = float(f) / float(fg_total)
        bgr = float(bg[t]) / float(bg_total)
        jlh = (fgr - bgr) * (fgr / bgr)
        out.append((t, f, bg[t], math.floor(jlh * 10000.0 + 0.5)))
    out.sort(key=lambda r: (-r[3], r[0]))
    return out[:top_terms]


def test_sigterms_matches_naive_replica(bm25_index):
    want = _naive_sigterms(["alpha"], 3, 5, 1)
    assert want  # fixture must exercise the scoring
    got = [
        (r["term"], r["fg"], r["bg"], r["jlh_e4"])
        for r in bm25_sigterms(
            bm25_index, "body", ["alpha"], k_sample=3, top_terms=5, min_fg=1
        ).collect()
    ]
    assert got == want


def test_sigterms_excludes_query_terms_and_respects_min_fg(bm25_index):
    rows = bm25_sigterms(
        bm25_index, "body", ["alpha", "beta"], k_sample=5, top_terms=10, min_fg=2
    ).collect()
    assert rows
    for r in rows:
        assert r["term"] not in ("alpha", "beta")
        assert r["fg"] >= 2


def test_sigterms_overrepresentation_beats_common(bm25_index):
    # gamma co-occurs with alpha more than its corpus rate: positive JLH
    rows = {
        r["term"]: r["jlh_e4"]
        for r in bm25_sigterms(
            bm25_index, "body", ["alpha"], k_sample=4, top_terms=10, min_fg=1
        ).collect()
    }
    assert any(v > 0 for v in rows.values())


def test_sigterms_absent_terms_empty_schema(bm25_index):
    df = bm25_sigterms(bm25_index, "body", ["zz_missing"], 5)
    assert df.collect() == []
    assert [f.name for f in df.schema.fields] == ["term", "fg", "bg", "jlh_e4"]


# ------------------------- fuzzy BM25 matching -------------------------

from veloci_spark.bm25 import bm25_fuzzy_topk  # noqa: E402


def _rows(df):
    return [(r["doc_id"], r["score_e4"]) for r in df.collect()]


def test_fuzzy_d0_equals_plain(bm25_index):
    assert _rows(
        bm25_fuzzy_topk(bm25_index, "body", ["alpha", "gamma"], 6, max_dist=0)
    ) == _rows(bm25_topk(bm25_index, "body", ["alpha", "gamma"], 6))


def test_fuzzy_misspelling_resolves(bm25_index):
    # "alpa" is levenshtein-1 from "alpha" and from nothing else in the
    # fixture vocabulary
    assert _rows(
        bm25_fuzzy_topk(bm25_index, "body", ["alpa"], 6, max_dist=1)
    ) == _rows(bm25_topk(bm25_index, "body", ["alpha"], 6))


def test_fuzzy_union_counts_once(bm25_index):
    # two misspellings of the same dictionary term: the id union dedups,
    # so the result equals the single-term query (ES behavior)
    assert _rows(
        bm25_fuzzy_topk(bm25_index, "body", ["alpa", "allpha"], 6, max_dist=1)
    ) == _rows(bm25_topk(bm25_index, "body", ["alpha"], 6))


def test_fuzzy_prefix_len_restricts(bm25_index):
    # "eta" at d=1 reaches beta/zeta/eta; prefix_len=1 keeps only terms
    # starting with "e"
    wide = _rows(bm25_fuzzy_topk(bm25_index, "body", ["eta"], 10, max_dist=1))
    narrow = _rows(
        bm25_fuzzy_topk(
            bm25_index, "body", ["eta"], 10, max_dist=1, prefix_len=1
        )
    )
    assert narrow == _rows(bm25_topk(bm25_index, "body", ["eta"], 10))
    assert {d for d, _ in narrow} < {d for d, _ in wide}


def test_fuzzy_no_match_empty(bm25_index):
    assert (
        bm25_fuzzy_topk(bm25_index, "body", ["qqqqqq"], 5, max_dist=1).collect()
        == []
    )


# --------------------- facets over the hit set ---------------------

from veloci_spark.bm25 import bm25_facets  # noqa: E402


@pytest.fixture(scope="module")
def faceted_index(spark, tmp_root):
    rows = [
        (i, txt, ("en" if i % 2 == 0 else "de"), f"g{i % 3}")
        for i, txt in CORPUS
    ]
    cfg = IndexConfig(
        fields=(FieldConfig("body", bm25=True),),
        block_docs=4,
    )
    df = spark.createDataFrame(rows, "doc_id long, body string, lang string, grp string")
    out = os.path.join(tmp_root, "bm25_facet_index")
    return build_index(spark, df, cfg, out, resume=False)


def test_facets_match_naive(faceted_index):
    naive, _, _ = _naive_bm25(["alpha", "gamma"])
    per_doc = {}
    for (_, i), s in naive.items():
        per_doc[i] = per_doc.get(i, 0) + s
    langs = {i: ("en" if i % 2 == 0 else "de") for i, _ in CORPUS}
    agg = {}
    for i, s in per_doc.items():
        v = langs[i]
        n, m = agg.get(v, (0, 0))
        agg[v] = (n + 1, m + s)
    want = sorted(
        (("lang", v, n, m, len(agg)) for v, (n, m) in agg.items()),
        key=lambda r: (-r[2], r[1]),
    )
    got = [
        (r["col"], r["value"], r["n_docs"], r["sum_score_e4"], r["n_values"])
        for r in bm25_facets(
            faceted_index, "body", ["alpha", "gamma"], ["lang"], top_n=10
        ).collect()
    ]
    assert got == want


def test_facets_counts_cover_hit_set_and_top_n_cuts(faceted_index):
    full = bm25_facets(
        faceted_index, "body", ["alpha", "gamma"], ["grp"], top_n=10
    ).collect()
    n_hits = bm25_topk(
        faceted_index, "body", ["alpha", "gamma"], 100
    ).count()
    assert sum(r["n_docs"] for r in full) == n_hits
    cut = bm25_facets(
        faceted_index, "body", ["alpha", "gamma"], ["grp"], top_n=1
    ).collect()
    assert len(cut) == 1
    # the cardinality is the FULL distinct count even when top_n cuts
    assert cut[0]["n_values"] == len({r["value"] for r in full})


def test_facets_validation_and_empty(faceted_index):
    with pytest.raises(ValueError):
        bm25_facets(faceted_index, "body", ["alpha"], [])
    with pytest.raises(ValueError):
        bm25_facets(faceted_index, "body", ["alpha"], ["nope"])
    assert (
        bm25_facets(faceted_index, "body", ["zz_missing"], ["lang"]).collect()
        == []
    )
