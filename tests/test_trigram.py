"""Trigram-accelerated regex search: planner soundness, candidate
pruning vs ground truth, fallback arm, degenerate inputs."""

import os

import pytest
from pyspark.sql import functions as F

from veloci_spark.build import build_index
from veloci_spark.config import FieldConfig, IndexConfig
from veloci_spark.trigram import (
    explain_plan,
    plan_regex,
    regex_search,
    trigram_postings,
)

# ----------------------------- planner -----------------------------

def test_plan_single_literal():
    assert plan_regex("abcde") == [
        frozenset({"abc", "bcd", "cde"})
    ]


def test_plan_alternation_or_of_ands():
    plan = plan_regex(r"merge (sort|join)")
    assert len(plan) == 2
    assert frozenset({"mer", "erg", "rge", "ge ", "sor", "ort"}) in plan
    assert frozenset({"mer", "erg", "rge", "ge ", "joi", "oin"}) in plan


def test_plan_gap_requires_both_sides():
    assert plan_regex(r"spark.*join") == [
        frozenset({"spa", "par", "ark", "joi", "oin"})
    ]


def test_plan_repeat_min_one_required_once():
    assert plan_regex(r"(abc)+def") == [frozenset({"abc", "def"})]


def test_plan_optional_tail_breaks_run():
    # 'u?' splits the run: only 'colo' is required
    assert plan_regex(r"colou?r") == [frozenset({"col", "olo"})]


@pytest.mark.parametrize(
    "pat",
    [
        r"ab",              # no literal of >= 3 chars
        r"(foo|ba)",        # one alternative unprunable -> all unprunable
        r"[0-9]{4}",        # class only
        r"(?i)merge",       # inline ignore-case: trigrams are case-exact
        r"a(bc)d",          # conservative run-splitting leaves < 3-char runs
        r"(",               # parse error
    ],
)
def test_plan_unindexable(pat):
    assert plan_regex(pat) is None


def test_plan_anchors_and_word_boundaries_ignored():
    assert plan_regex(r"^\bmerge\b$") == [frozenset({"mer", "erg", "rge"})]


def test_explain_plan_shape():
    ex = explain_plan(r"merge (sort|join)")
    assert ex["indexable"] and len(ex["alternatives"]) == 2
    assert explain_plan(r"ab") == {"indexable": False, "alternatives": []}


# ----------------------------- execution -----------------------------

GREP_CORPUS = [
    (0, "src/a.py", "merge sort beats bubble sort"),
    (1, "src/b.py", "hash join then merge join fallback"),
    (2, "src/c.rs", "no relevant words here"),
    (3, "src/d.rs", "spark window join"),
    (4, "src/e.go", "mergesort is one word"),
    (5, "src/f.go", None),
    (6, "src/g.py", "ab"),  # shorter than one trigram
    (7, "src/h.py", "sort then merge sort again"),
]


@pytest.fixture(scope="module")
def grep_index(spark, tmp_root):
    cfg = IndexConfig(
        fields=(FieldConfig("body", bm25=True, native_postings=False),),
        block_docs=4,
    )
    df = spark.createDataFrame(GREP_CORPUS, "doc_id long, path string, body string")
    out = os.path.join(tmp_root, "grep_index")
    return build_index(spark, df, cfg, out, resume=False)


def _ground_truth(idx, pattern):
    return [
        (r["doc_id"], r["path"])
        for r in idx.docstore()
        .where(F.col("body").rlike(pattern))
        .select("doc_id", "path")
        .orderBy("doc_id")
        .collect()
    ]


@pytest.mark.parametrize(
    "pattern",
    [
        r"merge (sort|join)",
        r"merge sort",
        r"spark.*join",
        r"sort( again)?",
        r"\bmerge\b",
    ],
)
def test_indexed_regex_equals_full_scan(grep_index, pattern):
    assert plan_regex(pattern) is not None
    got = [
        (r["doc_id"], r["path"])
        for r in regex_search(grep_index, "body", pattern).collect()
    ]
    assert got == _ground_truth(grep_index, pattern)


def test_fallback_regex_equals_full_scan(grep_index):
    pattern = r"(spark|ab)"  # unindexable: 'ab' branch
    assert plan_regex(pattern) is None
    got = [
        (r["doc_id"], r["path"])
        for r in regex_search(grep_index, "body", pattern).collect()
    ]
    assert got == _ground_truth(grep_index, pattern)
    assert (6, "src/g.py") in got  # the short doc only the fallback can find


def test_no_match_is_empty_not_error(grep_index):
    assert regex_search(grep_index, "body", r"zzz_nothing").collect() == []


def test_limit_is_deterministic_prefix(grep_index):
    full = regex_search(grep_index, "body", r"\bsort\b").collect()
    lim = regex_search(grep_index, "body", r"\bsort\b", limit=2).collect()
    assert lim == full[:2]


def test_postings_are_distinct_and_bucketed(grep_index):
    post = trigram_postings(grep_index, "body")
    assert post.columns == ["doc_id", "tri", "bucket"] or set(
        post.columns
    ) == {"doc_id", "tri", "bucket"}
    total = post.count()
    assert post.select("tri", "doc_id").distinct().count() == total
    # null/short bodies contribute no postings
    assert post.where(F.col("doc_id").isin([5, 6])).count() == 0


def test_word_boundary_verification_rejects_substring(grep_index):
    # 'mergesort' (doc 4) shares the trigrams of 'merge sort' minus the
    # space — candidate pruning may keep doc 0/7 but the verifier must
    # reject doc 4 for the spaced pattern
    got = [r["doc_id"] for r in regex_search(grep_index, "body", r"merge sort").collect()]
    assert 4 not in got and 0 in got


# ------------------------- grep -n (line extraction) -------------------------

LINES_CORPUS = [
    (0, "a.py", "import os\nmerge sort here\nmerge join there\nend"),
    (1, "b.py", "merge sort on line one\nnothing\nmerge sort again"),
    (2, "c.py", "no hits at all\nstill none"),
    (3, "d.py", None),
]


@pytest.fixture(scope="module")
def lines_index(spark, tmp_root):
    cfg = IndexConfig(
        fields=(FieldConfig("body", bm25=True, native_postings=False),),
        block_docs=4,
    )
    df = spark.createDataFrame(LINES_CORPUS, "doc_id long, path string, body string")
    out = os.path.join(tmp_root, "lines_index")
    return build_index(spark, df, cfg, out, resume=False)


def test_lines_grep_n_semantics(lines_index):
    from veloci_spark.trigram import regex_search_lines

    got = [
        (r["doc_id"], r["path"], r["line_no"], r["line"])
        for r in regex_search_lines(
            lines_index, "body", r"merge (sort|join)"
        ).collect()
    ]
    assert got == [
        (0, "a.py", 2, "merge sort here"),
        (0, "a.py", 3, "merge join there"),
        (1, "b.py", 1, "merge sort on line one"),
        (1, "b.py", 3, "merge sort again"),
    ]


def test_lines_limit_prefix(lines_index):
    from veloci_spark.trigram import regex_search_lines

    full = regex_search_lines(lines_index, "body", r"merge").collect()
    lim = regex_search_lines(lines_index, "body", r"merge", limit=2).collect()
    assert lim == full[:2]


def test_lines_unindexable_pattern_full_scans(lines_index):
    from veloci_spark.trigram import regex_search_lines

    got = [
        (r["doc_id"], r["line_no"])
        for r in regex_search_lines(lines_index, "body", r"(sort|os)").collect()
    ]
    assert (0, 1) in got  # 'import os' only reachable via the fallback


# ------------------------- grep -i (case-insensitive) -------------------------

CI_CORPUS = [
    (0, "a.py", "MERGE SORT SHOUTED"),
    (1, "b.py", "merge sort quiet"),
    (2, "c.py", "Merge Sort Mixed"),
    (3, "d.py", "mergesort fused"),
    (4, "e.py", "unrelated text"),
]


@pytest.fixture(scope="module")
def ci_index(spark, tmp_root):
    cfg = IndexConfig(
        fields=(FieldConfig("body", bm25=True, native_postings=False),),
        block_docs=4,
    )
    df = spark.createDataFrame(CI_CORPUS, "doc_id long, path string, body string")
    out = os.path.join(tmp_root, "ci_index")
    return build_index(spark, df, cfg, out, resume=False)


def test_ci_search_matches_all_cases(ci_index):
    from veloci_spark.trigram import plan_regex_ci, regex_search_ci

    assert plan_regex_ci(r"Merge Sort") is not None
    got = [r["doc_id"] for r in regex_search_ci(ci_index, "body", r"Merge Sort").collect()]
    assert got == [0, 1, 2]


def test_ci_equals_case_folded_full_scan(ci_index):
    from veloci_spark.trigram import regex_search_ci

    for pat in (r"merge sort", r"MERGE (SORT|JOIN)", r"mixed$"):
        got = [r["doc_id"] for r in regex_search_ci(ci_index, "body", pat).collect()]
        want = [
            r["doc_id"]
            for r in ci_index.docstore()
            .where(F.col("body").rlike(f"(?i){pat}"))
            .select("doc_id")
            .orderBy("doc_id")
            .collect()
        ]
        assert got == want


def test_ci_case_sensitive_search_stays_exact(ci_index):
    from veloci_spark.trigram import regex_search

    got = [r["doc_id"] for r in regex_search(ci_index, "body", r"merge sort").collect()]
    assert got == [1]


def test_ci_postings_are_lowercased(ci_index):
    from veloci_spark.trigram import trigram_postings

    post = trigram_postings(ci_index, "body", ci=True)
    tris = [r["tri"] for r in post.select("tri").distinct().collect()]
    assert all(t == t.lower() for t in tris)


# ------------------------- selectivity dispatch -------------------------

def test_stats_df_matches_postings(grep_index):
    from veloci_spark.trigram import trigram_df, trigram_postings

    post = trigram_postings(grep_index, "body")
    want = {
        r["tri"]: r["cnt"]
        for r in post.groupBy("tri").agg(F.count("*").alias("cnt")).collect()
        if r["tri"] in ("mer", "sor", "zzz")
    }
    got = trigram_df(grep_index, "body", ["mer", "sor", "zzz"])
    assert got["mer"] == want["mer"] and got["sor"] == want["sor"]
    assert got["zzz"] == 0  # absent trigram → df 0


def test_select_plan_keeps_rarest_and_bounds_estimate(grep_index):
    from veloci_spark.trigram import (
        TRIS_PER_ALT,
        plan_regex,
        select_plan,
        trigram_df,
    )

    plan = plan_regex(r"merge (sort|join)")
    pruned, est = select_plan(grep_index, "body", plan)
    assert len(pruned) == 2  # both alternatives alive in the fixture
    assert all(len(tris) <= TRIS_PER_ALT for tris in pruned)
    assert all(sel <= full for sel, full in zip(map(len, pruned), map(len, plan)))
    df = trigram_df(
        grep_index, "body", sorted({t for tris in plan for t in tris})
    )
    assert est == sum(min(df[t] for t in tris) for tris in pruned)


def test_select_plan_drops_dead_alternatives(grep_index):
    from veloci_spark.trigram import plan_regex, select_plan

    # 'merge sort' alternative is alive; 'qqq zzz' requires trigrams the
    # corpus lacks and must be dropped without killing its sibling
    plan = plan_regex(r"(merge sort|qqq zzz)")
    pruned, est = select_plan(grep_index, "body", plan)
    assert len(pruned) == 1 and est > 0


def test_dead_plan_is_proven_empty_without_scanning(grep_index):
    from veloci_spark.trigram import explain_search, regex_search

    ex = explain_search(grep_index, "body", r"quantum entangle")
    assert ex["arm"] == "empty" and ex["est_candidates"] == 0
    df = regex_search(grep_index, "body", r"quantum entangle")
    plan_str = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan_str  # folded to an empty relation
    assert "FileScan" not in plan_str    # neither docstore nor postings read
    assert df.collect() == []


def test_dispatch_arms_agree(grep_index):
    from veloci_spark.trigram import regex_search

    for pat in (r"merge (sort|join)", r"spark.*join"):
        rows = {}
        for prune in ("auto", "always", "never"):
            rows[prune] = [
                (r["doc_id"], r["path"])
                for r in regex_search(grep_index, "body", pat, prune=prune).collect()
            ]
        assert rows["auto"] == rows["always"] == rows["never"]


def test_explain_search_dispatch_decision(grep_index, monkeypatch):
    from veloci_spark import trigram
    from veloci_spark.trigram import explain_search

    # a vocabulary-absent literal: proven empty from stats alone
    ex = explain_search(grep_index, "body", r"quantum entangle")
    assert ex["indexable"] and ex["arm"] == "empty"
    assert ex["est_candidates"] == 0
    # a common phrase on the tiny fixture exceeds any sane fraction
    monkeypatch.setattr(trigram, "SCAN_FRAC", 0.01)
    ex2 = explain_search(grep_index, "body", r"merge (sort|join)")
    assert ex2["indexable"] and ex2["arm"] == "scan"
    # forcing the fraction to 1.0 keeps everything indexed
    monkeypatch.setattr(trigram, "SCAN_FRAC", 1.0)
    ex3 = explain_search(grep_index, "body", r"merge (sort|join)")
    assert ex3["arm"] == "indexed"
    assert ex3["est_candidates"] <= ex3["n_docs"]


def test_unindexable_explain_is_scan(grep_index):
    from veloci_spark.trigram import explain_search

    assert explain_search(grep_index, "body", r"(spark|ab)") == {
        "indexable": False,
        "arm": "scan",
    }
