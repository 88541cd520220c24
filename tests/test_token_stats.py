"""The fused tokenize+aggregate Arrow pass, pinned against plain Python.

The build tokenizes the corpus exactly once: build._token_stats_map runs
the run-regex over an Arrow batch and pandas-groupbys (value, token)
in-batch, emitting the per-value token stats and — from the SAME pass,
as rows with tok2 set — the per-value-distinct adjacent non-separator
pairs.  The reference computes the same aggregation per value inside
its create loop (reference src/create.rs:240-283), which
tests/pyref.py PyField.build mirrors; these tests derive the same rows
from tokenize.py_tokenize in plain Python and require the Spark output
to equal them row for row.
"""

from collections import Counter

import pyspark.sql.functions as F
import pytest

from veloci_spark.build import (
    _build_phrase_pairs,
    _split_stats_pairs,
    _value_token_stats,
)
from veloci_spark.config import FieldConfig
from veloci_spark.tokenize import py_tokenize

FIELDS = [
    FieldConfig(name="line", phrase_pairs=True),
    FieldConfig(name="filepath", tokenize_on_chars=("/",), phrase_pairs=True),
    FieldConfig(name="flat", tokenizer_grouped=False),
]
PAIR_FIELDS = frozenset(["line", "filepath"])

VALUES_SCHEMA = "field string, doc_id long, ordkey string, text string"

# separator-heavy code, repeated tokens, leading/trailing separators,
# empty / null / single-run texts (no token rows), unicode, a text whose
# first run is a separator group (best_pos must count it)
VALUES = [
    ("line", 0, "", "function myfun(param1: Type1)"),
    ("line", 0, "0.1", "let x = myfun(1) + myfun(2)"),
    ("line", 1, "", "  leading separators\tand  runs  "),
    ("line", 2, "", "die erbin die erbin die"),
    ("line", 3, "", "singletoken"),
    ("line", 4, "", ""),
    ("line", 5, "", None),
    ("line", 6, "", "größe straße größe"),
    ("filepath", 0, "", "all/the/path"),
    ("filepath", 1, "", "/leading/slash//double"),
    ("filepath", 2, "", "noslash"),
    ("flat", 0, "", "a  b   a b"),
    ("flat", 1, "", "x,y;x"),
]


def _py_runs():
    """(field, doc_id, ordkey, runs) per value with >= 2 runs (the
    reference's has_tokens), runs = [(tok, is_sep), ...]."""
    by_name = {fc.name: fc for fc in FIELDS}
    for field, doc_id, ordkey, text in VALUES:
        fc = by_name[field]
        runs = list(py_tokenize(text or "", fc.separators(), fc.tokenizer_grouped))
        if len(runs) >= 2:
            yield field, doc_id, ordkey, runs


def _py_stats():
    """Per (value, token): best_pos, cnt_all, cnt_nonsep — the per-value
    derivation of PyField.build (tests/pyref.py)."""
    out = []
    for field, doc_id, ordkey, runs in _py_runs():
        best_pos: dict[str, int] = {}
        cnt_all: Counter = Counter()
        cnt_nonsep: Counter = Counter()
        for pos, (tok, is_sep) in enumerate(runs):
            best_pos.setdefault(tok, pos)
            cnt_all[tok] += 1
            cnt_nonsep[tok] += 0 if is_sep else 1
        out.extend(
            (field, doc_id, ordkey, len(runs), tok, bp, cnt_all[tok], cnt_nonsep[tok])
            for tok, bp in best_pos.items()
        )
    return sorted(out)


def _py_value_pairs():
    """(field, doc_id, tok1, tok2): the per-value-distinct adjacent
    non-separator pairs of the pair fields — the chain resets per value
    (reference src/create.rs:251-263)."""
    out = []
    for field, doc_id, _ordkey, runs in _py_runs():
        if field not in PAIR_FIELDS:
            continue
        words = [tok for tok, is_sep in runs if not is_sep]
        out.extend((field, doc_id, a, b) for a, b in set(zip(words, words[1:])))
    return sorted(out)


@pytest.fixture(scope="module")
def values(spark):
    return spark.createDataFrame(VALUES, VALUES_SCHEMA)


@pytest.fixture(scope="module")
def fused(values):
    return _value_token_stats(values, FIELDS, PAIR_FIELDS)


def _collect_stats(df):
    return sorted(
        (r.field, r.doc_id, r.ordkey, r.num_tokens, r.tok, r.best_pos,
         r.cnt_all, r.cnt_nonsep)
        for r in df.collect()
    )


def test_fused_stats_match_python(fused):
    stats, _ = _split_stats_pairs(fused)
    got = _collect_stats(stats)
    assert got == _py_stats()
    assert len(got) > 0
    # spot invariants: the leading-separator value counts the separator
    # run at pos 0, so the first word token sits at best_pos 1
    by_key = {(f, d, o, t): (bp, ca, cn) for f, d, o, _, t, bp, ca, cn in got}
    assert by_key[("line", 1, "", "leading")][0] == 1
    # repeated token: 3 occurrences, all non-separator
    assert by_key[("line", 2, "", "die")] == (0, 3, 3)
    # ungrouped tokenizer: each separator char is its own run
    assert ("flat", 0, "", "a") in by_key
    assert by_key[("flat", 0, "", " ")][1] >= 4  # every single space run


def test_fused_stats_dtypes(fused):
    """The fused pass emits the schema its join consumers expect (int32
    positions and token counts, int64 occurrence counts)."""
    assert fused.dtypes == [
        ("field", "string"),
        ("doc_id", "bigint"),
        ("ordkey", "string"),
        ("num_tokens", "int"),
        ("tok", "string"),
        ("best_pos", "int"),
        ("cnt_all", "bigint"),
        ("cnt_nonsep", "bigint"),
        ("tok2", "string"),
    ]


def test_fused_phrase_pairs_match_python(spark, fused):
    _, pairs_src = _split_stats_pairs(fused)
    raw = sorted(
        (r["field"], r["doc_id"], r["__tok1"], r["__tok2"])
        for r in pairs_src.collect()
    )
    assert raw == _py_value_pairs()

    # deterministic per-field term ids from the python token universe
    terms = sorted({(f, t) for f, _, _, _, t, *_ in _py_stats()})
    ids = {ft: i for i, ft in enumerate(terms)}
    dictionary = spark.createDataFrame(
        [(f, t, i) for (f, t), i in ids.items()],
        "field string, term string, term_id long",
    )
    pairs = _build_phrase_pairs(pairs_src, dictionary)
    key = lambda r: (r.field, r.term_id_1, r.term_id_2, r.doc_id)
    want = sorted(
        {(f, ids[(f, a)], ids[(f, b)], d) for f, d, a, b in _py_value_pairs()}
    )
    assert sorted(map(key, pairs.collect())) == want
    # adjacency skips separator runs and resets per value: doc 2's
    # "die erbin die erbin die" yields both orders, deduped
    got = {
        (r.term_id_1, r.term_id_2)
        for r in pairs.where("field='line' and doc_id=2").collect()
    }
    die, erbin = ids[("line", "die")], ids[("line", "erbin")]
    assert got == {(die, erbin), (erbin, die)}


def test_pair_rows_only_for_pair_fields(values, fused):
    """Without pair_fields the fused pass emits NO pair rows; with them,
    pair rows appear only for those fields (the 'flat' field never gets
    pairs even when others do)."""
    none = _value_token_stats(values, FIELDS, frozenset())
    assert none.where(F.col("tok2").isNotNull()).count() == 0
    _, pairs = _split_stats_pairs(fused)
    assert pairs.where(F.col("field") == "flat").count() == 0
    assert pairs.where(F.col("field") == "filepath").count() > 0
