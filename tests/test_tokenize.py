"""Tokenizer vectors from the reference
(/root/reference/src/tokenizer/mod.rs:39-77)."""

import pytest

from veloci_spark.tokenize import (
    py_has_tokens,
    py_tokenize,
    run_pattern,
    tokenize_expr,
)


def toks(text, seps=None):
    if seps is None:
        return [t for t, _ in py_tokenize(text)]
    return [t for t, _ in py_tokenize(text, seps)]


def test_grouped_separators():
    assert toks("das \n ist ein txt, test") == [
        "das", " \n ", "ist", " ", "ein", " ", "txt", ", ", "test",
    ]


def test_leading_separator():
    assert toks(" Taschenbuch (kartoniert)") == [
        " ", "Taschenbuch", " (", "kartoniert", ")",
    ]


def test_single_char_token():
    assert toks("T oll") == ["T", " ", "oll"]


def test_grouped_consecutive():
    assert toks("ok---nice") == ["ok", "---", "nice"]


def test_separator_flags():
    flags = list(py_tokenize("das \n ist"))
    assert flags == [("das", False), (" \n ", True), ("ist", False)]


def test_has_tokens():
    assert py_has_tokens("a b")
    assert py_has_tokens(" a")
    assert not py_has_tokens("test")
    assert not py_has_tokens("")
    assert not py_has_tokens("   ")  # one separator run only


def test_custom_separators():
    # filepath tokenization (test_code_search.rs:14-26)
    assert toks("all/the/path", ("/", "\\")) == ["all", "/", "the", "/", "path"]


def test_python_regex_equivalence():
    import re

    pat = re.compile(run_pattern())
    for text in [
        "das \n ist ein txt, test",
        " Taschenbuch (kartoniert)",
        "ok---nice",
        "function myfun(param1: Type1)",
        "a",
        "",
    ]:
        assert pat.findall(text) == toks(text)


def test_jvm_tokenizer_matches_python(spark):
    texts = [
        ("das \n ist ein txt, test",),
        (" Taschenbuch (kartoniert)",),
        ("function myfun(param1: Type1)",),
        ("ok---nice",),
        ("…unicode—seps・here™",),
    ]
    df = spark.createDataFrame(texts, "text string")
    rows = df.select(tokenize_expr("text")).collect()
    for (text,), row in zip(texts, rows):
        assert row[0] == toks(text), text


# ---------------------------------------------------------------------------
# Ungrouped SimpleTokenizer variant + query-side normalize_text (round 2)
# ---------------------------------------------------------------------------

def test_ungrouped_separators():
    # the reference's own inline example, simple_tokenizer.rs:3-4
    from veloci_spark.tokenize import py_tokenize

    assert list(py_tokenize("ok---nice", grouped=False)) == [
        ("ok", False), ("-", True), ("-", True), ("-", True), ("nice", False)
    ]


def test_ungrouped_regex_matches_python():
    import re
    from veloci_spark.tokenize import py_tokenize, run_pattern

    pat = re.compile(run_pattern(grouped=False))
    for text in ["ok---nice", " lead", "trail  ", "a", "", "a b,,c"]:
        assert re.findall(pat, text) == [t for t, _ in py_tokenize(text, grouped=False)]


def test_normalize_text():
    # vectors from /root/reference/src/util.rs:11-29 regex list
    from veloci_spark.tokenize import normalize_text

    assert normalize_text("Majestät (f)") == "majestät"
    assert normalize_text("majestätischer Anblick (m)") == "majestätischer anblick"
    assert normalize_text('{a} "b" c-d') == "a b cd"
    assert normalize_text("x,y.z…w;v’u") == "xyzwvu"
    assert normalize_text("a\t\tb   c") == "a b c"
    assert normalize_text("(abc)") == "abc"
