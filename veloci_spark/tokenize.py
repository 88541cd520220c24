"""Tokenizer with the reference's run-partition semantics.

Reference: `SimpleTokenizerCharsIterateGroupTokens`
(/root/reference/src/tokenizer/simple_tokenizer_group.rs:1-83): a text is
partitioned into maximal runs of separator chars / non-separator chars,
in order; both kinds are emitted as tokens (separator runs carry an
is-separator flag). `"das \n ist ein txt, test"` →
`["das", " \n ", "ist", " ", "ein", " ", "txt", ", ", "test"]`.

That partition is exactly the regex alternation `[^S]+|[S]+` over the
separator class `S` (:func:`run_pattern`). The index build tokenizes
with it in one Arrow-batched pass (`build._token_stats_map`, a
vectorized `Series.str.findall` fused with the per-value token
aggregate). The distinct-text tree edges (`build._build_texts`) use the
same pattern JVM-side through `regexp_extract_all` (:func:`tokenize_expr`),
and the query-side verify kernels through :func:`batch_run_tokenizer`.
No per-row Python anywhere.

Positions: the reference counts *every* run (separator runs included)
when assigning token positions and the text-length norm
(/root/reference/src/create.rs:240-283: `current_token_pos += 1` per
emitted token, `num_tokens_in_text` = total run count). Separator-run
tokens also receive posting entries. We reproduce both.
"""

from __future__ import annotations

import re
from typing import Iterable, Iterator, Sequence

from pyspark.sql import Column, functions as F

from veloci_spark.config import DEFAULT_SEPARATORS

# Chars that need escaping inside a character class, portably across
# Python `re`, Java regex (Spark) and RE2 (DuckDB).
_CLASS_ESCAPE = set("\\]^-[&")
_CTRL = {"\t": "\\t", "\n": "\\n", "\r": "\\r"}


def _class_body(separators: Sequence[str]) -> str:
    out = []
    for ch in separators:
        if ch in _CTRL:
            out.append(_CTRL[ch])
        elif ch in _CLASS_ESCAPE:
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "".join(out)


def run_pattern(separators: Sequence[str] = DEFAULT_SEPARATORS, grouped: bool = True) -> str:
    """Regex matching one run; portable across Python / Java regex / RE2.

    grouped=True → `SimpleTokenizerCharsIterateGroupTokens` semantics
    (maximal separator runs are one token); grouped=False → ungrouped
    `SimpleTokenizer` semantics: every separator char is its own token
    ("ok---nice" → ok, -, -, -, nice;
    /root/reference/src/tokenizer/simple_tokenizer.rs:1-73)."""
    body = _class_body(separators)
    if grouped:
        return f"[^{body}]+|[{body}]+"
    return f"[^{body}]+|[{body}]"


def sep_class(separators: Sequence[str] = DEFAULT_SEPARATORS) -> str:
    """Just the separator character class `[S]` (for is-separator tests)."""
    return f"[{_class_body(separators)}]"


# ---------------------------------------------------------------------------
# JVM-side tokenization (whole-stage codegen, no Python)
# ---------------------------------------------------------------------------

def tokenize_expr(
    col: Column | str,
    separators: Sequence[str] = DEFAULT_SEPARATORS,
    grouped: bool = True,
) -> Column:
    """array<string> of runs, in order (tokens and separator groups)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(run_pattern(separators, grouped)), 0)


def has_tokens_expr(runs: Column) -> Column:
    """Reference `has_tokens`: the iterator yields >= 2 items
    (/root/reference/src/tokenizer/simple_tokenizer_group.rs:10-15)."""
    return F.size(runs) >= F.lit(2)


# ---------------------------------------------------------------------------
# Pure-Python reference implementation (tests / query-side single strings)
# ---------------------------------------------------------------------------

def batch_run_tokenizer(
    separators: Sequence[str] = DEFAULT_SEPARATORS, grouped: bool = True
):
    """(findall, sep_set) pair for per-doc batch verify kernels: the
    compiled run_pattern's findall segments text into exactly the runs
    py_tokenize yields (same alternation the JVM tokenize_expr and the
    DuckDB oracles compile), at C speed instead of the reference
    char-loop; a run is a separator run iff its first char is in
    sep_set.  Equivalence pinned in tests/test_r06_kernels.py."""
    pat = re.compile(run_pattern(separators, grouped))
    return pat.findall, frozenset(separators)


def py_tokenize(
    text: str,
    separators: Iterable[str] = DEFAULT_SEPARATORS,
    grouped: bool = True,
) -> Iterator[tuple[str, bool]]:
    """Yield (run, is_separator) exactly like the reference iterators
    (grouped → simple_tokenizer_group.rs; ungrouped → simple_tokenizer.rs,
    one yield per separator char)."""
    seps = set(separators)
    if not text:
        return
    start = 0
    cur_is_sep = text[0] in seps
    for i, ch in enumerate(text):
        is_sep = ch in seps
        if is_sep != cur_is_sep:
            yield text[start:i], cur_is_sep
            start = i
            cur_is_sep = is_sep
        elif is_sep and not grouped and i > start:
            yield text[start:i], True
            start = i
    yield text[start:], cur_is_sep


# ---------------------------------------------------------------------------
# Query-side text normalization (reference /root/reference/src/util.rs:11-29)
# ---------------------------------------------------------------------------

_NORMALIZE_STEPS: list[tuple["re.Pattern[str]", str]] = [
    (re.compile(r"\([fmn\d]\)"), " "),   # strip gender/number markers "(f)"
    (re.compile(r"[()]"), " "),          # remove braces
    (re.compile(r"[{}'\"“]"), ""),       # remove quotes/curlies
    (re.compile(r"\s\s+"), " "),         # collapse whitespace runs
    (re.compile(r"[,.…;・’-]"), ""),      # remove punctuation
]


def normalize_text(text: str) -> str:
    """Query-side normalization, step-for-step the reference's
    `normalize_text` (applied to query terms before the dictionary scan,
    /root/reference/src/search/search_field.rs:234)."""
    out = text
    for pat, repl in _NORMALIZE_STEPS:
        out = pat.sub(repl, out)
    return out.lower().strip()


def py_has_tokens(text: str, separators: Iterable[str] = DEFAULT_SEPARATORS) -> bool:
    it = py_tokenize(text, separators)
    next(it, None)
    return next(it, None) is not None
