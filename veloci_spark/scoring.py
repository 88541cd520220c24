"""Normative score formulas (rank-identity with the reference).

Index-time token score — reference
/root/reference/src/create/calculate_score.rs:34-49:

    base = 400 if exact else 2000 / (log2(pos + 10) + 10)
    occ  = log10(num_occurences + 1000) - 2;  occ -= (occ - 1) * 0.7
    len  = log10(num_tokens_in_text + 10);    len -= (len - 1) * 0.7
    score = u32_trunc(base / occ / len)

Query-time term score — /root/reference/src/search/search_field.rs:27-33:

    2.0 / (distance + 0.2)            # plain
    2.0 / (log2(distance + 1) + 0.2)  # prefix match

Hit score — /root/reference/src/search/search_field.rs:426:
    term_score * stored_score / 100, max per doc.

Determinism note: the reference computes in f32; we compute in float64
so the Spark plan and the DuckDB oracle produce bit-identical values
(f32 would round differently at each step in each engine). The u32
truncation is guarded with +1e-9 because `log2`/`log10` differ by 1 ulp
between the JVM and DuckDB's libm. Final float scores exposed to
correctness comparison are quantized to integers via
``score_e4 = floor(score * 10000 + 0.5)``.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, functions as F

TRUNC_EPS = 1e-9
EXACT_BASE = 400.0


# --------------------------- Column expressions ---------------------------

def occurrence_modifier(num_occurences: Column) -> Column:
    m = F.log10(num_occurences.cast("double") + F.lit(1000.0)) - F.lit(2.0)
    return m - (m - F.lit(1.0)) * F.lit(0.7)


def length_modifier(num_tokens: Column) -> Column:
    m = F.log10(num_tokens.cast("double") + F.lit(10.0))
    return m - (m - F.lit(1.0)) * F.lit(0.7)


def token_score_expr(best_pos: Column, num_occurences: Column, num_tokens: Column) -> Column:
    """u32-truncated index score for a (token, doc) entry (non-exact)."""
    base = F.lit(2000.0) / (F.log2(best_pos.cast("double") + F.lit(10.0)) + F.lit(10.0))
    raw = base / occurrence_modifier(num_occurences) / length_modifier(num_tokens)
    return F.floor(raw + F.lit(TRUNC_EPS)).cast("long")


def exact_text_score_expr(num_occurences: Column) -> Column:
    """Whole-text posting entry: pos=0, num_tokens=1, exact=True
    (/root/reference/src/create.rs:216-221)."""
    raw = F.lit(EXACT_BASE) / occurrence_modifier(num_occurences) / length_modifier(F.lit(1))
    return F.floor(raw + F.lit(TRUNC_EPS)).cast("long")


def merge_posting_scores(score_max: Column, n_entries: Column) -> Column:
    """Multi-entry merge for the same (term, doc): max score plus a
    multi-hit bonus capped at 5 — but single entries pass through
    unchanged (/root/reference/src/create.rs:389-448
    `stream_iter_to_anchor_score` + `dedup_keep_best_score_by`)."""
    return F.when(n_entries > 1, score_max + F.least(n_entries, F.lit(5))).otherwise(score_max)


def term_score_expr(distance: Column, prefix_matches: Column) -> Column:
    d = distance.cast("double")
    return F.when(
        prefix_matches,
        F.lit(2.0) / (F.log2(d + F.lit(1.0)) + F.lit(0.2)),
    ).otherwise(F.lit(2.0) / (d + F.lit(0.2)))


def score_e4(score: Column) -> Column:
    """Hash-stable integer quantization of a float score for correctness
    comparison across engines."""
    return F.floor(score * F.lit(10000.0) + F.lit(0.5)).cast("long")


# ------------------------ Python mirrors (tests) --------------------------

def py_occurrence_modifier(n: int) -> float:
    m = math.log10(n + 1000.0) - 2.0
    return m - (m - 1.0) * 0.7


def py_length_modifier(n: int) -> float:
    m = math.log10(n + 10.0)
    return m - (m - 1.0) * 0.7


def py_token_score(best_pos: int, num_occurences: int, num_tokens: int, is_exact: bool = False) -> int:
    base = EXACT_BASE if is_exact else 2000.0 / (math.log2(best_pos + 10.0) + 10.0)
    raw = base / py_occurrence_modifier(num_occurences) / py_length_modifier(1 if is_exact else num_tokens)
    return int(math.floor(raw + TRUNC_EPS))


def py_term_score(distance: int, prefix_matches: bool) -> float:
    if prefix_matches:
        return 2.0 / (math.log2(distance + 1.0) + 0.2)
    return 2.0 / (distance + 0.2)


def py_score_e4(score: float) -> int:
    return int(math.floor(score * 10000.0 + 0.5))


# ----------------------------- SQL fragments ------------------------------
# Shared by the DuckDB oracle generator so both engines evaluate the exact
# same double-precision expression tree.

def sql_occ_mod(n: str) -> str:
    # NB: op-for-op identical to the Column/python versions — algebraic
    # simplification (0.3*m + 0.7) would round differently in float64.
    m = f"(log10(({n}) + 1000.0) - 2.0)"
    return f"({m} - ({m} - 1.0) * 0.7)"


def sql_len_mod(n: str) -> str:
    m = f"log10(({n}) + 10.0)"
    return f"({m} - ({m} - 1.0) * 0.7)"


def sql_token_score(pos: str, occ: str, ntok: str) -> str:
    return (
        f"CAST(floor(2000.0 / (log2(({pos}) + 10.0) + 10.0) / "
        f"{sql_occ_mod(occ)} / {sql_len_mod(ntok)} + 1e-9) AS BIGINT)"
    )


def sql_exact_text_score(occ: str) -> str:
    return (
        f"CAST(floor(400.0 / {sql_occ_mod(occ)} / {sql_len_mod('1')} + 1e-9) AS BIGINT)"
    )


def sql_score_e4(score: str) -> str:
    return f"CAST(floor(({score}) * 10000.0 + 0.5) AS BIGINT)"
