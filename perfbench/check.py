"""Correctness checks, run outside the timed window.

Search responses are compared with the engine's own DuckDB oracles
(``code_corpus._bm25_topk_sql`` and friends) evaluated over the generated
``documents.parquet``; the docstore is checked row by row against the
input's content sha256; the curate report is checked against the shares
the generator seeded.
"""

from __future__ import annotations

import os

import duckdb

from veloci_spark.code_corpus import (
    CODE_CTE,
    _bm25_phrase_sql,
    _bm25_snippet_sql,
    _bm25_topk_sql,
)
from veloci_spark.oracle import _q

SNIPPET_WINDOW = 8  # the server's default window


class Oracle:
    """DuckDB over the generated documents table."""

    def __init__(self, corpus_dir: str):
        self.con = duckdb.connect()
        path = os.path.join(corpus_dir, "documents.parquet")
        self.con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet({_q(path)})"
        )

    def rows(self, sql: str) -> list[list]:
        return [list(r) for r in self.con.execute(sql).fetchall()]

    def close(self) -> None:
        self.con.close()


def expected(oracle: Oracle, op: str, terms: list[str], top: int):
    """The oracle's answer for one bm25-family request, in the
    response's row shape; None for ops without an exact oracle."""
    if op == "bm25":
        return oracle.rows(_bm25_topk_sql(terms, top))
    if op == "phrase":
        return oracle.rows(_bm25_phrase_sql(terms, top))
    if op == "snippet":
        return oracle.rows(_bm25_snippet_sql(terms, top, SNIPPET_WINDOW))
    return None


def veloci_floor(oracle: Oracle, terms: list[str]) -> int:
    """Docs holding one of ``terms`` as an exact content token. A veloci
    OR search (fuzzy matching only adds docs) hits at least these."""
    in_list = ", ".join(_q(t) for t in terms)
    sql = (
        "WITH " + CODE_CTE + f"""
SELECT count(DISTINCT doc_id) FROM ctoks WHERE tok IN ({in_list})"""
    )
    return int(oracle.rows(sql)[0][0])


def check_response(oracle: Oracle, op: str, terms: list[str], top: int, body) -> str | None:
    """None when ``body`` is right, else a one-line reason."""
    if op == "veloci":
        floor = veloci_floor(oracle, terms)
        if not isinstance(body, dict) or body.get("num_hits", -1) < floor:
            return f"veloci {terms}: num_hits below {floor}"
        if not body.get("data"):
            return f"veloci {terms}: no hits returned"
        return None
    want = expected(oracle, op, terms, top)
    if body != want:
        return f"{op} {terms}: got {body!r:.200} want {want!r:.200}"
    return None


def check_docstore(spark, index, oracle: Oracle) -> str | None:
    """Per-row content sha256 in the docstore equals the input's."""
    from pyspark.sql import functions as F

    got = {
        r["doc_id"]: r["sha"]
        for r in index.docstore()
        .select("doc_id", F.sha2("content", 256).alias("sha"))
        .collect()
    }
    want = dict(
        oracle.rows("WITH " + CODE_CTE + "\nSELECT doc_id, sha256(content) FROM code")
    )
    if got != want:
        bad = sorted(set(got.items()) ^ set(want.items()))[:3]
        return f"docstore sha256 differs from the input on {bad}"
    return None


def check_curate(stages: dict, decontam_removed: int, rows_by_kind: dict) -> str | None:
    """Stage counts must add up and each stage must remove what the
    generator seeded for it."""
    n = sum(rows_by_kind.values())
    want_kept = n - rows_by_kind.get("low_quality", 0)
    want_exact = want_kept - rows_by_kind.get("exact_dup", 0)
    near = rows_by_kind.get("near_dup", 0)
    problems = []
    if stages["input"] != n:
        problems.append(f"input {stages['input']} != {n}")
    if stages["quality_kept"] != want_kept:
        problems.append(f"quality_kept {stages['quality_kept']} != {want_kept}")
    if stages["exact_survivors"] != want_exact:
        problems.append(f"exact_survivors {stages['exact_survivors']} != {want_exact}")
    if not (0.9 * near <= stages["neardup_removed"] <= near + 0.02 * n):
        problems.append(f"neardup_removed {stages['neardup_removed']} vs {near} seeded")
    if decontam_removed < 1:
        problems.append("decontam removed no row")
    blessed = stages["exact_survivors"] - stages["neardup_removed"] - decontam_removed
    if stages["blessed"] != blessed:
        problems.append(f"blessed {stages['blessed']} != {blessed}")
    return "; ".join(problems) or None
