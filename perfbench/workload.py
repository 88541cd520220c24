"""The shared set-up and the closed-loop request driver.

Four op types go through ``VelociApp.handle``:

* ``veloci``  — ``GET /code/search?query=`` (generator + native executor)
* ``bm25``    — ``POST /code/bm25`` mode ``or`` (planner-dispatched top-k)
* ``snippet`` — ``POST /code/bm25`` mode ``snippet`` (top-k + fragment verify)
* ``phrase``  — ``POST /code/bm25`` mode ``phrase`` (pair chain + positional verify)

Each workload sends two of them in turn: query ``i`` of its log is sent
as ``ops[i % 2]``. Percentiles are taken per op type, never over the mix.
"""

from __future__ import annotations

import dataclasses
import time
from dataclasses import dataclass

OPS = ("veloci", "bm25", "snippet", "phrase")
TOP = 10
FIELD = "content"
_MODE = {"bm25": "or", "snippet": "snippet", "phrase": "phrase"}


def index_config():
    """``CODE_CONFIG`` with native postings on ``content``: one index
    serves veloci and BM25 ops, and the build runs all five stages
    (docstore, dictionary, postings, phrase, bm25)."""
    from veloci_spark.code_corpus import CODE_CONFIG

    fields = tuple(
        dataclasses.replace(f, native_postings=True) if f.name == FIELD else f
        for f in CODE_CONFIG.fields
    )
    return dataclasses.replace(CODE_CONFIG, fields=fields)


def build(spark, corpus_dir: str, out_dir: str) -> float:
    """One cold build of the generated corpus into a fresh directory;
    returns its wall seconds."""
    from veloci_spark.build import build_index
    from veloci_spark.code_corpus import code_corpus

    t0 = time.perf_counter()
    build_index(spark, code_corpus(spark, corpus_dir), index_config(), out_dir,
                resume=False)
    return time.perf_counter() - t0


def request(app, op: str, terms: list[str]):
    """One request through the server's public surface: (status, body)."""
    if op == "veloci":
        return app.handle("GET", "/code/search", query={
            "query": " ".join(terms), "fields": FIELD, "top": str(TOP)})
    return app.handle("POST", "/code/bm25", body={
        "field": FIELD, "terms": list(terms), "top": TOP, "mode": _MODE[op]})


def comparable(op: str, body):
    """The part of a response that must not depend on timing."""
    if op == "veloci" and isinstance(body, dict):
        return {k: v for k, v in body.items() if k != "execution_time_ns"}
    return body


@dataclass
class Record:
    i: int
    op: str
    terms: list
    t0: float
    t1: float
    status: int
    body: object
    error: str | None = None
    extra: dict | None = None

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0

    @property
    def ok(self) -> bool:
        return self.status == 200 and self.error is None


def closed_loop(app, ops: tuple, todo: list[tuple[int, list]],
                seconds: float | None, before=None) -> list[Record]:
    """One client sends ``(i, terms)`` from ``todo`` in order as op
    ``ops[i % len(ops)]``, each request after the previous one returned;
    none starts after ``seconds`` (``None``: run ``todo`` to its end).
    ``before(rec)`` (traced run only) is called ahead of each request,
    outside its timed interval."""
    records: list[Record] = []
    deadline = None if seconds is None else time.perf_counter() + seconds
    for i, terms in todo:
        if deadline is not None and time.perf_counter() >= deadline:
            break
        rec = Record(i, ops[i % len(ops)], terms, 0.0, 0.0, 0, None)
        if before is not None:
            before(rec)
        rec.t0 = time.perf_counter()
        try:
            rec.status, rec.body = request(app, rec.op, terms)
        except Exception as e:  # noqa: BLE001 — counted as failed
            rec.error = f"{type(e).__name__}: {e}"
        rec.t1 = time.perf_counter()
        records.append(rec)
    return records
