"""Seeded input generator: one corpus, the curate extras and both query logs.

Everything the benchmark feeds the engine comes from ``make_inputs(seed,
out_dir)``. The same seed gives byte-identical files and query
lists.

Documents have the shape of the fixture ``documents.parquet`` (doc_id,
text, lang, source, n_chars), so ``code_corpus.code_corpus`` and its
DuckDB ``CODE_CTE`` oracle read the directory unchanged. Text is drawn
from a Zipf(1) vocabulary, so a few head terms match nearly every
document while tail terms match one or two. Lines are ~8 words, so the
code-quality battery keeps ordinary documents and drops only the
seeded low-quality ones.
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS = 1_500
VOCAB = 20_000
#: ranks [0, HEAD) are the head terms of the popular-query pool;
#: ranks >= TAIL are the selective terms of the lookup log
HEAD = 50
TAIL = 2_000
WORDS_PER_LINE = 8
DOC_TOKENS = (40, 70)

#: seeded shares of the corpus (of N_DOCS) that each curate stage must
#: remove or rewrite
SHARES = {
    "exact_dup": 0.04,   # byte-identical copy of an earlier doc's text
    "near_dup": 0.04,    # copy with two tokens replaced (3-shingle J ~0.8)
    "low_quality": 0.04, # one >1000-char line, or an auto-generated banner
    "pii": 0.03,         # an e-mail address the redact stage rewrites
}
EVAL_TEXTS = 40
EVAL_CONTAMINATED = 0.5  # share of eval texts quoting a 6-token corpus span
POOL_SIZE = 50           # popular code_results queries
LOOKUP_PAIRS = 2_000     # distinct selective-term pairs for code_lookup
RESULTS_DRAWS = 2_000    # Zipf draws from the popular pool
WARMUP_LOOKUP = 16       # warm-up pairs of code_lookup, none in its log
WARMUP_POOL = 6          # warm-up queries of code_results, none in its pool
PLANTED = 3              # docs each popular query's run is planted into
SHAPE_SEED = 0           # fixes the popular pool's rank shape, see below

_LANGS = ("en", "de", "es", "fr", "zh", "ja")


@dataclass
class Inputs:
    seed: int
    corpus_dir: str          # holds documents.parquet
    eval_path: str           # eval.parquet (text)
    n_docs: int
    input_bytes: int         # sum of UTF-8 text bytes
    shares: dict
    lookup: list = field(default_factory=list)        # [[t1, t2], ...]
    results: list = field(default_factory=list)       # [[t1, t2(, t3)], ...]
    warm_lookup: list = field(default_factory=list)
    warm_results: list = field(default_factory=list)
    stats: dict = field(default_factory=dict)

    def describe(self) -> dict:
        d = asdict(self)
        for k in ("lookup", "results", "warm_lookup", "warm_results"):
            d.pop(k)
        return d


def _vocab(rng: np.random.Generator) -> list[str]:
    """VOCAB distinct lowercase words of 5-8 letters: no digits, no
    separators, and never one of the code wrapper tokens (fn, doc, src,
    py, rs, go, js) the corpus derivation adds."""
    words: set[str] = set()
    out: list[str] = []
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    while len(out) < VOCAB:
        n = VOCAB - len(out)
        lens = rng.integers(5, 9, size=n)
        chars = rng.choice(letters, size=(n, 8))
        for row, ln in zip(chars, lens):
            w = "".join(row[:ln])
            if w not in words:
                words.add(w)
                out.append(w)
    return out


def _lines(tokens: list[str]) -> str:
    return "\n".join(
        " ".join(tokens[i:i + WORDS_PER_LINE])
        for i in range(0, len(tokens), WORDS_PER_LINE)
    )


def make_inputs(seed: int, out_dir: str) -> Inputs:
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng)
    p = 1.0 / np.arange(1, VOCAB + 1)
    p /= p.sum()

    n_exact = int(N_DOCS * SHARES["exact_dup"])
    n_near = int(N_DOCS * SHARES["near_dup"])
    n_base = N_DOCS - n_exact - n_near
    lens = rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1, size=n_base)
    ranks = rng.choice(VOCAB, size=int(lens.sum()), p=p)
    base: list[list[int]] = np.split(ranks, np.cumsum(lens)[:-1])
    base = [list(map(int, r)) for r in base]

    kind = ["plain"] * n_base
    low = rng.choice(n_base, size=int(N_DOCS * SHARES["low_quality"]), replace=False)
    for i in low:
        kind[i] = "low_quality"
    rest = np.setdiff1d(np.arange(n_base), low)
    pii = rng.choice(rest, size=int(N_DOCS * SHARES["pii"]), replace=False)
    for i in pii:
        kind[i] = "pii"
    plain = np.array([i for i in range(n_base) if kind[i] == "plain"])

    # code_results queries: the SHAPE of the popular pool (term ranks per
    # query and the Zipf draw order) is fixed, so runs with different
    # seeds measure the same work; the seed picks the spellings, the
    # corpus and the docs each popular run is planted into, so every op
    # type (phrase too) matches it.
    shape = np.random.default_rng(SHAPE_SEED)
    tuples: list[tuple] = []
    while len(tuples) < POOL_SIZE + WARMUP_POOL:
        t = tuple(int(r) for r in shape.choice(HEAD, size=2, replace=False))
        if t not in tuples:
            tuples.append(t)
    zp = 1.0 / np.arange(1, POOL_SIZE + 1)
    zp /= zp.sum()
    draws = shape.choice(POOL_SIZE, size=RESULTS_DRAWS, p=zp)
    hosts = rng.choice(plain, size=(len(tuples), PLANTED), replace=False)
    for t, docs in zip(tuples, hosts):
        for d in docs:
            at = int(rng.integers(0, len(base[d]) - len(t)))
            base[d][at:at + len(t)] = t

    texts = [_lines([vocab[r] for r in toks]) for toks in base]
    for j, i in enumerate(low):
        words = " ".join(vocab[r] for r in base[i])
        if j % 2 == 0:
            # one line far past the 1000-char max_line_len limit
            texts[i] = " ".join([words] * (1 + 1100 // max(len(words), 1)))
        else:
            texts[i] = "// auto-generated by tool, do not edit\n" + texts[i]
    for i in pii:
        user, host = rng.integers(0, VOCAB, size=2)
        texts[i] += f"\ncontact {vocab[user]}@{vocab[host]}.com"

    # duplicates copy plain base docs only, so each dup is one finding
    src_exact = rng.choice(plain, size=n_exact, replace=False)
    src_near = rng.choice(np.setdiff1d(plain, src_exact), size=n_near, replace=False)
    rows = [(t, k) for t, k in zip(texts, kind)]
    rows += [(texts[i], "exact_dup") for i in src_exact]
    for i in src_near:
        toks = list(base[i])
        for pos in rng.choice(len(toks), size=2, replace=False):
            toks[pos] = int(rng.integers(TAIL, VOCAB))
        rows.append((_lines([vocab[r] for r in toks]), "near_dup"))
    order = rng.permutation(len(rows))
    rows = [rows[i] for i in order]

    corpus_dir = os.path.join(out_dir, "corpus")
    os.makedirs(corpus_dir, exist_ok=True)
    text_col = [t for t, _ in rows]
    table = pa.table({
        "doc_id": pa.array(np.arange(len(rows)), pa.int64()),
        "text": pa.array(text_col, pa.string()),
        "lang": pa.array([_LANGS[i % len(_LANGS)] for i in range(len(rows))]),
        "source": pa.array([f"src{i % 7}" for i in range(len(rows))]),
        "n_chars": pa.array([len(t) for t in text_col], pa.int64()),
    })
    pq.write_table(table, os.path.join(corpus_dir, "documents.parquet"))

    # eval suite: half quote a 6-token span of a plain doc (decontam must
    # drop that doc), half are fresh Zipf text
    ev = []
    n_contam = int(EVAL_TEXTS * EVAL_CONTAMINATED)
    for i in rng.choice(plain, size=n_contam, replace=False):
        toks = base[i]
        s = int(rng.integers(0, len(toks) - 6))
        ev.append(" ".join(vocab[r] for r in toks[s:s + 6]))
    for _ in range(EVAL_TEXTS - n_contam):
        ev.append(" ".join(vocab[r] for r in rng.choice(VOCAB, size=30, p=p)))
    eval_path = os.path.join(out_dir, "eval.parquet")
    pq.write_table(pa.table({"text": pa.array(ev, pa.string())}), eval_path)

    # ---- query logs ----
    # code_lookup: pairs of adjacent Zipf-tail tokens copied from plain
    # docs, none repeated, so every op type matches at least that doc
    lookup: list[list[str]] = []
    seen: set = set()
    for _ in range(200 * (LOOKUP_PAIRS + WARMUP_LOOKUP)):
        if len(lookup) == LOOKUP_PAIRS + WARMUP_LOOKUP:
            break
        toks = base[int(rng.choice(plain))]
        at = int(rng.integers(0, len(toks) - 2))
        run = tuple(toks[at:at + 2])
        if min(run) < TAIL or run[0] == run[1] or run in seen:
            continue
        seen.add(run)
        lookup.append([vocab[r] for r in run])
    warm_lookup, lookup = lookup[:WARMUP_LOOKUP], lookup[WARMUP_LOOKUP:]
    words = [[vocab[r] for r in t] for t in tuples]
    results = [words[i] for i in draws]
    warm_results = words[POOL_SIZE:]

    kinds = [k for _, k in rows]
    stats = {
        "vocab": VOCAB,
        "tokens": int(sum(len(b) for b in base)),
        "rows_by_kind": {k: kinds.count(k) for k in sorted(set(kinds))},
        "eval_texts": EVAL_TEXTS,
        "eval_contaminated": n_contam,
        "lookup_pairs": len(lookup),
        "lookup_distinct_terms": len({t for q in lookup for t in q}),
        "results_pool": POOL_SIZE,
        # share of draws that repeat an earlier draw, over the first 200
        "results_repeat_share_200": 1 - len(set(draws[:200].tolist())) / 200,
    }
    return Inputs(
        seed=seed,
        corpus_dir=corpus_dir,
        eval_path=eval_path,
        n_docs=len(rows),
        input_bytes=sum(len(t.encode()) for t in text_col),
        shares=SHARES,
        lookup=lookup,
        results=results,
        warm_lookup=warm_lookup,
        warm_results=warm_results,
        stats=stats,
    )
