"""Property tests for dedup_components (graph side) and bm25_phrase_topk
(match side): the distributed result must equal a pure-python brute force
on seeded random inputs.

These don't go through the sf testdata: the component test builds its own
edge lists (the graph algorithm is independent of how pairs were mined),
and the phrase test builds a random word corpus and its own index.
"""

import os
import random

import pytest
from pyspark.sql import functions as F

from veloci_spark.build import build_index
from veloci_spark.config import FieldConfig, IndexConfig
from veloci_spark.tokenize import py_tokenize


# --------------------------------------------------- label propagation

def _brute_components(edges):
    """Union-find over the edge list → {node: min node of its component}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    return {n: find(n) for n in parent}


def _propagate(spark, edges, max_rounds=50):
    """The same min-label propagation loop as dedup_components, over an
    explicit edge list (the operator's graph core, isolated from the
    MinHash mining)."""
    half = spark.createDataFrame(edges, "src long, dst long")
    sym = half.union(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().persist()
    labels = (
        sym.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component_id", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        msgs = sym.join(
            labels.withColumnRenamed("doc_id", "src"), "src"
        ).select(F.col("dst").alias("doc_id"), "component_id")
        new_labels = (
            labels.union(msgs)
            .groupBy("doc_id")
            .agg(F.min("component_id").alias("component_id"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .where(F.col("n.component_id") != F.col("o.component_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    sym.unpersist()
    return {r["doc_id"]: r["component_id"] for r in labels.collect()}


@pytest.mark.parametrize("seed", [1, 7])
def test_label_propagation_matches_union_find(spark, seed):
    rng = random.Random(seed)
    n_nodes, n_edges = 60, 45  # sparse → several nontrivial components
    edges = []
    seen = set()
    while len(edges) < n_edges:
        a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if a == b or (a, b) in seen:
            continue
        seen.add((a, b))
        edges.append((a, b))
    assert _propagate(spark, edges) == _brute_components(edges)


def test_label_propagation_long_chain(spark):
    # a path graph is the worst case for propagation depth (diameter = n)
    edges = [(i, i + 1) for i in range(30)]
    got = _propagate(spark, edges)
    assert got == {i: 0 for i in range(31)}


def test_dedup_components_raises_when_rounds_run_out(spark):
    """The engine's own loop: a near-dup chain (each doc a 20-word window
    shifted 4 words from the last, so neighbours have word-3-shingle
    Jaccard 14/22 >= 0.5 and docs two apart 10/26 < 0.5) needs more
    rounds than max_rounds=1 — it must raise, not return split
    clusters; with the default cap it converges to union-find."""
    from veloci_spark.pipeline.dedup import (
        TAU_COMPONENTS_E4,
        dedup_components,
        dedup_minhash_lsh,
    )

    words = [f"w{i}" for i in range(60)]
    docs = spark.createDataFrame(
        [(i, " ".join(words[4 * i : 4 * i + 20])) for i in range(8)],
        "doc_id long, text string",
    )
    mh = dedup_minhash_lsh(spark, "", docs=docs)
    edges = [
        (r["doc_a"], r["doc_b"])
        for r in mh.where(F.col("jaccard_e4") >= TAU_COMPONENTS_E4).collect()
    ]
    mh._veloci_unpersist()
    # only neighbours are near-dups, and the chain has a path of >= 2
    # edges, so one round cannot settle every label
    assert all(abs(a - b) == 1 for a, b in edges)
    nodes = [n for e in edges for n in e]
    assert any(nodes.count(n) >= 2 for n in nodes)

    with pytest.raises(RuntimeError, match="max_rounds=1"):
        dedup_components(spark, "", max_rounds=1, docs=docs)
    got = dedup_components(spark, "", docs=docs).collect()
    assert {r["doc_id"]: r["component_id"] for r in got} == _brute_components(
        edges
    )


# ------------------------------------------------------- phrase matching

WORDS = ["red", "blue", "green", "fast", "slow", "join", "scan"]


@pytest.mark.parametrize("seed,n_phrase", [(3, 2), (3, 3), (11, 3), (11, 4)])
def test_phrase_matches_brute_force(spark, tmp_root, seed, n_phrase):
    from veloci_spark.bm25 import bm25_phrase_topk

    rng = random.Random(seed)
    corpus = [
        (i, " ".join(rng.choice(WORDS) for _ in range(rng.randrange(4, 12))))
        for i in range(40)
    ]
    cfg = IndexConfig(
        fields=(FieldConfig("body", bm25=True, phrase_pairs=True),),
        block_docs=8,
    )
    df = spark.createDataFrame(corpus, "doc_id long, body string")
    out = os.path.join(tmp_root, f"phrase_prop_{seed}_{n_phrase}")
    idx = build_index(spark, df, cfg, out, resume=False)

    phrase = [rng.choice(WORDS) for _ in range(n_phrase)]
    got = sorted(
        r["doc_id"]
        for r in bm25_phrase_topk(idx, "body", phrase, 100).collect()
    )
    want = []
    for i, body in corpus:
        toks = [t for t, sep in py_tokenize(body) if not sep]
        if any(
            toks[j : j + n_phrase] == phrase
            for j in range(len(toks) - n_phrase + 1)
        ):
            want.append(i)
    assert got == sorted(want)


# ------------------------------------------------ decontamination overlap

def test_decontam_matches_brute_force(spark, tmp_root):
    """decontam_ngram vs a pure-python n-gram set intersection on a
    seeded random corpus written to a temp documents.parquet."""
    import re

    from veloci_spark.pipeline.common import WORD_PATTERN
    from veloci_spark.pipeline.text import decontam_ngram

    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta", "join", "scan", "merge"]
    corpus = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(2, 15))), "en")
        for i in range(60)
    ]
    d = os.path.join(tmp_root, "decontam_prop")
    spark.createDataFrame(corpus, "doc_id long, text string, lang string").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "documents.parquet"))

    n, mod = 3, 7
    got = {
        r["doc_id"]: r["n_shared"]
        for r in decontam_ngram(spark, d, n=n, mod=mod).collect()
    }

    def grams(text):
        ws = re.findall(WORD_PATTERN, text)
        return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}

    bench = set()
    for i, text, _ in corpus:
        if i % mod == 0:
            bench |= grams(text)
    want = {}
    for i, text, _ in corpus:
        if i % mod != 0:
            shared = len(grams(text) & bench)
            if shared:
                want[i] = shared
    assert got == want
