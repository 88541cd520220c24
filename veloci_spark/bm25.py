"""BM25 scoring, build-time baked postings, and block-max WAND top-k.

BASELINE.json's north rule asks for "a BM25 top-k query engine
[implementing] posting-list intersection with block-max WAND pruning as
Arrow-batched operators" next to the reference-faithful veloci scoring
(the reference itself has no BM25 — scores are its own formulas,
/root/reference/src/create/calculate_score.rs:34-49 — so this module is
graded against the textbook Okapi/Lucene formula, not reference code).

Design: BM25 per-posting scores are **baked at build time** and stored in
the same doc-aligned ``doc_ids``/``scores`` array blocks
(build._encode_blocks) as the native postings, with per-block max
metadata.  This works because every BM25 input is known at build time:

    idf(t)       = ln((N - df + 0.5) / (df + 0.5) + 1)      # Lucene +1
    tf_part(t,d) = tf * (k1+1) / (tf + k1 * (1-b + b*dl/avgdl))
    score(t,d)   = idf(t) * tf_part(t,d)

(k1 = 1.2, b = 0.75; tf / dl count NON-separator token runs only.)

Scores are quantized to integers (``score_e4 = floor(s*1e4 + 0.5)``)
before encoding, so

- the blocks store ints, exactly like native postings;
- a multi-term query score is an INTEGER sum of per-term entries —
  engine, WAND path, and the DuckDB oracle agree bit-for-bit with no
  float-association ambiguity;
- block-max upper bounds are exact integer sums, making the WAND
  threshold test exact rather than epsilon-guarded.

Scale shape: tf is one groupBy (map-side combined), df a map-side-
combined groupBy joined back (skew-splittable — see bm25_from_tf), dl
one groupBy;
block encode reuses build._encode_blocks (one hash shuffle, doc-aligned
blocks bound stop-word skew).  Query-side decode is the same JVM
generator over the block arrays as native postings; no Python worker.
"""

from __future__ import annotations

import math
from functools import partial, reduce
from typing import Mapping, Optional, Sequence

from pyspark.sql import Column, DataFrame, functions as F

from veloci_spark.wand import blockmax_topk, candidate_block_filter

K1 = 1.2
B = 0.75
# literal (k1+1): embedded as the SAME decimal literal in the Spark plan
# and the DuckDB oracle so both parse to the identical float64 (computing
# 1.2 + 1.0 at runtime yields a DIFFERENT double than the literal 2.2)
K1_PLUS_1 = 2.2
ONE_MINUS_B = 0.25


# --------------------------- score expressions ---------------------------

def idf_expr(n_docs: Column, df: Column) -> Column:
    """ln((N - df + 0.5) / (df + 0.5) + 1) — always positive (Lucene)."""
    n = n_docs.cast("double")
    d = df.cast("double")
    return F.log(((n - d) + F.lit(0.5)) / (d + F.lit(0.5)) + F.lit(1.0))


def bm25_expr(tf: Column, df: Column, dl: Column, n_docs: Column, avgdl: Column) -> Column:
    t = tf.cast("double")
    denom = t + F.lit(K1) * (
        F.lit(ONE_MINUS_B) + F.lit(B) * (dl.cast("double") / avgdl)
    )
    return idf_expr(n_docs, df) * ((t * F.lit(K1_PLUS_1)) / denom)


def bm25_e4_expr(tf: Column, df: Column, dl: Column, n_docs: Column, avgdl: Column) -> Column:
    """Integer-quantized BM25 (the stored posting score)."""
    return F.floor(
        bm25_expr(tf, df, dl, n_docs, avgdl) * F.lit(10000.0) + F.lit(0.5)
    ).cast("long")


# SQL mirrors (DuckDB oracle) — op-for-op identical expression trees.

def sql_idf(n_docs: str, df: str) -> str:
    n = f"CAST({n_docs} AS DOUBLE)"
    d = f"CAST({df} AS DOUBLE)"
    return f"ln((({n} - {d}) + 0.5) / ({d} + 0.5) + 1.0)"


def sql_bm25(tf: str, df: str, dl: str, n_docs: str, avgdl: str) -> str:
    t = f"CAST({tf} AS DOUBLE)"
    denom = f"({t} + {K1!r} * ({ONE_MINUS_B!r} + {B!r} * (CAST({dl} AS DOUBLE) / {avgdl})))"
    return f"{sql_idf(n_docs, df)} * (({t} * {K1_PLUS_1!r}) / {denom})"


def sql_bm25_e4(tf: str, df: str, dl: str, n_docs: str, avgdl: str) -> str:
    return f"CAST(floor({sql_bm25(tf, df, dl, n_docs, avgdl)} * 10000.0 + 0.5) AS BIGINT)"


# python mirrors (unit tests)

def py_idf(n_docs: int, df: int) -> float:
    return math.log(((float(n_docs) - float(df)) + 0.5) / (float(df) + 0.5) + 1.0)


def py_bm25(tf: int, df: int, dl: int, n_docs: int, avgdl: float) -> float:
    t = float(tf)
    denom = t + K1 * (ONE_MINUS_B + B * (float(dl) / avgdl))
    return py_idf(n_docs, df) * ((t * K1_PLUS_1) / denom)


def py_bm25_e4(tf: int, df: int, dl: int, n_docs: int, avgdl: float) -> int:
    return int(math.floor(py_bm25(tf, df, dl, n_docs, avgdl) * 10000.0 + 0.5))


# ----------------------------- build helpers -----------------------------

def bm25_from_tf(tf: DataFrame) -> tuple[DataFrame, dict[str, dict]]:
    """BM25 scores + corpus stats from a precomputed ``(field, term_id,
    doc_id, tf)`` frame (tf = non-separator occurrence count, tf >= 1).

    ``build_index`` derives tf from the per-value token aggregate SHARED
    with the native posting build — one dictionary join + one shuffle for
    both engines; this function only re-aggregates that small frame.
    """
    tf = tf.persist()
    # dl = Σ_t tf(t, d) EXACTLY: every non-separator token is a dictionary
    # term, so doc length needs no second tokenize pass — it's a small
    # re-aggregation of tf (the round-2 scaling profile showed the bm25
    # stage tokenizing twice and scaling at 2.6x vs 3.4x for postings)
    doc_len = tf.groupBy("field", "doc_id").agg(F.sum("tf").alias("dl"))
    stats_rows = (
        doc_len.groupBy("field")
        .agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
        .collect()
    )
    stats = {
        r["field"]: {"n_docs": int(r["n_docs"]), "avgdl": float(r["avgdl"])}
        for r in stats_rows
    }
    if not stats:
        # a bm25 field whose every value tokenizes to < 2 runs produces
        # NO token rows (has_tokens semantics, tokenize.py) — an empty
        # posting set is the correct index for it, not an assertion crash
        # (hit via `--bm25-only-fields lang`-style short enum fields)
        tf.unpersist()
        empty = tf.sparkSession.createDataFrame(
            [], "field string, term_id long, doc_id long, score long"
        )
        empty._veloci_unpersist = lambda: None  # type: ignore[attr-defined]
        return empty, stats

    # df: tf rows are unique per (field, term_id, doc_id), so counting
    # rows per (field, term_id) = document frequency.  This is a
    # groupBy + join-back rather than a window: a window partitioned by
    # (field, term_id) forces a stop-word term's ENTIRE tf row set onto
    # one task, and AQE cannot skew-split window partitions — at 10^12
    # docs that is one task receiving ~10^12 rows.  The groupBy is
    # map-side combined (partial_count per input partition before the
    # shuffle, so a hot term contributes ONE row per input partition, not
    # one per occurrence), and the join-back is a plain equi-join: AQE
    # broadcasts df_counts when the dictionary is small, and when it is
    # not (10^9-term code dictionaries are too big to broadcast) AQE's
    # skew-join splits a hot term's probe partition across tasks —
    # something no window plan allows.
    df_counts = tf.groupBy("field", "term_id").agg(F.count("*").alias("df"))

    # Scale-adaptive broadcast hints (guide §3.1): on small corpora the
    # two aggregate sides fit comfortably and the hints replace two
    # sort-merge shuffles of the full tf frame (measured 1.39 s → 0.81 s
    # on the 50k-doc proxy build); on large corpora (n_docs above the
    # bound, or a vocabulary too big per the one cheap count over the
    # PERSISTED tf) the joins stay AQE-planned exactly as before.
    n_docs_total = sum(s["n_docs"] for s in stats.values())
    dl_side = doc_len
    df_side = df_counts
    if n_docs_total <= BM25_BUILD_BROADCAST_DOCS:
        dl_side = F.broadcast(doc_len)
        if df_counts.count() <= 4_000_000:
            df_side = F.broadcast(df_counts)
    with_df = tf.join(df_side, ["field", "term_id"])

    n_expr: Optional[Column] = None
    avg_expr: Optional[Column] = None
    for fld, s in stats.items():
        cond = F.col("field") == F.lit(fld)
        n_expr = (
            F.when(cond, F.lit(s["n_docs"]))
            if n_expr is None
            else n_expr.when(cond, F.lit(s["n_docs"]))
        )
        avg_expr = (
            F.when(cond, F.lit(s["avgdl"]))
            if avg_expr is None
            else avg_expr.when(cond, F.lit(s["avgdl"]))
        )
    assert n_expr is not None and avg_expr is not None

    flat = with_df.join(dl_side, ["field", "doc_id"]).select(
        "field",
        "term_id",
        "doc_id",
        bm25_e4_expr(
            F.col("tf"), F.col("df"), F.col("dl"), n_expr, avg_expr
        ).alias("score"),
    )
    flat._veloci_unpersist = tf.unpersist  # type: ignore[attr-defined]
    return flat, stats


# ------------------------------ query side ------------------------------

def _matched_term_meta(index, field: str, terms: Sequence[str]) -> list[tuple[int, int]]:
    """Exact-match ``(term_id, num_occurences)`` pairs, collected to the
    driver (bounded by the query term count).  The ids give the block
    scan a LITERAL `term_id IN (...)` predicate — pushed into the Parquet
    scan, where row-group min/max stats on the sorted term_id prune
    everything else (a broadcast join cannot reach the scan stats; at
    10^12-doc scale that difference is "read a few row groups" vs "read
    the field's whole block table").  The occurrence counts ride along in
    the SAME collect and are the zero-extra-job dispatch signal for
    exhaustive-vs-WAND (total postings ≈ decode volume)."""
    rows = (
        index.dictionary(field)
        .where(F.col("term").isin(*list(terms)))
        .select("term_id", "num_occurences")
        .collect()
    )
    return sorted((int(r["term_id"]), int(r["num_occurences"])) for r in rows)


def _matched_term_ids(index, field: str, terms: Sequence[str]) -> list[int]:
    return [tid for tid, _ in _matched_term_meta(index, field, terms)]


def _term_blocks(index, field: str, ids: list[int]) -> DataFrame:
    """The field's bm25 blocks for ``ids``: the literal ``term_id IN``
    reaches the Parquet scan's row-group stats."""
    return index.bm25_blocks(field).where(F.col("term_id").isin(ids))


def _field_parts(
    index, field_weights: dict[str, int], terms: Sequence[str], meta_by_field=None
) -> tuple[list, int]:
    """``(parts, postings)`` for :func:`_topk`: one
    ``(weight, term-filtered blocks)`` pair per field with a dictionary
    match, and the matched ``num_occurences`` total.  ``meta_by_field``
    reuses a probe the caller already collected."""
    if meta_by_field is None:
        meta_by_field = {
            f: _matched_term_meta(index, f, terms) for f in sorted(field_weights)
        }
    parts = [
        (int(field_weights[f]), _term_blocks(index, f, [tid for tid, _ in m]))
        for f, m in sorted(meta_by_field.items())
        if m
    ]
    return parts, sum(occ for m in meta_by_field.values() for _, occ in m)


def _empty_topk(spark) -> DataFrame:
    return spark.createDataFrame([], "doc_id long, score_e4 long")


def _sum_per(df: DataFrame, key: str, col: str, out: str, require_all: int) -> DataFrame:
    """Σ ``col`` per ``key`` as ``out``; ``require_all`` > 0 keeps only
    keys with that many rows (one per matched term: the intersection)."""
    if not require_all:
        return df.groupBy(key).agg(F.sum(col).alias(out))
    return (
        df.groupBy(key)
        .agg(F.sum(col).alias(out), F.count("*").alias("n"))
        .where(F.col("n") == require_all)
        .select(key, out)
    )


def _scored(
    parts: Sequence[tuple[int, DataFrame]],
    k: int,
    require_all: int = 0,
    allowed: Optional[DataFrame] = None,
    cand_ids: Optional[list] = None,
) -> DataFrame:
    """The scored-postings plan behind every BM25 top-k: lazy
    ``(doc_id, score_e4)``, the top ``k`` in (score desc, doc_id desc)
    order.

    ``parts`` holds one ``(weight, blocks)`` pair per field, ``blocks``
    already term-filtered by a literal ``term_id IN``.  Each is cut to
    the candidate blocks (``cand_ids``; None = all), decoded, and scaled
    by its INTEGER weight, so a score stays an exact integer sum.
    ``allowed`` (a doc_id frame) semi-joins the decoded postings BEFORE
    the per-doc aggregation, so only surviving postings enter the top-k
    shuffle; ``require_all`` > 0 keeps only docs hit by that many terms
    (the intersection)."""
    from veloci_spark.index import decode_blocks_df

    flats = []
    for w, blocks in parts:
        sel = candidate_block_filter(blocks, cand_ids, blocks.sparkSession)
        flat = decode_blocks_df(sel)
        if w != 1:
            flat = flat.withColumn("score", F.col("score") * F.lit(w))
        flats.append(flat)
    flat = reduce(DataFrame.unionByName, flats)
    if allowed is not None:
        flat = flat.join(allowed, "doc_id", "left_semi")
    hits = _sum_per(flat, "doc_id", "score", "score_e4", require_all)
    return hits.orderBy(F.desc("score_e4"), F.desc("doc_id")).limit(k)


def _blockmax(
    parts: Sequence[tuple[int, DataFrame]],
    k: int,
    require_all: int = 0,
    allowed: Optional[DataFrame] = None,
    stats: Optional[dict] = None,
) -> DataFrame:
    """Block-max WAND over ``parts``, rank-identical to :func:`_scored`
    with the same arguments (Ding & Suel, adapted as in wand.py): bounds
    ub(block) = Σ_f Σ_t w_f · block_max_{f,t} from METADATA only (with
    ``require_all``, only blocks holding every term: doc-aligned blocks
    make intersection pruning a metadata join), then
    :func:`wand.blockmax_topk` decodes the highest-ub candidate blocks
    until the kth exact score strictly beats every undecoded bound,
    else falls back to one full decode.  The bounds stay valid under
    ``allowed`` (filtering only removes docs); the exact phase semi-joins
    it, so the threshold is the true filtered kth score.  ``stats``
    receives the driver's ``blocks_total``/``blocks_decoded``."""
    ubs = reduce(
        DataFrame.unionByName,
        [
            blocks.select("block_no", (F.col("max_score") * F.lit(w)).alias("ub"))
            for w, blocks in parts
        ],
    )
    block_ub = _sum_per(ubs, "block_no", "ub", "ub", require_all)

    def _exact(cand_ids: Optional[list]) -> list:
        sel = parts
        if cand_ids is None and require_all:
            # even the full fallback only decodes metadata-surviving blocks
            survivors = F.broadcast(block_ub.select("block_no"))
            sel = [(w, b.join(survivors, "block_no", "left_semi")) for w, b in parts]
        return _scored(sel, k, require_all, allowed, cand_ids).collect()

    return blockmax_topk(
        block_ub,
        _exact,
        k,
        "doc_id long, score_e4 long",
        lambda r: r["score_e4"],
        start_blocks=WAND_START_BLOCKS,
        max_iters=WAND_MAX_ITERS,
        stats=stats,
        owned=[blocks for _, blocks in parts],
    )


# Postings-volume threshold of the exhaustive↔block-max rule (_topk),
# calibrated on the round-5 Zipf(1) crossover ladder (BENCH/BASELINE.md):
# at EVERY demonstrated scale (0.35M → 22.7M matched postings, 200k →
# 12.8M docs) the exhaustive single-job decode beat block-max WAND —
# pruning engaged (33-40% of blocks dropped) but its fixed costs (one
# metadata collect + one extra decode job + the candidate restriction)
# exceeded the decoded-volume savings.  The measured ratio NARROWS with
# volume (2.05x → 1.97x → 1.76x per 4x growth after the semi-join fix),
# extrapolating to a crossover near ~10^9 matched postings — the
# threshold sits there, so the plan is exhaustive everywhere measured and
# block-max engages only at the scale the trend supports.
WAND_MIN_POSTINGS = 1_000_000_000

#: the block-max loop's first candidate window and its decode budget
#: before the full-decode fallback (wand.wand_driver_loop)
WAND_START_BLOCKS = 8
WAND_MAX_ITERS = 8

#: bm25_from_tf broadcast-hint bound: below this corpus doc count the
#: per-doc-length and document-frequency aggregates are hinted
#: broadcast at build time.
BM25_BUILD_BROADCAST_DOCS = 1_000_000


def _topk(
    parts: Sequence[tuple[int, DataFrame]],
    postings: int,
    k: int,
    require_all: int = 0,
    allowed: Optional[DataFrame] = None,
) -> DataFrame:
    """The one plan choice behind every BM25 query kind: block-max
    pruning (the reference's worst-score early termination,
    search_field.rs:292-331) at or above WAND_MIN_POSTINGS matched
    postings, the exhaustive :func:`_scored` plan below — rank-identical
    either way.  ``postings`` (the matched ``num_occurences`` sum ≥ the
    decode volume) rides the dictionary collect that builds the literal
    ``term_id IN``, so the choice costs no Spark job, and no bound frame
    is built below the threshold."""
    if postings >= WAND_MIN_POSTINGS:
        return _blockmax(parts, k, require_all, allowed)
    return _scored(parts, k, require_all, allowed)


def bm25_topk(
    index, field: str, terms: Sequence[str], k: int, _ids: Optional[list] = None
) -> DataFrame:
    """Exhaustive BM25 top-k: (doc_id, score_e4), OR-sum over terms,
    deterministic (score desc, doc_id desc) order — the lower arm of
    :func:`bm25_auto_topk`, and the plan of the k-bounded operators."""
    ids = _matched_term_ids(index, field, terms) if _ids is None else _ids
    if not ids:
        return _empty_topk(index.spark)
    return _scored([(1, _term_blocks(index, field, ids))], k)


def bm25_auto_topk(index, field: str, terms: Sequence[str], k: int) -> DataFrame:
    """The OR-sum BM25 top-k (HTTP/CLI mode ``or``): the ranking of
    :func:`bm25_topk`, with the plan picked by the posting-volume rule
    (:func:`_topk`)."""
    parts, postings = _field_parts(index, {field: 1}, terms)
    if not parts:
        return _empty_topk(index.spark)
    return _topk(parts, postings, k)


def bm25_explain_topk(index, field: str, terms: Sequence[str], k: int) -> DataFrame:
    """Per-term score provenance for the exhaustive BM25 top-k — the BM25
    analogue of the native engine's ``Request(explain=True)`` provenance
    (executor._attach_explain): one row per (top-k doc, matched term)
    with the term's integer contribution and the doc's total.

    Scale shape: blocks are doc-aligned, so the top-k doc ids (bounded
    by k) pin a literal ``block_no IN`` that cuts the per-term block scan
    to the top-k docs' blocks BEFORE decode, and a literal doc_id IN
    keeps their rows after it; the (tiny) dictionary slice for the query
    terms is broadcast — no extra shuffle beyond the top-k aggregation
    itself."""
    from veloci_spark.index import decode_blocks_df

    spark = index.spark
    ids = _matched_term_ids(index, field, terms)
    empty_schema = "doc_id long, term string, term_score_e4 long, score_e4 long"
    if not ids:
        return spark.createDataFrame([], empty_schema)
    top_rows = bm25_topk(index, field, terms, k, _ids=ids).collect()
    if not top_rows:
        return spark.createDataFrame([], empty_schema)
    totals = spark.createDataFrame(
        [(r["doc_id"], r["score_e4"]) for r in top_rows], "doc_id long, score_e4 long"
    )
    names = index.dictionary(field).where(F.col("term_id").isin(ids)).select(
        "term_id", "term"
    )
    doc_ids = [r["doc_id"] for r in top_rows]
    blocks = sorted({d // index.block_docs for d in doc_ids})
    flat = decode_blocks_df(
        _term_blocks(index, field, ids).where(F.col("block_no").isin(blocks))
    )
    per_term = (
        flat.where(F.col("doc_id").isin(doc_ids))
        .join(F.broadcast(names), "term_id")
        .join(F.broadcast(totals), "doc_id")
        .select(
            "doc_id", "term", F.col("score").alias("term_score_e4"), "score_e4"
        )
    )
    return per_term.orderBy(
        F.desc("score_e4"), F.desc("doc_id"), F.asc("term")
    )


def bm25_and_topk(index, field: str, terms: Sequence[str], k: int) -> DataFrame:
    """Conjunctive (posting-list INTERSECTION) BM25 top-k: only docs
    containing ALL terms; score = integer sum of per-term entries.  Plan
    by the posting-volume rule (:func:`_topk`)."""
    uniq = sorted(set(terms))
    meta = _matched_term_meta(index, field, uniq)
    if not meta or len(meta) < len(uniq):  # a term absent from the corpus
        return _empty_topk(index.spark)
    parts, postings = _field_parts(index, {field: 1}, uniq, {field: meta})
    return _topk(parts, postings, k, require_all=len(meta))


# --------------------------- phrase top-k -------------------------------

def _term_id_map(index, field: str, terms: Sequence[str]) -> dict[str, int]:
    """term → term_id for the (bounded) query term set; exact case, like
    the reference's FST exact lookup."""
    rows = (
        index.dictionary(field)
        .where(F.col("term").isin(*list(set(terms))))
        .select("term", "term_id")
        .collect()
    )
    return {r["term"]: int(r["term_id"]) for r in rows}


def _tokens_of(find, sepset, txt) -> list:
    if txt is None:
        return []
    runs = find(txt)
    if len(runs) < 2:  # single-run texts emit no tokens
        return []
    return [t for t in runs if t[0] not in sepset]


def _field_tokens(index, field: str):
    """Picklable ``text -> non-separator tokens`` under ``field``'s
    tokenizer; ``[]`` for null and single-run texts, which the build
    indexes as no tokens either."""
    from veloci_spark.config import DEFAULT_SEPARATORS
    from veloci_spark.tokenize import batch_run_tokenizer

    conf = index.field_conf(field)
    seps = tuple(conf.get("tokenize_on_chars") or ()) or DEFAULT_SEPARATORS
    grouped = bool(conf.get("tokenizer_grouped", True))
    return partial(_tokens_of, *batch_run_tokenizer(seps, grouped))


def _doc_texts(index, field: str, ids: Sequence[int]):
    """Yield the docstore's ``(doc_id, field)`` rows for ``ids`` into the
    driver: one literal ``doc_id IN`` prune and one collect per
    ``INLIST_SEMI_JOIN_CUTOVER`` ids, so the driver holds one chunk of
    text at a time."""
    from veloci_spark.wand import INLIST_SEMI_JOIN_CUTOVER as chunk

    store = index.docstore().select("doc_id", field)
    for i in range(0, len(ids), chunk):
        yield from store.where(F.col("doc_id").isin(ids[i : i + chunk])).collect()


def _local_frame(spark, rows: list, schema: str) -> DataFrame:
    """``rows`` as a frame Spark plans as a LocalTableScan, with no
    Python worker.  ``createDataFrame`` over a Python list scans an RDD
    whose rows pass through a Python worker's identity map each time the
    frame is collected or broadcast; built from an Arrow table, the rows
    go to the JVM once, at creation."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(struct.names, r)) for r in rows], schema=to_arrow_schema(struct)
    )
    return spark.createDataFrame(table)


def bm25_phrase_topk(index, field: str, terms: Sequence[str], k: int) -> DataFrame:
    """Exact-phrase BM25 top-k: docs containing ``terms`` as ADJACENT
    non-separator tokens (the reference's phrase-pair adjacency semantics,
    /root/reference/src/create.rs:251-263, promoted from a boost to a
    match predicate), scored as the integer BM25 sum over the phrase's
    distinct terms.  Three bounded stages:

    1. **pair-chain prune** — for each consecutive pair (t_i, t_{i+1}) a
       semi-join against the phrase-pair table; term_id equality
       predicates reach the Parquet scan, and a doc lacking ANY adjacent
       pair is eliminated from metadata alone (no decode, no tokenize);
    2. **exact positional verify** (n ≥ 3 only; for n = 2 the pair table
       IS the exact answer) — a docstore scan pruned to the candidate
       doc_ids (literal IN-list → Parquet row-group stats on the sorted
       doc_id) re-tokenized in ONE Arrow-batched python pass that keeps
       docs where the n-gram occurs contiguously.  Candidates are
       pair-chain-bounded, so this touches a vanishing fraction of the
       corpus (see the inline comment for why this is deliberately NOT
       a JVM higher-order-function filter);
    3. **scoring** — decode only the phrase terms' BM25 blocks, semi-join
       the verified docs BELOW the per-doc aggregation, integer-sum.

    Scale shape: stages 1 and 3 are metadata/posting scans with pushed
    equality predicates; stage 2 is bounded candidate work, never the
    corpus.  Flat (non-nested) bm25 fields only.
    """
    spark = index.spark
    n = len(terms)
    assert n >= 2, "a phrase needs at least two tokens"
    tmap = _term_id_map(index, field, terms)
    if any(t not in tmap for t in terms):
        return _empty_topk(spark)

    # 1. pair-chain candidates (doc-level intersection of adjacent pairs)
    cand: Optional[DataFrame] = None
    for t1, t2 in zip(terms, terms[1:]):
        pair_docs = (
            index.phrase_pairs(field)
            .where(
                (F.col("term_id_1") == F.lit(tmap[t1]))
                & (F.col("term_id_2") == F.lit(tmap[t2]))
            )
            .select("doc_id")
        )
        cand = pair_docs if cand is None else cand.join(pair_docs, "doc_id", "left_semi")
    assert cand is not None
    cand = cand.distinct()

    # 2. exact positional verify on the candidate set (n >= 3 only).
    #
    # NOT a JVM column expression: `exists(sequence(..), i -> slice(
    # tokenize(content), i, n) = target)` re-evaluates the tokenize
    # INSIDE the lambda for every position (Spark does no common-
    # subexpression elimination across lambda invocations → O(tokens)
    # re-tokenizations per doc), and Catalyst pushes the filter below
    # the candidate semi-join, running it over the WHOLE docstore
    # (measured: 40 s vs ~1 s at sf0.1).  Instead: prune the docstore
    # scan with a literal doc_id IN-list (row-group stats on the sorted
    # doc_id) and verify with ONE Arrow-batched python pass over the
    # already-bounded candidates — a mapInPandas black box Catalyst
    # cannot push anywhere.
    if n >= 3:
        import pandas as pd

        tokens = _field_tokens(index, field)
        MAX_INLIST = 100_000
        cand_ids = [r["doc_id"] for r in cand.limit(MAX_INLIST + 1).collect()]
        if len(cand_ids) > MAX_INLIST:
            # a degenerate phrase (stop-word chain): fall back to the
            # semi-join; the python verify below still only sees rows
            # that survived the pair chain
            cand_rows = index.docstore().select("doc_id", field).join(
                cand, "doc_id", "left_semi"
            )
        elif not cand_ids:
            return _empty_topk(spark)
        else:
            cand_rows = index.docstore().select("doc_id", field).where(
                F.col("doc_id").isin(cand_ids)
            )
        target = list(terms)

        def _verify(batches) -> "pd.DataFrame":
            for pdf in batches:
                keep = []
                for doc_id, txt in zip(pdf["doc_id"], pdf[field]):
                    toks = tokens(txt)
                    if any(
                        toks[j : j + n] == target
                        for j in range(len(toks) - n + 1)
                    ):
                        keep.append(doc_id)
                yield pd.DataFrame({"doc_id": pd.Series(keep, dtype="int64")})

        cand = cand_rows.mapInPandas(_verify, "doc_id long")

    # 3. BM25 scoring restricted to verified docs
    ids = sorted({tmap[t] for t in terms})
    return _scored([(1, _term_blocks(index, field, ids))], k, allowed=cand)


# ------------------------- BM25F (multi-field) --------------------------

def bm25f_topk(
    index,
    field_weights: dict[str, int],
    terms: Sequence[str],
    k: int,
) -> DataFrame:
    """Weighted multi-field BM25 ("BM25F" in the simple per-field-sum
    form): score(d) = Σ_f w_f · Σ_t bm25_f(t, d), disjunctive over terms
    and fields.  Weights are INTEGERS multiplying the e4-quantized
    per-field scores, so the total stays an exact integer sum — engine,
    block-max bounds, and the DuckDB oracle agree bit-for-bit with no
    float-association ambiguity.

    Each field's blocks are decoded independently (term ids are
    per-field) with a literal term_id IN pushed to its partition-pruned
    scan; the weighted flats union into ONE per-doc aggregation.  Plan
    by the posting-volume rule (:func:`_topk`), the volume summed across
    fields; block bounds are weighted sums over the block_no that
    doc-aligned blocks share across fields."""
    parts, postings = _field_parts(index, field_weights, terms)
    return _topk(parts, postings, k) if parts else _empty_topk(index.spark)


# ---------------------------- batched queries ----------------------------

def bm25_batch_topk(
    index,
    field: str,
    queries: Mapping[str, Sequence[str]],
    k: int,
) -> DataFrame:
    """Evaluate a BATCH of OR-sum BM25 queries in ONE job:
    (query_id, doc_id, score_e4), per-query top-k, ordered
    (query_id asc, score_e4 desc, doc_id desc).

    The shape a production eval harness runs — Q queries against the
    index as one Spark job instead of Q sequential jobs — mirroring
    :func:`veloci_spark.pipeline.similarity.ann_batch_topk` for the
    BM25 engine.  Scale anatomy:

    - ONE dictionary probe for the whole batch (literal ``term IN``
      list, bounded by the query set's distinct-term count, pushed
      into the dictionary Parquet scan);
    - ONE block scan + Arrow decode for the union of matched term ids
      (literal ``term_id IN`` → row-group min/max pruning on the
      term-sorted block table — a posting block shared by several
      queries is read and decoded once, not once per query);
    - the tiny (query_id, term_id) map is broadcast and fans each
      decoded posting out to the queries that contain its term; the
      per-(query, doc) OR-sum is one map-side-combined groupBy;
    - per-query top-k is the TWO-PHASE aggregate (per-partition
      sort_array+slice, then one merge per query) — never a window
      partitioned by query_id, which would put a stop-word query's
      corpus-sized hit set on a single task.

    Terms missing from the dictionary are ignored (same semantics as
    the single-query path); a query whose terms ALL miss contributes
    no rows.
    """
    from veloci_spark.index import decode_blocks_df

    spark = index.spark
    empty = spark.createDataFrame([], "query_id string, doc_id long, score_e4 long")
    pairs = sorted({(qid, t) for qid, terms in queries.items() for t in terms})
    all_terms = sorted({t for _, t in pairs})
    if not all_terms:
        return empty
    id_rows = (
        index.dictionary(field)
        .where(F.col("term").isin(all_terms))
        .select("term", "term_id")
        .collect()
    )
    tid = {r["term"]: int(r["term_id"]) for r in id_rows}
    qmap_rows = [(qid, tid[t]) for qid, t in pairs if t in tid]
    if not qmap_rows:
        return empty
    qmap = spark.createDataFrame(qmap_rows, "query_id string, term_id long")
    ids = sorted({i for _, i in qmap_rows})
    scored = (
        decode_blocks_df(_term_blocks(index, field, ids))
        .join(F.broadcast(qmap), "term_id")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("score").alias("score_e4"))
    )
    top_struct = F.struct("score_e4", "doc_id")
    partial = scored.groupBy(
        F.spark_partition_id().alias("_p"), "query_id"
    ).agg(
        F.slice(F.sort_array(F.collect_list(top_struct), False), 1, k).alias("top")
    )
    merged = (
        partial.select("query_id", F.explode("top").alias("t"))
        .groupBy("query_id")
        .agg(F.slice(F.sort_array(F.collect_list("t"), False), 1, k).alias("top"))
    )
    return (
        merged.select("query_id", F.explode("top").alias("t"))
        .select(
            "query_id",
            F.col("t.doc_id").alias("doc_id"),
            F.col("t.score_e4").alias("score_e4"),
        )
        .orderBy("query_id", F.desc("score_e4"), F.desc("doc_id"))
    )


# --------------------------- filtered queries ----------------------------

def _allowed_docs(index, doc_filter) -> DataFrame:
    """doc_ids of docstore rows satisfying ``doc_filter`` (a Column or a
    SQL expression string over docstore columns, e.g. ``lang = 'rs'``).

    The predicate + the doc_id-only projection are handed to Catalyst
    BEFORE the scan, so `.explain` shows them as PushedFilters /
    ReadSchema on the docstore Parquet read; on a partitioned or Iceberg
    docstore the same predicate partition-prunes.  Nothing but the
    surviving doc_ids leaves the scan."""
    pred = F.expr(doc_filter) if isinstance(doc_filter, str) else doc_filter
    return index.docstore().where(pred).select("doc_id")


def bm25_filtered_topk(
    index, field: str, terms: Sequence[str], k: int, doc_filter
) -> DataFrame:
    """BM25 OR-sum top-k restricted to docs matching a metadata
    predicate (``lang = 'rs'``, ``repo = ...``, ...) — filtered search,
    the BM25 analogue of the native engine's filter∩scored-hits path
    (executor.py semi filter; reference: query_generator.rs filter
    requests).

    Scoring uses CORPUS-level df/avgdl (standard filtered-search
    semantics — Lucene's filter clauses don't re-derive stats either),
    so every returned (doc_id, score_e4) is identical to its unfiltered
    value and the result is exactly "unfiltered scores ∩ allowed docs,
    re-cut to k".

    Scale shape: the two inputs prune independently — the block scan by
    the literal ``term_id IN`` (row-group stats), the docstore scan by
    the pushed-down predicate + doc_id-only projection — and meet in a
    LEFT SEMI join on the decoded posting stream BEFORE the per-doc
    aggregation, so only surviving postings enter the top-k shuffle.
    AQE picks the semi-join strategy from the filtered side's runtime
    size (a selective predicate ⇒ broadcast hash join).  Plan by the
    posting-volume rule (:func:`_topk`)."""
    parts, postings = _field_parts(index, {field: 1}, terms)
    if not parts:
        return _empty_topk(index.spark)
    return _topk(parts, postings, k, allowed=_allowed_docs(index, doc_filter))


def bm25_topk_after(
    index,
    field: str,
    terms: Sequence[str],
    k: int,
    after: Optional[tuple[int, int]] = None,
) -> DataFrame:
    """Cursor pagination ("search_after"): the next k results STRICTLY
    after the ``(score_e4, doc_id)`` cursor in the engine's
    (score desc, doc_id desc) total order.

    Deep paging via ``skip`` is the classic scale anti-pattern — page N
    materializes and sorts top+skip rows, so page 10_000 costs 10_000×
    page 1.  The cursor variant pushes the strict-after predicate BELOW
    the TakeOrderedAndProject: the per-doc aggregate is filtered first,
    so every page is the same single top-k pass over the posting
    aggregation.  (score_e4, doc_id) is a total order (doc_id unique),
    so pages are disjoint, complete, and stable — the same guarantees
    Elasticsearch documents for its search_after cursor.

    ``after=None`` is page 1 (identical to :func:`bm25_topk`)."""
    from veloci_spark.index import decode_blocks_df

    ids = _matched_term_ids(index, field, terms)
    if not ids:
        return _empty_topk(index.spark)
    flat = decode_blocks_df(_term_blocks(index, field, ids))
    hits = flat.groupBy("doc_id").agg(F.sum("score").alias("score_e4"))
    if after is not None:
        s, d = int(after[0]), int(after[1])
        hits = hits.where(
            (F.col("score_e4") < s)
            | ((F.col("score_e4") == s) & (F.col("doc_id") < d))
        )
    return hits.orderBy(F.desc("score_e4"), F.desc("doc_id")).limit(k)


def bm25_collapse_topk(
    index,
    field: str,
    terms: Sequence[str],
    k: int,
    group_col: str = "repo",
    per_group: int = 2,
) -> DataFrame:
    """Field-collapsed BM25 top-k: the global top-``k`` under the
    constraint "at most ``per_group`` docs per ``group_col`` value" —
    result diversification by a docstore field (Elasticsearch/Solr
    "field collapsing"; the reference has no analogue, its users get
    one list per query — request.rs).  Returns
    (doc_id, <group_col>, score_e4, grp_rank), engine total order.

    Scale shape: scores come from the standard pruned block decode
    (literal ``term_id IN`` row-group pruning); the group column joins
    in from the docstore on doc_id (matched-docs-sized probe side, AQE
    picks the strategy); the per-group cut is a window PARTITIONED BY
    the collapse key — a shuffle on exactly the key any engine needs to
    group on, never a single-partition global window (the repo-wide
    ban); the final cut is TakeOrderedAndProject over the ≤per_group
    survivors."""
    from pyspark.sql import Window

    from veloci_spark.index import decode_blocks_df

    spark = index.spark
    empty_schema = f"doc_id long, {group_col} string, score_e4 long, grp_rank long"
    ids = _matched_term_ids(index, field, terms)
    if not ids:
        return spark.createDataFrame([], empty_schema)
    flat = decode_blocks_df(_term_blocks(index, field, ids))
    scores = flat.groupBy("doc_id").agg(F.sum("score").alias("score_e4"))
    groups = index.docstore().select("doc_id", group_col)
    w = Window.partitionBy(group_col).orderBy(
        F.desc("score_e4"), F.desc("doc_id")
    )
    return (
        scores.join(groups, "doc_id")
        .withColumn("grp_rank", F.row_number().over(w).cast("long"))
        .where(F.col("grp_rank") <= per_group)
        .select(
            F.col("doc_id").cast("long"),
            group_col,
            F.col("score_e4").cast("long"),
            "grp_rank",
        )
        .orderBy(F.desc("score_e4"), F.desc("doc_id"))
        .limit(k)
    )


def bm25_mlt_topk(
    index,
    field: str,
    src_doc_id: int,
    k: int,
    n_terms: int = 8,
    min_occ: int = 3,
) -> DataFrame:
    """More-like-this: BM25 top-k for a QUERY DOCUMENT instead of query
    terms (Lucene/Elasticsearch ``more_like_this``) — find the docs
    most similar to ``src_doc_id`` under the index's own scoring.

    Term selection (deterministic, cross-engine): the source doc's
    distinct non-separator tokens, keeping only terms with corpus-wide
    ``num_occurences >= min_occ`` (Lucene's min_*_freq guards — a term
    unique to the source doc retrieves nothing once the source is
    excluded), ranked rarest-first (num_occurences asc, term asc),
    top ``n_terms``.  Rare shared terms are the ones that
    CHARACTERIZE the doc — the same inverse-frequency heuristic as
    Lucene's interesting-terms selection, computed from the
    dictionary the index already has.

    Scale shape: the source doc fetch is a pushed-down single-doc_id
    docstore filter; tokenization of ONE text happens driver-side with
    the build tokenizer (tokenize.py py_tokenize — the reference
    iterator replica); the dictionary probe is a literal ``term IN``
    over the doc's distinct tokens (doc-sized, not corpus-sized); the
    retrieval is the standard exhaustive decode with the source doc
    excluded before the top-k."""
    from veloci_spark.index import decode_blocks_df
    from veloci_spark.tokenize import py_tokenize

    spark = index.spark
    src = (
        index.docstore()
        .where(F.col("doc_id") == int(src_doc_id))
        .select(field)
        .collect()
    )
    if not src or src[0][0] is None:
        return _empty_topk(spark)
    text = src[0][0]
    seps = tuple(index.field_conf(field).get("tokenize_on_chars") or ())
    runs = list(py_tokenize(text, seps)) if seps else list(py_tokenize(text))
    # the build emits tokens only for texts of >= 2 runs (build.py); a
    # single-run text is dictionary-only and has no token candidates
    cands = (
        sorted({run for run, is_sep in runs if not is_sep})
        if len(runs) >= 2
        else []
    )
    if not cands:
        return _empty_topk(spark)
    sel = (
        index.dictionary(field)
        .where(F.col("term").isin(cands))
        .where(F.col("num_occurences") >= int(min_occ))
        .select("term_id", "term", "num_occurences")
        .collect()  # bounded by the source doc's distinct tokens
    )
    chosen = sorted(sel, key=lambda r: (r["num_occurences"], r["term"]))[
        : int(n_terms)
    ]
    ids = [r["term_id"] for r in chosen]
    if not ids:
        return _empty_topk(spark)
    flat = decode_blocks_df(_term_blocks(index, field, ids))
    hits = (
        flat.where(F.col("doc_id") != int(src_doc_id))
        .groupBy("doc_id")
        .agg(F.sum("score").alias("score_e4"))
    )
    return hits.orderBy(F.desc("score_e4"), F.desc("doc_id")).limit(k)


def bm25_prf_topk(
    index,
    field: str,
    terms: Sequence[str],
    k: int,
    fb_docs: int = 5,
    fb_terms: int = 4,
    min_occ: int = 3,
    orig_w: int = 2,
    exp_w: int = 1,
) -> DataFrame:
    """Pseudo-relevance-feedback BM25 (Rocchio-style query expansion,
    Rocchio 1971 / Lucene's ``MoreLikeThis``-on-top-docs pattern): run
    the plain OR query, treat its top ``fb_docs`` results as relevant,
    mine them for expansion terms, and re-run the query expanded —
    original terms at integer weight ``orig_w``, expansion terms at
    ``exp_w`` (α=2, β=1 in classic Rocchio terms, kept integral so the
    quantized score stays exact cross-engine).

    Expansion-term selection (deterministic, cross-engine): the feedback
    docs' distinct non-separator tokens, minus the original query terms,
    keeping terms with corpus-wide ``num_occurences >= min_occ``, ranked
    by (feedback doc-frequency DESC, corpus num_occurences ASC, term
    ASC) — prefer terms shared across the feedback set, then the rarest
    (most characterizing) — top ``fb_terms``.

    Scale shape: stage 1 is the standard exhaustive decode (one job,
    bounded ``fb_docs``-row collect — the same handshake as cursor
    pagination); the feedback-doc fetch is a pushed-down ``doc_id IN``
    docstore filter of ``fb_docs`` rows tokenized driver-side with the
    build tokenizer (feedback-set-sized, not corpus-sized); the
    dictionary probe is a literal ``term IN`` over the feedback docs'
    distinct tokens; stage 2 is one decode over the expanded term set
    with the per-term weight applied via a broadcast (term_id, w) map
    before the top-k aggregation.  Two Spark jobs total, independent of
    corpus size."""
    from veloci_spark.index import decode_blocks_df
    from veloci_spark.tokenize import py_tokenize

    spark = index.spark
    uniq = sorted(set(terms))
    orig_ids = _matched_term_ids(index, field, uniq)
    if not orig_ids:
        return _empty_topk(spark)

    # stage 1: plain OR top-fb_docs (bounded collect — the feedback set)
    fb = bm25_topk(index, field, uniq, int(fb_docs), _ids=orig_ids).collect()
    fb_ids = [int(r["doc_id"]) for r in fb]

    sel_ids: list[int] = []
    if fb_ids:
        src = (
            index.docstore()
            .where(F.col("doc_id").isin(fb_ids))
            .select("doc_id", field)
            .collect()  # fb_docs rows
        )
        seps = tuple(index.field_conf(field).get("tokenize_on_chars") or ())
        fb_df: dict[str, int] = {}
        for row in src:
            text = row[field]
            if text is None:
                continue
            runs = (
                list(py_tokenize(text, seps)) if seps else list(py_tokenize(text))
            )
            if len(runs) < 2:  # single-run texts emit no tokens at build
                continue
            for tok in {run for run, is_sep in runs if not is_sep}:
                fb_df[tok] = fb_df.get(tok, 0) + 1
        cands = sorted(set(fb_df) - set(uniq))
        if cands:
            rows = (
                index.dictionary(field)
                .where(F.col("term").isin(cands))
                .where(F.col("num_occurences") >= int(min_occ))
                .select("term_id", "term", "num_occurences")
                .collect()  # bounded by the feedback docs' distinct tokens
            )
            chosen = sorted(
                rows,
                key=lambda r: (-fb_df[r["term"]], r["num_occurences"], r["term"]),
            )[: int(fb_terms)]
            sel_ids = [int(r["term_id"]) for r in chosen]

    # stage 2: weighted OR over original + expansion terms
    wmap = {tid: int(orig_w) for tid in orig_ids}
    for tid in sel_ids:
        wmap[tid] = int(exp_w)
    weights = F.create_map(
        *[F.lit(x) for pair in wmap.items() for x in pair]
    )
    flat = decode_blocks_df(_term_blocks(index, field, list(wmap)))
    hits = flat.groupBy("doc_id").agg(
        F.sum(F.col("score") * weights[F.col("term_id")]).alias("score_e4")
    )
    return hits.orderBy(F.desc("score_e4"), F.desc("doc_id")).limit(k)


# ------------------- span-near (proximity) retrieval --------------------

def bm25_near_topk(
    index,
    field: str,
    terms: Sequence[str],
    k: int,
    slop: int = 2,
    in_order: bool = False,
) -> DataFrame:
    """Unordered proximity (span-near) BM25 top-k: docs where ALL of
    ``terms`` occur with some choice of ONE position per term whose
    span (max − min, in non-separator token ranks) is ≤ (n−1) + slop.
    ``slop=0`` degenerates to "the n terms adjacent in some order" —
    Lucene ``SpanNearQuery(inOrder=false)`` / ES ``match_phrase`` slop
    semantics over distinct terms.  ``in_order=True`` additionally
    requires the chosen positions to be strictly increasing in query
    order (Lucene ``inOrder=true``): the verify becomes a greedy
    chain — for each occurrence of the first term, extend with the
    smallest later occurrence of each next term (bisect per step);
    greedy minimizes the chain end for the start, so "exists a chain
    within width" is decided exactly.  Proximity is a MATCH PREDICATE
    exactly like :func:`bm25_phrase_topk`'s adjacency (the reference's
    phrase pairs, /root/reference/src/create.rs:251-263, generalized
    from ordered distance-1 to unordered distance-≤width); the score is
    the integer BM25 sum over the query terms.

    Stages (all bounded):

    1. **posting intersection** — docs holding ALL terms, from the query
       terms' decoded postings only (literal ``term_id IN`` → Parquet
       row-group stats); the decoded frame is persisted and reused for
       stage 3, so the blocks are decompressed ONCE;
    2. **positional verify** over the candidates only — a docstore scan
       pruned to a literal ``doc_id IN`` list, re-tokenized in one
       Arrow-batched pass that computes the classic two-pointer
       MIN-COVER window over the merged occurrence list (O(occurrences)
       per doc, not O(positions^n)); a doc passes iff its minimal cover
       span is ≤ width.  Candidates are intersection-bounded, so this
       touches a vanishing fraction of the corpus (the phrase verify's
       measured rationale — mapInPandas, NOT a JVM lambda Catalyst
       would push below the semi-join);
    3. **scoring** — the stage-1 decoded frame semi-joined to the
       verified docs, integer-summed, top-k.
    """
    import pandas as pd

    from veloci_spark.index import decode_blocks_df

    spark = index.spark
    uniq = sorted(set(terms))
    if len(uniq) != len(terms):
        raise ValueError("span-near terms must be distinct")
    n = len(uniq)
    if n < 2:
        raise ValueError("span-near needs at least two terms")
    width = (n - 1) + int(slop)
    ids = _matched_term_ids(index, field, uniq)
    if len(ids) < n:  # some term absent from the corpus entirely
        return _empty_topk(spark)

    flat = decode_blocks_df(_term_blocks(index, field, ids)).persist()
    try:
        cand = (
            flat.groupBy("doc_id")
            .agg(F.count("*").alias("nt"))
            .where(F.col("nt") == n)
            .select("doc_id")
        )

        tokens = _field_tokens(index, field)
        # unlike the phrase verify (pair-chain candidates: rare by
        # construction), an AND intersection of common terms keeps tens
        # of thousands of docs — a literal IN that size plans in O(list)
        # on the driver and its ids are spread across every row group,
        # so stats pruning buys nothing; cut over to the semi-join early
        # (AQE broadcasts the candidate side).  The WAND IN-list lesson
        # (wand.candidate_block_filter), applied to doc ids — and at the
        # SAME 512 cutover wand uses: the r5 ladder measured the literal
        # list's planning/stat-check cost growing with list size, and a
        # 2–4k-literal IN here showed up as ~0.5 s of driver planning at
        # bench scale (r6).
        from veloci_spark.wand import INLIST_SEMI_JOIN_CUTOVER

        MAX_INLIST = INLIST_SEMI_JOIN_CUTOVER
        cand_ids = [r["doc_id"] for r in cand.limit(MAX_INLIST + 1).collect()]
        if not cand_ids:
            return _empty_topk(spark)
        if len(cand_ids) > MAX_INLIST:
            cand_rows = index.docstore().select("doc_id", field).join(
                cand, "doc_id", "left_semi"
            )
        else:
            cand_rows = index.docstore().select("doc_id", field).where(
                F.col("doc_id").isin(cand_ids)
            )

        termset = frozenset(uniq)
        ordered_terms = list(terms)  # query order (in_order only)

        def _passes_unordered(toks) -> bool:
            occ = [(i, t) for i, t in enumerate(toks) if t in termset]
            # two-pointer min-cover over the merged occurrence list
            have: dict = {}
            lo = 0
            best = None
            for hi in range(len(occ)):
                have[occ[hi][1]] = have.get(occ[hi][1], 0) + 1
                while len(have) == len(termset):
                    span = occ[hi][0] - occ[lo][0]
                    if best is None or span < best:
                        best = span
                    t0 = occ[lo][1]
                    have[t0] -= 1
                    if not have[t0]:
                        del have[t0]
                    lo += 1
            return best is not None and best <= width

        def _passes_ordered(toks) -> bool:
            from bisect import bisect_right

            pls = []
            for q in ordered_terms:
                pl = [i for i, t in enumerate(toks) if t == q]
                if not pl:
                    return False
                pls.append(pl)
            for start in pls[0]:
                cur = start
                ok = True
                for pl in pls[1:]:
                    j = bisect_right(pl, cur)
                    if j == len(pl):
                        ok = False
                        break
                    cur = pl[j]
                if ok and cur - start <= width:
                    return True
            return False

        passes = _passes_ordered if in_order else _passes_unordered

        def _verify(batches) -> "pd.DataFrame":
            for pdf in batches:
                keep = []
                for doc_id, txt in zip(pdf["doc_id"], pdf[field]):
                    if passes(tokens(txt)):
                        keep.append(doc_id)
                yield pd.DataFrame({"doc_id": pd.Series(keep, dtype="int64")})

        verified = cand_rows.mapInPandas(_verify, "doc_id long")
        hits = (
            flat.join(verified, "doc_id", "left_semi")
            .groupBy("doc_id")
            .agg(F.sum("score").alias("score_e4"))
        )
        out_rows = (
            hits.orderBy(F.desc("score_e4"), F.desc("doc_id")).limit(k).collect()
        )
    finally:
        flat.unpersist()
    return spark.createDataFrame(out_rows, "doc_id long, score_e4 long")


# -------------------- best-fragment snippet extraction -------------------

def bm25_snippet_topk(
    index, field: str, terms: Sequence[str], k: int, window: int = 8
) -> DataFrame:
    """OR-mode BM25 top-k with a best-fragment snippet per hit — the
    Lucene highlighter's fragment scoring reduced to a deterministic
    cross-engine rule: among windows of ``window`` consecutive
    non-separator tokens, pick the one containing the most query-term
    OCCURRENCES; ties break to the LEFTMOST window.  Windows are
    anchored at match positions — a maximal-count window can always be
    shifted right until it starts on its first match without losing a
    match, so match-anchored enumeration is lossless and the leftmost
    maximal anchor is unique.

    Returns (doc_id, score_e4, n_matched, snippet); ``snippet`` is the
    window's tokens joined by single spaces — a deterministic canonical
    form shared byte-for-byte with the DuckDB oracle, not a UI
    rendering (the native engine's why_found/highlight covers that,
    highlight.py).

    Scale shape: retrieval is the standard pruned-decode top-k;
    fragment extraction touches exactly k docs: their texts come into
    the driver through literal ``doc_id IN`` docstore prunes of at most
    ``INLIST_SEMI_JOIN_CUTOVER`` ids each (one collect for k ≤ 512), and
    the windows are picked in-process, one hit after another, with no
    Python worker.  The stage costs O(k · doc_len) regardless of corpus
    size.
    """
    from bisect import bisect_right

    spark = index.spark
    W = int(window)
    if W < 1:
        raise ValueError("window must be >= 1")
    schema = "doc_id long, score_e4 long, n_matched long, snippet string"
    # retrieval through the calibrated exhaustive-vs-WAND dispatch
    # (rank-identical per the dispatch guarantee; ADVICE r5) — snippet
    # mode no longer forces the full decode on large postings volumes
    top_rows = bm25_auto_topk(index, field, terms, k).collect()  # k-bounded
    scores = {int(r["doc_id"]): int(r["score_e4"]) for r in top_rows}
    tokens = _field_tokens(index, field)
    termset = frozenset(terms)
    rows = []
    for doc_id, txt in _doc_texts(index, field, list(scores)):
        toks = tokens(txt)
        matches = [i for i, t in enumerate(toks) if t in termset]
        if not matches:  # null/single-run text; unreachable for a scored hit
            continue
        best_nm, best_start = 0, 0
        for pos_idx, p in enumerate(matches):
            nm = bisect_right(matches, p + W - 1) - pos_idx
            if nm > best_nm:  # strict: leftmost wins ties
                best_nm, best_start = nm, p
        snippet = " ".join(toks[best_start : best_start + W])
        rows.append((doc_id, scores[doc_id], best_nm, snippet))
    rows.sort(key=lambda r: (-r[1], -r[0]))
    return _local_frame(spark, rows, schema)


# ---------------------- significant terms over hits ----------------------

def bm25_sigterms(
    index,
    field: str,
    terms: Sequence[str],
    k_sample: int = 50,
    top_terms: int = 10,
    min_fg: int = 2,
) -> DataFrame:
    """Significant terms over the hit set — Elasticsearch's
    ``significant_terms`` aggregation in its recommended
    sampler-wrapped form: take the top ``k_sample`` docs of the plain
    OR query (deterministic (score desc, doc_id desc) sample), count
    term occurrences inside the sample (foreground) and contrast them
    with corpus-wide occurrence counts (background) via the JLH score

        jlh = (fg_rate - bg_rate) * (fg_rate / bg_rate)

    quantized to ``jlh_e4`` exactly like every other score in this
    engine.  Query terms are excluded; terms must appear ``min_fg``
    times in the sample.  Returns (term, fg, bg, jlh_e4), ranked
    (jlh_e4 desc, term asc), ``top_terms`` rows.

    This is CONTRASTIVE term mining — unlike more-like-this
    (``bm25_mlt_topk``: rarest terms of ONE doc) it scores
    overrepresentation of the sample against the whole corpus, which is
    what surfaces "docs matching 'spark join' abnormally often say
    'shuffle'".

    Scale shape: the sample texts come into the driver through literal
    ``doc_id IN`` docstore prunes of at most ``INLIST_SEMI_JOIN_CUTOVER``
    ids each and are counted there with one Counter (k_sample docs, no
    Python worker); the background join scans the dictionary ONCE with
    the sample-vocabulary-sized foreground rows broadcast.  Nothing
    scales with corpus size except the dictionary scan, which is a
    map-side broadcast join with no shuffle."""
    from collections import Counter

    spark = index.spark
    schema = "term string, fg long, bg long, jlh_e4 long"
    sample = bm25_topk(index, field, terms, k_sample).collect()
    tokens = _field_tokens(index, field)
    counts: Counter = Counter()
    for _, txt in _doc_texts(index, field, [int(r["doc_id"]) for r in sample]):
        counts.update(tokens(txt))
    fg_total = sum(counts.values())  # query terms included
    if not fg_total:
        return _local_frame(spark, [], schema)
    # bg_total over the whole dictionary: an index constant (the
    # bm25_stats class of statistic), memoized on the handle
    bg_total = index.dictionary_total_occ(field)
    excluded = set(terms)
    fg = _local_frame(
        spark,
        [(t, n) for t, n in counts.items() if t not in excluded and n >= min_fg],
        "term string, fg long",
    )
    # dictionary scanned once, sample-vocabulary fg side broadcast
    joined = index.dictionary(field).join(F.broadcast(fg), "term")
    fgr = F.col("fg").cast("double") / F.lit(float(fg_total))
    bgr = F.col("num_occurences").cast("double") / F.lit(float(bg_total))
    jlh_e4 = F.floor(
        (fgr - bgr) * (fgr / bgr) * F.lit(10000.0) + F.lit(0.5)
    ).cast("long")
    out_rows = (
        joined.select(
            "term",
            "fg",
            F.col("num_occurences").cast("long").alias("bg"),
            jlh_e4.alias("jlh_e4"),
        )
        .orderBy(F.desc("jlh_e4"), F.asc("term"))
        .limit(top_terms)
        .collect()
    )
    return _local_frame(spark, out_rows, schema)


# -------------------------- fuzzy BM25 matching --------------------------

def bm25_fuzzy_topk(
    index,
    field: str,
    terms: Sequence[str],
    k: int,
    max_dist: int = 1,
    prefix_len: int = 0,
) -> DataFrame:
    """ES match-query ``fuzziness`` for the BM25 engine: each query term
    expands to every dictionary term within levenshtein ``max_dist``
    (optionally sharing the first ``prefix_len`` chars — ES
    ``prefix_length``, which keeps the candidate space tight on big
    vocabularies), and the UNION of matched term ids runs the standard
    exhaustive OR decode.  A dictionary term matched by several query
    terms counts once (set union, exactly ES's behavior); scoring is
    the plain integer BM25 sum over matched entries — the fuzzy
    expansion changes WHICH postings decode, not how they score.  The
    native engine's fuzzy matcher is the reference analog
    (/root/reference/src/search_field.rs:210-252, levenshtein over the
    FST); here the dictionary scan stays JVM-side (`F.levenshtein`,
    whole-stage codegen) with the same length prefilter.

    Scale shape: one dictionary scan (length-band prefiltered) per
    query — vocabulary-sized, not corpus-sized — collected as a bounded
    term-id list; then the standard literal ``term_id IN`` pruned
    decode."""
    spark = index.spark
    uniq = sorted(set(terms))
    d = int(max_dist)
    if d < 0:
        raise ValueError("max_dist must be >= 0")
    pred = None
    for t in uniq:
        clause = (
            (F.length("term") >= F.lit(len(t) - d))
            & (F.length("term") <= F.lit(len(t) + d))
            & (F.levenshtein(F.col("term"), F.lit(t)) <= F.lit(d))
        )
        if prefix_len > 0:
            clause = clause & (
                F.col("term").startswith(t[: int(prefix_len)])
            )
        pred = clause if pred is None else (pred | clause)
    rows = (
        index.dictionary(field)
        .where(pred)
        .select("term_id")
        .collect()  # vocabulary-bounded (and length-band pruned)
    )
    ids = sorted({int(r["term_id"]) for r in rows})
    if not ids:
        return _empty_topk(spark)
    return bm25_topk(index, field, uniq, k, _ids=ids)


# ----------------------- facets over the hit set ------------------------

def bm25_facets(
    index,
    field: str,
    terms: Sequence[str],
    group_cols: Sequence[str],
    top_n: int = 10,
) -> DataFrame:
    """ES terms-aggregation over the FULL BM25 hit set: for each
    requested docstore column, the ``top_n`` values by hit count with
    their summed score mass, plus the column's exact distinct-value
    cardinality over the hit set.  This is the categorical sibling of
    ``aggs.py``'s numeric histogram, on the BM25 side — "my query
    matches 48k files: which repos/languages?".

    Returns (col, value, n_docs, sum_score_e4, n_values), the top_n
    values per column ranked (n_docs desc, value asc); ``n_values`` is
    the column's total distinct count over the hit set (what ES reports
    next to ``sum_other_doc_count``), repeated on the column's rows.

    Scale shape: the hit set is corpus-sized by design (facets
    summarize ALL matches, not a page), so everything is
    aggregation-shaped: one map-side-combined groupBy per column over
    the hit-set join with a COLUMN-PRUNED docstore projection
    (doc_id + the facet columns only), no window anywhere; the per-doc
    score frame is computed once and persisted across the columns.
    The per-column cardinality job and the top_n collect are
    aggregate- and query-sized."""
    from veloci_spark.index import decode_blocks_df

    spark = index.spark
    schema = (
        "col string, value string, n_docs long, sum_score_e4 long, "
        "n_values long"
    )
    cols = list(group_cols)
    if not cols:
        raise ValueError("group_cols must name at least one column")
    missing = [c for c in cols if c not in index.docstore().columns]
    if missing:
        raise ValueError(f"unknown facet columns: {missing}")
    ids = _matched_term_ids(index, field, terms)
    if not ids:
        return spark.createDataFrame([], schema)
    flat = decode_blocks_df(_term_blocks(index, field, ids))
    hits = flat.groupBy("doc_id").agg(F.sum("score").alias("score_e4"))
    joined = hits.join(
        index.docstore().select("doc_id", *cols), "doc_id"
    ).persist()
    out_rows = []
    try:
        # ALL columns' cardinalities in ONE aggregate (this job also
        # materializes the persist): card must equal g.count() below —
        # distinct values INCLUDING a null group — so it is
        # countDistinct (null-excluding) + 1 iff any null occurs.
        card_row = joined.agg(
            *[
                (
                    F.countDistinct(F.col(c).cast("string"))
                    + F.max(
                        F.when(
                            F.col(c).cast("string").isNull(), F.lit(1)
                        ).otherwise(F.lit(0))
                    )
                ).alias(f"_card_{i}")
                for i, c in enumerate(cols)
            ]
        ).collect()[0]
        for i, c in enumerate(cols):
            card = int(card_row[f"_card_{i}"] or 0)
            g = (
                joined.groupBy(F.col(c).cast("string").alias("value"))
                .agg(
                    F.count("*").alias("n_docs"),
                    F.sum("score_e4").alias("sum_score_e4"),
                )
            )
            top = (
                g.orderBy(F.desc("n_docs"), F.asc("value"))
                .limit(int(top_n))
                .collect()
            )
            out_rows.extend(
                (c, r["value"], int(r["n_docs"]), int(r["sum_score_e4"]), card)
                for r in top
            )
    finally:
        joined.unpersist()
    return spark.createDataFrame(out_rows, schema)
