"""Block-max top-k (WAND-style pruning) over the compressed posting blocks.

The classical block-max WAND algorithm (Ding & Suel, SIGIR 2011; also
the reference's worst-score early-termination, search/sort.rs:5-34 and
search_field.rs:292-331) prunes posting regions whose score upper bound
cannot reach the current top-k threshold. In a batch engine the
document-at-a-time cursor loop doesn't apply, so we adapt it:

1. posting blocks are doc-aligned (block_no = doc_id // block_docs), so
   every term's (and every field's) block for a doc range joins on
   block_no;
2. phase 1 computes, from block-max METADATA ONLY (no decompression),
   an upper bound ``ub`` per block_no;
3. phase 2 decodes only the blocks with the highest upper bounds and
   computes exact scores for their docs; the kth exact score is the
   threshold;
4. while an undecoded block's ub can still reach the threshold, the
   candidate window grows (certificate jump) and phase 2 repeats; when
   the budget runs out, one full decode answers instead.

:func:`blockmax_topk` is that loop, once, for every pruned top-k in the
engine: the native OR path (:func:`wand_or_topk`, float scores and
slot-present p² bounds) and the BM25 paths in bm25.py (integer scores,
bounds ``Σ w·block_max``).  A caller supplies the bound frame and an
exact top-k function; the driver owns the metadata collect, the loop,
the fallback, the ``blocks_total``/``blocks_decoded`` stats and the
release of the frames it cached.  The exact scores use the same
formulas as the exhaustive paths, so the result is identical to them —
only cheaper: at 10^12 docs a rare-term query decodes a handful of
blocks instead of scanning full posting lists.
"""

from __future__ import annotations

import operator
from functools import reduce
from typing import Optional, Sequence

from pyspark.sql import DataFrame, functions as F

from veloci_spark.index import Index, decode_blocks_df
from veloci_spark.match_terms import match_terms
from veloci_spark.request import OrNode, SearchPart
from veloci_spark.scoring import py_score_e4, score_e4

# past this candidate count a literal IN-list stops paying; the full
# decode of the (already term-filtered) blocks is the cheaper plan
MAX_INLIST = 100_000

# a literal block_no IN (...) reaches Parquet row-group stats and is the
# right plan for a handful of blocks, but its cost grows with the list
# (expression tree size, per-row-group stat checks against every
# literal): the round-5 crossover ladder measured WAND's deficit
# WIDENING with corpus size (2.0x -> 2.9x at 12.8M docs, 8330-literal
# lists) purely from this.  Past this bound the candidate set ships as a
# broadcast semi-join instead — a tiny hash table probed once per row.
INLIST_SEMI_JOIN_CUTOVER = 512


def candidate_block_filter(df, cand_ids: Optional[list], spark):
    """Restrict a blocks frame to the candidate block_nos by whichever
    plan is right for the candidate count (literal IN below the
    cutover, broadcast semi-join above); None = no restriction."""
    if cand_ids is None:
        return df
    if len(cand_ids) <= INLIST_SEMI_JOIN_CUTOVER:
        return df.where(F.col("block_no").isin(cand_ids))
    ids_df = spark.createDataFrame(
        [(int(b),) for b in cand_ids], "block_no long"
    )
    return df.join(F.broadcast(ids_df), "block_no", "left_semi")


def collect_block_ubs(
    block_ub: DataFrame, max_inlist: int = MAX_INLIST
) -> tuple[list, bool]:
    """ONE metadata job for the whole WAND loop: the top (max_inlist+1)
    ``(block_no, ub)`` rows in (ub desc, block_no asc) order.  Returns
    ``(rows, truncated)``.

    Every subsequent loop decision — candidate ids, the max-remaining
    bound (the row after the candidate window), the certificate cap —
    is a driver-side read of this array, so each iteration costs exactly
    ONE Spark job (the candidate decode) instead of the three jobs the
    per-iteration ``limit(m+1).collect()`` + certificate ``count()``
    version dispatched.  The rows are ~16 B each (≤ ~1.6 MB driver-side
    at the cap), and TakeOrderedAndProject computes per-partition top-N
    map-side, so the collect stays metadata-cheap even when a stop-word
    term touches 10^9 blocks; past the cap the loop falls back to the
    full decode exactly as before."""
    rows = (
        block_ub.orderBy(F.desc("ub"), F.asc("block_no"))
        .limit(max_inlist + 1)
        .collect()
    )
    return rows, len(rows) > max_inlist


def wand_driver_loop(
    ub_rows: list,
    k: int,
    exact_fn,
    score_of,
    start_blocks: int = 8,
    max_iters: int = 8,
    quantize=None,
    max_inlist: int = MAX_INLIST,
) -> tuple[Optional[list], Optional[int]]:
    """Driver-side block-max iteration behind :func:`blockmax_topk`.
    ``ub_rows`` is the pre-collected desc-sorted bound list from
    :func:`collect_block_ubs`; ``exact_fn`` maps a candidate block-id
    list to collected exact top-k rows (the one Spark job per
    iteration); ``score_of`` extracts the score from a result row;
    ``quantize`` maps scores/bounds into the space the stop-condition
    compares in (identity for integer BM25 scores, e4 quantization for
    the float OR path).

    Returns ``(result_rows, decoded_blocks)`` or ``(None, None)`` when
    the caller must run its full-decode fallback (budget exhausted or
    certificate exceeds the collected window)."""
    # a truncated window needs no flag: it holds max_inlist + 1 rows and
    # m never passes max_inlist, so every candidate window leaves a row
    # after it bounding all uncollected blocks, and a certificate that
    # covers the whole window breaks to the fallback
    q = quantize if quantize is not None else (lambda x: x)
    m = start_blocks
    for _ in range(max_iters):
        if m > max_inlist:
            break
        cand = ub_rows[:m]
        cand_ids = [r["block_no"] for r in cand]
        # the row AFTER the candidate window IS the max remaining upper
        # bound (desc order); None ⇒ every block is already a candidate
        max_remaining = (
            ub_rows[len(cand)]["ub"] if len(ub_rows) > len(cand) else None
        )
        rows = exact_fn(cand_ids)
        kth = score_of(rows[-1]) if len(rows) >= k else None
        if max_remaining is None or (
            kth is not None and q(kth) > q(max_remaining)
        ):
            return rows, len(cand_ids)
        if kth is not None:
            # certificate JUMP, a driver-side scan: blocks whose
            # quantized bound falls below the kth quantized score can
            # never place a doc in the top-k, so decoding exactly the
            # blocks at-or-above it GUARANTEES the next iteration stops
            # (the new kth can only rise; every excluded block's bound is
            # strictly below the old kth in quantized space).  The former
            # multiplicative cap (min(needed, m*4)) stretched that to
            # 3-4 decode jobs; jumping makes the common case exactly two.
            # If the certificate covers the whole collected window the
            # pruned decode degenerates to a full decode — break so the
            # caller's fallback runs it without a giant IN-list (and,
            # when the window is truncated, because the true certificate
            # size is unknown).
            qk = q(kth)
            needed = 0
            for r in ub_rows:
                if q(r["ub"]) >= qk:
                    needed += 1
                else:
                    break
            if needed >= len(ub_rows):
                break
            m = max(needed, m + 1)
        else:
            m *= 4
    return None, None


def blockmax_topk(
    block_ub: DataFrame,
    exact_fn,
    k: int,
    schema: str,
    score_of,
    quantize=None,
    start_blocks: int = 8,
    max_iters: int = 8,
    stats: Optional[dict] = None,
    owned: Sequence[DataFrame] = (),
) -> DataFrame:
    """The one block-max top-k driver.  ``block_ub`` is the lazy
    ``(block_no, ub)`` bound frame; ``exact_fn(cand_ids)`` returns the
    collected exact top-k rows over the candidate blocks (``None`` =
    every block); ``owned`` are the frames the loop re-reads, cached
    here for its duration and released on exit — on error too.

    ONE bounded metadata collect feeds the whole loop; each iteration
    then dispatches exactly one Spark job (the candidate decode).  When
    the loop gives up (budget exhausted, e.g. many equal bounds at huge
    scale), one final FULL decode answers, so no doc from an undecoded
    block is ever silently dropped.  ``stats`` (optional) receives
    ``blocks_total``/``blocks_decoded``.  ``k <= 0`` is the empty
    frame, with no Spark job."""
    spark = block_ub.sparkSession
    if k <= 0:
        return spark.createDataFrame([], schema)
    for f in owned:
        f.persist()
    try:
        ub_rows, truncated = collect_block_ubs(block_ub)
        n_total = len(ub_rows)
        if stats is not None and truncated:
            n_total = block_ub.count()
        rows, decoded = wand_driver_loop(
            ub_rows,
            k,
            exact_fn,
            score_of,
            start_blocks=start_blocks,
            max_iters=max_iters,
            quantize=quantize,
        )
        if rows is None:
            rows, decoded = exact_fn(None), n_total
        if stats is not None:
            stats["blocks_total"] = int(n_total)
            stats["blocks_decoded"] = int(min(decoded, n_total))
        return spark.createDataFrame(rows, schema)
    finally:
        for f in owned:
            f.unpersist()


def wand_or_topk(
    index: Index,
    node: OrNode | SearchPart,
    k: int,
    start_blocks: int = 8,
    max_iters: int = 8,
    stats: Optional[dict] = None,
) -> DataFrame:
    """Top-k (doc_id, score) for an OR of leaf parts, rank-identical to
    the exhaustive executor path."""
    parts = list(node.parts) if isinstance(node, OrNode) else [node]
    slots = sorted({p.term for p in parts})
    slot_of = {t: i for i, t in enumerate(slots)}
    spark = index.spark

    # matched terms per part, tagged with slot
    per_field_terms: dict[str, list[DataFrame]] = {}
    for p in parts:
        t = match_terms(index, p).withColumn("slot", F.lit(slot_of[p.term]))
        per_field_terms.setdefault(p.field, []).append(t)

    # ---- phase 1: block upper bounds from metadata only
    ub_frames = []
    block_frames = []
    for field, terms_list in per_field_terms.items():
        terms = reduce(DataFrame.unionAll, terms_list)
        blocks = index.postings_blocks(field).join(
            F.broadcast(terms.select("term_id", "term_score", "slot")), "term_id"
        )
        block_frames.append((field, terms, blocks))
        ub_frames.append(
            blocks.select(
                "block_no",
                "slot",
                (
                    F.col("term_score") * (F.col("max_score").cast("double") / F.lit(100.0))
                ).alias("ub_part"),
            )
        )
    ubs = reduce(DataFrame.unionAll, ub_frames)
    # per-block bound uses the number of slots PRESENT in the block (p),
    # not the query's slot count S: a doc in the block matches at most p
    # distinct slots, so its score is ≤ Σ slot_max · p² — on skewed
    # corpora the blocks missing a rare term drop from ·S² to ·p², which
    # is what lets them prune below a threshold set by full-match docs
    block_ub = (
        ubs.groupBy("block_no", "slot")
        .agg(F.max("ub_part").alias("slot_ub"))
        .groupBy("block_no")
        .agg(
            (
                F.sum("slot_ub")
                * F.pow(F.count("slot_ub").cast("double"), F.lit(2.0))
            ).alias("ub")
        )
    )

    def _exact_topk(cand_ids: Optional[list]) -> list:
        """Exact OR top-k over the candidate block set (None = ALL blocks).
        Ranked by (score_e4 desc, doc_id desc) — the same quantized order
        the final consumer uses, so the retained doc set cannot drift from
        the exhaustive path at the k boundary when two raw scores quantize
        to the same e4 value."""
        hit_frames = []
        for field, terms, blocks in block_frames:
            sel = candidate_block_filter(blocks, cand_ids, spark)
            flat = decode_blocks_df(sel)
            joined = flat.join(
                F.broadcast(terms.select("term_id", "term_score", "slot")), "term_id"
            )
            hit_frames.append(
                joined.select(
                    "doc_id",
                    "slot",
                    (
                        F.col("term_score")
                        * (F.col("score").cast("double") / F.lit(100.0))
                    ).alias("s"),
                )
            )
        hits = reduce(DataFrame.unionAll, hit_frames)
        # ONE shuffle instead of two: the slot count is the query's term
        # count (driver-known, small), so per-slot maxes become columns
        # of a single conditional aggregation on doc_id — the former
        # groupBy(doc_id, slot) → groupBy(doc_id) pair re-shuffled the
        # (already small) per-slot rows a second time
        n_slots = len(slots)
        per_doc = hits.groupBy("doc_id").agg(
            *[
                F.max(F.when(F.col("slot") == i, F.col("s"))).alias(f"m{i}")
                for i in range(n_slots)
            ]
        )
        slot_cols = [
            F.coalesce(F.col(f"m{i}"), F.lit(0.0)) for i in range(n_slots)
        ]
        total = reduce(operator.add, slot_cols)
        n_present = reduce(
            operator.add,
            [F.when(c >= F.lit(1e-5), 1).otherwise(0) for c in slot_cols],
        )
        exact = per_doc.select(
            "doc_id",
            (total * F.pow(n_present.cast("double"), F.lit(2.0))).alias(
                "score"
            ),
        )
        topk = exact.orderBy(
            F.desc(score_e4(F.col("score"))), F.desc("doc_id")
        ).limit(k)
        return topk.collect()

    # the stop-condition compares in QUANTIZED space: an undecoded block
    # whose ub quantizes to the same e4 bucket as the kth hit could
    # still hold a doc that wins the (score_e4, doc_id desc) tie-break
    return blockmax_topk(
        block_ub,
        _exact_topk,
        k,
        "doc_id long, score double",
        lambda r: r["score"],
        quantize=py_score_e4,
        start_blocks=start_blocks,
        max_iters=max_iters,
        stats=stats,
        owned=[terms for _, terms, _ in block_frames] + [block_ub],
    )
