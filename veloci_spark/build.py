"""Distributed inverted-index build (single-pass, multi-field, 1:n-aware).

The reference builds per-field index column families in three passes over
ndjson (/root/reference/src/create.rs:929-965): term counting → sorted
term-id assignment (FST) → tuple emission with buffered external sort +
k-merge (/root/reference/buffered_index_writer). In Spark the external
sort/merge IS the shuffle, and — unlike the reference, which iterates
paths in rayon within one process — ALL fields share one dataflow: every
value of every indexed path is exploded into a single
``(field, doc_id, ordkey, text)`` stream, so the build costs one
tokenize + one dictionary shuffle + one posting shuffle + one phrase
shuffle regardless of field count (round-1 built per-field, repeating
every stage per field).

Nested 1:n semantics (/root/reference/json_converter/src/lib.rs:91-138):
a path like ``kanji[].text`` produces one row per array element — the
reference's per-path value_id is our ``ordkey`` (array ordinals joined
with '.'). Token positions, text length norms and whole-text entries are
all computed PER VALUE (create.rs:216-283 runs the tokenizer per text
value), then merged per (term, anchor) with the max+min(hits,5) rule
(create.rs:389-448). Tree-edge indices become two tables:

- ``texts``       (field, text_id, doc_id, ordkey): text occurrence →
  anchor + value instance (text_id_to_anchor + value_id_to_anchor,
  create.rs:196-215);
- ``token_texts`` (field, term_id, text_id): token → containing text
  value (tokens_to_text_id, create.rs:240), used by text-locality,
  the highlight entry point and 1:n boosts.

text_id = the term_id of the full text in the field dictionary; texts
longer than ``max_text_bytes`` get synthetic ids past the dictionary
size (create.rs:141-160 large-text ids) recorded in ``long_texts``.

Every stage checkpoints to Parquet under the index directory with a
_SUCCESS marker, a lineage/metrics record, and is skipped on resume —
the reference has no incremental build (README non-goal), but resumable
builds are required at 10^12-file scale.
"""

from __future__ import annotations

import json
import os
import re
import time
from typing import Iterator, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from veloci_spark.config import FieldConfig, IndexConfig
from veloci_spark.ids import assign_rank_ids
from veloci_spark.index import Index
from veloci_spark.paths import ORD_KEY, TEXT_COL, explode_path, is_nested
from veloci_spark.scoring import (
    exact_text_score_expr,
    merge_posting_scores,
    token_score_expr,
)
from veloci_spark.tokenize import has_tokens_expr, run_pattern, tokenize_expr


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _partition_metrics(path: str, detail_cap: int = 64) -> dict:
    """Per-output-partition metrics from Parquet footers (metadata only,
    no data read): row count + bytes per written file, with aggregate
    totals.  Detail is capped — at 10^12-file scale lineage must stay
    metadata-sized; the totals always cover everything."""
    try:
        import pyarrow.parquet as pq
    except Exception:  # pragma: no cover
        return {}
    files = []
    if not os.path.isdir(path):  # remote FS: totals come from Spark metrics
        return {}
    for root, _dirs, names in os.walk(path):
        for n in sorted(names):
            if not n.endswith(".parquet"):
                continue
            full = os.path.join(root, n)
            try:
                rows = pq.ParquetFile(full).metadata.num_rows
            except Exception:
                continue
            files.append(
                {
                    "file": os.path.relpath(full, path),
                    "rows": rows,
                    "bytes": os.path.getsize(full),
                }
            )
    files.sort(key=lambda d: d["file"])
    out = {
        "n_partitions": len(files),
        "rows": sum(f["rows"] for f in files),
        "bytes": sum(f["bytes"] for f in files),
    }
    out["partitions"] = files[:detail_cap]
    if len(files) > detail_cap:
        out["partitions_truncated"] = len(files) - detail_cap
    return out


class _Lineage:
    """Per-stage + per-partition lineage and metrics (jsonl next to the
    index): every stage appends wall time plus the written partitions'
    row/byte counts, so a resumed build can audit exactly what each
    checkpoint contains."""

    def __init__(self, out_dir: str):
        self.path = os.path.join(out_dir, "_lineage.jsonl")

    def record(self, stage: str, out_path: Optional[str] = None, **kv) -> None:
        rec = {"stage": stage, "ts": time.time(), **kv}
        if out_path:
            rec.update(_partition_metrics(out_path))
        with open(self.path, "a") as f:
            f.write(json.dumps(rec) + "\n")


# ---------------------------------------------------------------------------
# Single-pass value/token streams over ALL fields
# ---------------------------------------------------------------------------

def _field_values(
    corpus: DataFrame, fields: Sequence[FieldConfig]
) -> DataFrame:
    """(field, doc_id, ordkey, text) — one row per text-value instance of
    every indexed path (flat fields: ordkey='', one row per doc)."""
    frames = []
    for fc in fields:
        frames.append(
            explode_path(corpus, fc.name).select(
                F.lit(fc.name).alias("field"),
                "doc_id",
                F.col(ORD_KEY).alias("ordkey"),
                F.col(TEXT_COL).alias("text"),
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionAll(fr)
    return out


_STATS_SCHEMA = (
    "field string, doc_id long, ordkey string, num_tokens int, "
    "tok string, best_pos int, cnt_all long, cnt_nonsep long, tok2 string"
)


def _token_stats_map(
    seps: Sequence[str], grouped: bool, pair_fields: frozenset = frozenset()
):
    """mapInPandas generator: text values → per-(value, token) stats —
    the per-value token aggregation fused INTO the Arrow tokenize pass.

    The aggregation key (field, doc_id, ordkey, tok) is local to one
    input row, so this replaces a corpus-sized hash aggregate + shuffle
    (the build's hottest exchange: 104M occurrence rows → 35M stats
    rows measured at the 800k-doc scaling corpus) with a vectorized
    in-batch pandas groupby that never leaves the executor.

    For fields in ``pair_fields`` the SAME pass additionally emits the
    per-value-distinct adjacent non-separator token pairs (rows with
    ``tok2`` set; ``tok`` is the left token, the stats columns are
    zero-filled placeholders) — the phrase-pair build then costs no
    second tokenize pass over the corpus.  Adjacency among non-separator
    tokens is consecutiveness in the separator-filtered sequence
    (/root/reference/src/create.rs:251-263 resets the chain per value),
    computed with a numpy shift; a pure-JVM array_distinct over struct
    pairs was measured SLOWER (pairwise struct equality is quadratic
    per value)."""
    import numpy as np

    pat = re.compile(run_pattern(seps, grouped))
    sep_first = set(seps)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        empty = pd.DataFrame(
            {
                "field": pd.Series(dtype="object"),
                "doc_id": pd.Series(dtype="int64"),
                "ordkey": pd.Series(dtype="object"),
                "num_tokens": pd.Series(dtype="int32"),
                "tok": pd.Series(dtype="object"),
                "best_pos": pd.Series(dtype="int32"),
                "cnt_all": pd.Series(dtype="int64"),
                "cnt_nonsep": pd.Series(dtype="int64"),
                "tok2": pd.Series(dtype="object"),
            }
        )
        for pdf in batches:
            if not len(pdf):
                yield empty
                continue
            runs = pdf["text"].fillna("").str.findall(pat)
            n = runs.str.len().to_numpy()
            keep = n >= 2  # has_tokens (simple_tokenizer_group.rs:10-15)
            if not keep.any():
                yield empty
                continue
            keys = pdf.loc[keep, ["field", "doc_id", "ordkey"]].reset_index(
                drop=True
            )
            counts = n[keep].astype("int64")
            toks = np.concatenate(
                [np.asarray(r, dtype=object) for r in runs[keep]]
            )
            ridx = np.repeat(np.arange(len(keys)), counts)
            ends = np.cumsum(counts)
            pos = np.arange(ends[-1]) - np.repeat(ends - counts, counts)
            flat = pd.DataFrame({"i": ridx, "pos": pos, "tok": toks})
            first_char = flat["tok"].str[:1]
            nonsep = (~first_char.isin(sep_first)).to_numpy()
            flat["nonsep"] = nonsep.astype("int64")
            g = (
                flat.groupby(["i", "tok"], sort=False)
                .agg(
                    best_pos=("pos", "min"),
                    cnt_all=("pos", "size"),
                    cnt_nonsep=("nonsep", "sum"),
                )
                .reset_index()
            )
            i = g["i"].to_numpy()
            yield pd.DataFrame(
                {
                    "field": keys["field"].to_numpy()[i],
                    "doc_id": keys["doc_id"].to_numpy()[i],
                    "ordkey": keys["ordkey"].to_numpy()[i],
                    "num_tokens": counts[i].astype("int32"),
                    "tok": g["tok"].to_numpy(),
                    "best_pos": g["best_pos"].to_numpy().astype("int32"),
                    "cnt_all": g["cnt_all"].to_numpy().astype("int64"),
                    "cnt_nonsep": g["cnt_nonsep"].to_numpy().astype("int64"),
                    "tok2": None,
                }
            )
            if not pair_fields:
                continue
            # pair rows: filter to non-separator runs of pair fields;
            # flat's row order is (value, pos) by construction, so a
            # 1-row shift within the same value index = adjacency
            vmask = keys["field"].isin(pair_fields).to_numpy()
            sel = nonsep & vmask[ridx]
            pi, ptoks = ridx[sel], toks[sel]
            if len(ptoks) < 2:
                continue
            same = pi[:-1] == pi[1:]
            if not same.any():
                continue
            pairs = pd.DataFrame(
                {
                    "i": pi[:-1][same],
                    "t1": ptoks[:-1][same],
                    "t2": ptoks[1:][same],
                }
            ).drop_duplicates()
            j = pairs["i"].to_numpy()
            npairs = len(pairs)
            yield pd.DataFrame(
                {
                    "field": keys["field"].to_numpy()[j],
                    "doc_id": keys["doc_id"].to_numpy()[j],
                    "ordkey": keys["ordkey"].to_numpy()[j],
                    "num_tokens": np.zeros(npairs, dtype="int32"),
                    "tok": pairs["t1"].to_numpy(),
                    "best_pos": np.zeros(npairs, dtype="int32"),
                    "cnt_all": np.zeros(npairs, dtype="int64"),
                    "cnt_nonsep": np.zeros(npairs, dtype="int64"),
                    "tok2": pairs["t2"].to_numpy(),
                }
            )

    return gen


def _value_token_stats(
    values: DataFrame,
    fields: Sequence[FieldConfig],
    pair_fields: frozenset = frozenset(),
) -> Optional[DataFrame]:
    """(field, doc_id, ordkey, num_tokens, tok, best_pos, cnt_all,
    cnt_nonsep, tok2): one row per DISTINCT (text value, token run
    string) with ``tok2`` null, plus — for fields in ``pair_fields`` —
    one row per distinct adjacent non-separator pair per value (``tok2``
    set, stats columns zero placeholders).

    best_pos is the first run index (separator runs counted), cnt_all
    the run occurrence count (what dictionary num_occurences sums),
    cnt_nonsep the non-separator occurrence count (the BM25 tf
    contribution), num_tokens the VALUE's run count (per-value length
    norm, calculate_score.rs:6-31).  Only values with >= 2 runs produce
    rows (`has_tokens`, reference src/create.rs:225-227).
    Computed by the fused Arrow pass
    (:func:`_token_stats_map`), one ``mapInPandas`` per distinct
    (separators, grouped) tokenizer config — typically all fields share
    the default config and the corpus tokenizes in a single pass."""
    groups: dict[tuple, list[str]] = {}
    for fc in fields:
        if not fc.tokenize:
            continue
        key = (fc.separators(), fc.tokenizer_grouped)
        groups.setdefault(key, []).append(fc.name)
    if not groups:
        return None
    frames = []
    for (seps, grouped), names in groups.items():
        subset = values.where(F.col("field").isin(*names)).select(
            "field", "doc_id", "ordkey", "text"
        )
        frames.append(
            subset.mapInPandas(
                _token_stats_map(seps, grouped, pair_fields & frozenset(names)),
                schema=_STATS_SCHEMA,
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionAll(fr)
    return out


def _split_stats_pairs(
    stats_full: Optional[DataFrame],
) -> tuple[Optional[DataFrame], Optional[DataFrame]]:
    """Split the combined fused-pass output into the pure stats frame
    (tok2 null, column dropped) and the raw pair frame (field, doc_id,
    __tok1, __tok2)."""
    if stats_full is None:
        return None, None
    stats = stats_full.where(F.col("tok2").isNull()).drop("tok2")
    pairs = stats_full.where(F.col("tok2").isNotNull()).select(
        "field",
        "doc_id",
        F.col("tok").alias("__tok1"),
        F.col("tok2").alias("__tok2"),
    )
    return stats, pairs


def _bytes_limit(fields: Sequence[FieldConfig]) -> Column:
    """Per-field max_text_bytes as a CASE expression
    (/root/reference/src/metadata.rs:66-68 is a per-field setting)."""
    expr = None
    for fc in fields:
        cond = F.col("field") == F.lit(fc.name)
        expr = (
            F.when(cond, F.lit(fc.max_text_bytes))
            if expr is None
            else expr.when(cond, F.lit(fc.max_text_bytes))
        )
    return expr


def _whole_texts(values: DataFrame, fields: Sequence[FieldConfig]) -> DataFrame:
    """Text values short enough to become whole-text dictionary terms
    (byte length <= per-field max_text_bytes; counted once per VALUE
    occurrence, /root/reference/src/create/create_fulltext.rs:99-115)."""
    return values.where(F.octet_length("text") <= _bytes_limit(fields))


# ---------------------------------------------------------------------------
# Stages
# ---------------------------------------------------------------------------

def _build_dictionary(
    spark: SparkSession,
    stats: Optional[DataFrame],
    whole: DataFrame,
    cfg: IndexConfig,
) -> DataFrame:
    """(field, term, term_id, num_occurences); term_id = rank in
    byte-sorted order WITHIN each field
    (/root/reference/src/create/create_fulltext.rs:71-80) — all fields
    share one (field, term) range shuffle; the per-field rank restart
    comes from the same count job (assign_rank_ids rank_within), so no
    extra offsets pass.

    Token occurrences arrive pre-aggregated per (value, token) from
    :func:`_value_token_stats` (sum cnt_all); whole-text occurrences are
    counted per value row.  Both branches and the final merge are
    map-side-combined groupBys."""
    whole_counts = (
        whole.select("field", F.col("text").alias("term"))
        .groupBy("field", "term")
        .agg(F.count("*").alias("c"))
    )
    if stats is not None:
        tok_counts = (
            stats.select("field", F.col("tok").alias("term"), "cnt_all")
            .groupBy("field", "term")
            .agg(F.sum("cnt_all").alias("c"))
        )
        counts = (
            whole_counts.unionAll(tok_counts)
            .groupBy("field", "term")
            .agg(F.sum("c").alias("num_occurences"))
        )
    else:
        counts = whole_counts.withColumnRenamed("c", "num_occurences")
    ranked = assign_rank_ids(
        counts, ["field", "term"], "term_id", cfg.dict_partitions,
        rank_within="field",
    )
    out = ranked.select(
        "field",
        "term",
        "term_id",
        "num_occurences",
        # materialized lowercase column: lets case-insensitive exact/prefix
        # predicates push down to the Parquet scan (a lower(term)=x wrapper
        # reaches the scan as IsNotNull only — observed via explain)
        F.lower("term").alias("term_lower"),
    )
    if hasattr(ranked, "_veloci_unpersist"):
        out._veloci_unpersist = ranked._veloci_unpersist  # type: ignore[attr-defined]
    return out


def _token_value_agg(
    stats: DataFrame, dictionary: DataFrame, with_tf: bool = False
) -> DataFrame:
    """(field, term_id, doc_id, ordkey, best_pos, num_occurences,
    num_tokens[, tf_part]) — ONE dictionary join shared by the native
    posting build and, via ``tf_part`` (non-separator occurrence count
    per value), the BM25 build.

    Since round 4 the per-value aggregation itself is fused into the
    tokenizer pass (:func:`_value_token_stats`), so this is a pure join:
    the old occurrence-stream groupBy — the build's largest exchange —
    no longer exists, and the join probes one row per distinct
    (value, token) instead of one per occurrence (104M → 35M rows
    measured at the 800k-doc scaling corpus)."""
    dict_for_tok = dictionary.select(
        "field", F.col("term").alias("tok"), "term_id", "num_occurences"
    )
    # scale-guarded broadcast (guide §3.1): the dictionary side is
    # vocabulary-sized; below the bound (one cheap count over the
    # just-written parquet) the hint replaces a sort-merge shuffle of
    # the much larger per-(value, token) stats frame.  Big vocabularies
    # (10^9-term code dictionaries) keep the AQE-planned join.
    try:
        if dictionary.count() <= 4_000_000:
            dict_for_tok = F.broadcast(dict_for_tok)
    except Exception:
        pass
    cols = [
        "field",
        "term_id",
        "doc_id",
        "ordkey",
        "best_pos",
        "num_occurences",
        "num_tokens",
    ]
    if with_tf:
        cols.append(F.col("cnt_nonsep").alias("tf_part"))
    return stats.join(dict_for_tok, ["field", "tok"]).select(*cols)


def _build_flat_postings(
    value_agg: Optional[DataFrame], whole: DataFrame, dictionary: DataFrame
) -> DataFrame:
    """(field, term_id, doc_id, score) — the logical posting list.

    Token entries: per (term, doc, VALUE) keep the best (lowest) position
    with the value's own length norm
    (/root/reference/src/create/calculate_score.rs:6-31 runs per text
    value) — the per-value aggregate arrives precomputed from
    :func:`_token_value_agg`. Whole-text entries: exact score per
    occurrence (/root/reference/src/create.rs:216-221). Merge per (term,
    anchor): max + capped multi-hit bonus
    (/root/reference/src/create.rs:389-448) — a doc whose array holds the
    token in 3 elements gets 3 entries in, one merged entry out.
    """
    dict_for_text = dictionary.select(
        "field", F.col("term").alias("text"), "term_id", "num_occurences"
    )
    text_entries = whole.join(dict_for_text, ["field", "text"]).select(
        "field",
        "term_id",
        "doc_id",
        exact_text_score_expr(F.col("num_occurences")).alias("score"),
    )
    entries = text_entries
    if value_agg is not None:
        token_entries = value_agg.select(
            "field",
            "term_id",
            "doc_id",
            token_score_expr(
                F.col("best_pos"), F.col("num_occurences"), F.col("num_tokens")
            ).alias("score"),
        )
        entries = token_entries.unionAll(text_entries)
    merged = (
        entries.groupBy("field", "term_id", "doc_id")
        .agg(F.max("score").alias("score_max"), F.count("*").alias("n_entries"))
        .select(
            "field",
            "term_id",
            "doc_id",
            merge_posting_scores(F.col("score_max"), F.col("n_entries")).alias(
                "score"
            ),
        )
    )
    return merged


def _encode_blocks(
    flat: DataFrame,
    block_docs: int,
    dictionary: Optional[DataFrame] = None,
    salt_rows_per_shard: int = 4_000_000,
) -> DataFrame:
    """Doc-aligned posting blocks with block-max metadata: one row per
    (field, term_id, block_no) holding the block's sorted ``doc_ids``
    and their ``scores`` as two ``array<long>`` columns, built by one
    JVM aggregate (no Python worker).

    The reference delta+vint-compresses each block
    (``indices/persistence_score/token_to_anchor_score_vint.rs:37-48``).
    Here the block tables are written as Parquet v2 (see
    :func:`_write_blocks`), whose DELTA_BINARY_PACKED encoding
    delta-bit-packs the sorted ids: the same compression idea, done by
    the file format, and decoded by the JVM scan
    (:func:`index.decode_blocks_df`).  DOCUMENTED DEVIATION (byte layout,
    not values): decoded ``(doc_id, score)`` streams are value-identical
    to the reference's, and on-disk byte parity is a non-goal — this
    engine's persistent format is Parquet, not mmap'd segment files.
    Scores are stored as the u32-truncated integer index scores
    (integers < 2048 for the reference formulas, so the reference's f16
    decode at token_to_anchor_score_vint.rs:155 is lossless and our
    integer storage is value-identical).

    One hash shuffle on (field, term_id[, salt]): the block aggregate's
    keys extend the shuffle key, so it reuses that partitioning with no
    second exchange, and a within-partition sort keeps each task's
    output file sorted by (field, term_id), so Parquet row-group stats
    stay tight for term_id point lookups.

    Salted-key skew handling for stop-word-like hot terms: a bare hash
    shuffle on (field, term_id) sends a ubiquitous term's ENTIRE posting
    list to one task — at 10^12 docs that one task receives ~10^12 rows.
    Terms whose dictionary ``num_occurences`` exceeds
    ``salt_rows_per_shard`` therefore get ``salt = block_no % n_salts``
    (n_salts = ceil(occurences / shard), capped 256) added to the shuffle
    key via a broadcast join of the (tiny) hot-term set. Because the salt
    is a pure function of block_no, every doc-aligned (term, block) group
    still lands whole in one partition, so the block rows are identical
    to the unsalted layout — only their placement across tasks/files
    changes. The long tail (salt 0 constant) keeps exactly the unsalted
    distribution and file-stat tightness."""
    with_block = flat.withColumn(
        "block_no", (F.col("doc_id") / F.lit(block_docs)).cast("long")
    )
    if dictionary is not None:
        hot = (
            dictionary.where(F.col("num_occurences") > F.lit(salt_rows_per_shard))
            .select(
                "field",
                "term_id",
                F.least(
                    F.ceil(F.col("num_occurences") / F.lit(salt_rows_per_shard)),
                    F.lit(256),
                ).alias("__n_salts"),
            )
        )
        with_block = with_block.join(
            F.broadcast(hot), ["field", "term_id"], "left"
        ).withColumn(
            "__salt",
            F.when(
                F.col("__n_salts").isNotNull(),
                F.col("block_no") % F.col("__n_salts"),
            ).otherwise(F.lit(0)),
        )
    else:
        with_block = with_block.withColumn("__salt", F.lit(0))
    # a block never exceeds block_docs entries, so skewed (stop-word-like)
    # terms split into bounded rows
    blocks = (
        with_block.repartition("field", "term_id", "__salt")
        .groupBy("field", "term_id", "__salt", "block_no")
        .agg(
            F.count("*").alias("n_docs"),
            F.max("score").cast("long").alias("max_score"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
            F.sort_array(
                F.collect_list(
                    F.struct("doc_id", F.col("score").cast("long").alias("score"))
                )
            ).alias("__ps"),
        )
    )
    return blocks.select(
        "field",
        "term_id",
        "block_no",
        "n_docs",
        "max_score",
        "min_doc_id",
        "max_doc_id",
        F.col("__ps.doc_id").alias("doc_ids"),
        F.col("__ps.score").alias("scores"),
    ).sortWithinPartitions("field", "term_id", "block_no")


def _write_blocks(blocks: DataFrame, path: str) -> None:
    """Write a block table as Parquet v2 with dictionaries off, so every
    long column is DELTA_BINARY_PACKED: that is what compresses the
    sorted ``doc_ids`` (v1 writes them plain, roughly doubling a dense
    table).  A dictionary only pays while a chunk holds few distinct
    ids, and even then delta packing was smaller: on a 1,500-doc code
    corpus with 1,024-doc blocks the bm25 table took 511 kB with
    dictionaries and 380 kB without."""
    (
        blocks.write.mode("overwrite")
        .option("parquet.writer.version", "v2")
        .option("parquet.enable.dictionary", "false")
        .partitionBy("field")
        .parquet(path)
    )


def _blocks_done(spark: SparkSession, path: str) -> bool:
    """A finished block table in the array layout.  One written before it
    (``data binary`` varint blocks) must be rebuilt on resume, not
    reused.  A table written from no rows has no file to read a schema
    from, and no blocks in either layout."""
    if not _done(path):
        return False
    try:
        return "doc_ids" in spark.read.parquet(path).columns
    except AnalysisException:
        return True


def _build_phrase_pairs(pairs_src: DataFrame, dictionary: DataFrame) -> DataFrame:
    """(field, term_id_1, term_id_2, doc_id) for adjacent non-separator
    tokens. The pair chain is PER TEXT VALUE — the reference resets
    prev_token at each cb_text call (/root/reference/src/create.rs:251-263)
    — and separator runs are skipped; sorted-dedup like the reference's
    sort_and_dedup merge (/root/reference/src/create.rs:349-363).

    ``pairs_src`` arrives value-deduped from the SAME fused Arrow pass
    that produced the token stats (zero extra tokenize passes, no
    occurrence-stream window shuffle); the remaining shuffles are the two
    dictionary joins and the final doc-level distinct over already
    value-deduped pairs."""
    d1 = dictionary.select(
        "field",
        F.col("term").alias("__tok1"),
        F.col("term_id").alias("term_id_1"),
    )
    d2 = dictionary.select(
        "field",
        F.col("term").alias("__tok2"),
        F.col("term_id").alias("term_id_2"),
    )
    return (
        pairs_src.join(d1, ["field", "__tok1"])
        .join(d2, ["field", "__tok2"])
        .select("field", "term_id_1", "term_id_2", "doc_id")
        .distinct()
    )


def _build_texts(
    spark: SparkSession,
    values: DataFrame,
    dictionary: DataFrame,
    text_fields: Sequence[FieldConfig],
    cfg: IndexConfig,
):
    """Tree-edge tables for fields that need per-text-value resolution.

    Returns (texts, token_texts, long_texts):
    - texts (field, text_id, doc_id, ordkey): one row per text-value
      occurrence (text_id_to_anchor ∪ value_id_to_anchor,
      /root/reference/src/create.rs:196-215);
    - token_texts (field, term_id, text_id): distinct token→text edges
      (tokens_to_text_id, /root/reference/src/create.rs:240);
    - long_texts (field, text_id, text): synthetic ids for texts past the
      byte limit (/root/reference/src/create.rs:141-160), so highlight /
      reconstruction can recover the string.
    """
    vals = values.where(F.col("field").isin(*[fc.name for fc in text_fields]))
    limit = _bytes_limit(text_fields)
    short = vals.where(F.octet_length("text") <= limit)
    long = vals.where(F.octet_length("text") > limit)

    dict_for_text = dictionary.select(
        "field", F.col("term").alias("text"), F.col("term_id").alias("text_id")
    )
    short_ids = short.join(dict_for_text, ["field", "text"])

    # synthetic large-text ids: dictionary size of the field + per-field
    # rank over the distinct long texts (rank_within: one count job)
    dict_sizes = {
        r["field"]: r["n"]
        for r in dictionary.groupBy("field").agg(F.count("*").alias("n")).collect()
    }
    long_distinct = long.select("field", "text").distinct()
    long_ranked = assign_rank_ids(
        long_distinct, ["field", "text"], "__lrank", rank_within="field"
    )
    if dict_sizes:
        base_expr = None
        for fld, n in dict_sizes.items():
            cond = F.col("field") == F.lit(fld)
            base_expr = (
                F.when(cond, F.lit(n))
                if base_expr is None
                else base_expr.when(cond, F.lit(n))
            )
        long_texts = long_ranked.select(
            "field", (F.col("__lrank") + base_expr).alias("text_id"), "text"
        )
    else:
        long_texts = spark.createDataFrame([], "field string, text_id long, text string")
    long_ids = long.join(long_texts, ["field", "text"])

    texts = short_ids.select("field", "text_id", "doc_id", "ordkey").unionAll(
        long_ids.select("field", "text_id", "doc_id", "ordkey")
    )

    # token → text edges: tokenize the DISTINCT texts (with ids), explode,
    # join the dictionary — no join against the big occurrence stream
    with_ids = short.select("field", "text").distinct().join(
        dict_for_text, ["field", "text"]
    ).unionAll(long_texts.select("field", "text", "text_id"))
    tt_frames = []
    groups: dict[tuple, list[str]] = {}
    for fc in text_fields:
        if fc.tokenize:
            groups.setdefault((fc.separators(), fc.tokenizer_grouped), []).append(
                fc.name
            )
    dict_for_tok = dictionary.select(
        "field", F.col("term").alias("tok"), "term_id"
    )
    for (seps, grouped), names in groups.items():
        subset = with_ids.where(F.col("field").isin(*names))
        runs = tokenize_expr("text", seps, grouped)
        tt_frames.append(
            subset.withColumn("__runs", runs)
            .where(has_tokens_expr(F.col("__runs")))
            .select("field", "text_id", F.explode("__runs").alias("tok"))
            .distinct()
            .join(dict_for_tok, ["field", "tok"])
            .select("field", "term_id", "text_id")
        )
    if tt_frames:
        token_texts = tt_frames[0]
        for fr in tt_frames[1:]:
            token_texts = token_texts.unionAll(fr)
        token_texts = token_texts.distinct()
    else:
        token_texts = spark.createDataFrame(
            [], "field string, term_id long, text_id long"
        )
    return texts, token_texts, long_texts


# ---------------------------------------------------------------------------
# Orchestration
# ---------------------------------------------------------------------------

def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    config: IndexConfig,
    out_dir: str,
    resume: bool = True,
) -> Index:
    """Build (or resume building) the full index under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    lineage = _Lineage(out_dir)

    # ---- stage: doc store (the corpus itself IS the doc store;
    # /root/reference/doc_store compresses raw JSON — Parquet already does)
    docstore_path = os.path.join(out_dir, "docstore")
    if config.doc_id_col and config.doc_id_col in corpus.columns:
        corpus_ids = corpus.withColumnRenamed(config.doc_id_col, "doc_id")
    else:
        corpus_ids = assign_rank_ids(corpus, list(config.key_cols), "doc_id")
    if not (resume and _done(docstore_path)):
        t0 = time.time()
        corpus_ids.write.mode("overwrite").parquet(docstore_path)
        if hasattr(corpus_ids, "_veloci_unpersist"):
            corpus_ids._veloci_unpersist()
        lineage.record("docstore", out_path=docstore_path, wall_s=time.time() - t0)
    # fan out the read-back: the docstore inherits the INPUT's partition
    # count (a single-row-group fixture file → ONE file → every
    # downstream tokenize/aggregate map task runs on one core).  A small
    # docstore is repartitioned to the default parallelism; production
    # sized docstores (> FAN_OUT_MAX_BYTES) keep their own layout.
    from veloci_spark.pipeline.common import read_fanned

    corpus_ids = read_fanned(spark, docstore_path)

    fields = config.indexed_fields()
    dict_path = os.path.join(out_dir, "dictionary")
    post_path = os.path.join(out_dir, "postings")
    phrase_path = os.path.join(out_dir, "phrase")
    texts_path = os.path.join(out_dir, "texts")
    token_texts_path = os.path.join(out_dir, "token_texts")
    long_texts_path = os.path.join(out_dir, "long_texts")

    bm25_path = os.path.join(out_dir, "bm25")

    phrase_fields = [fc.name for fc in fields if fc.phrase_pairs]
    text_fields = [fc for fc in fields if fc.needs_texts()]
    bm25_fields = [fc.name for fc in fields if fc.bm25 and fc.tokenize]
    native_fields = [fc.name for fc in fields if fc.native_postings]
    native_tok_fields = [
        fc.name for fc in fields if fc.native_postings and fc.tokenize
    ]

    need_dict = not (resume and _done(dict_path))
    need_post = bool(native_fields) and not (resume and _blocks_done(spark, post_path))
    need_phrase = bool(phrase_fields) and not (resume and _done(phrase_path))
    need_texts = bool(text_fields) and not (resume and _done(texts_path))
    need_bm25 = bool(bm25_fields) and not (resume and _blocks_done(spark, bm25_path))

    if need_dict or need_post or need_phrase or need_texts or need_bm25:
        values = _field_values(corpus_ids, fields)
        whole = _whole_texts(values, fields)
        # per-(value, token) stats (+ phrase pairs) — ONE fused
        # tokenize+aggregate pass feeds the dictionary counts, the
        # posting/BM25 value aggregate AND the phrase-pair rows;
        # persisted to executor-local disk when more than one consumer
        # is live, so the corpus is tokenized exactly once per build
        stats: Optional[DataFrame] = None
        pairs_src: Optional[DataFrame] = None
        stats_persisted = False
        post_needs_va = need_post and bool(native_tok_fields)
        pair_fields = frozenset(phrase_fields) if need_phrase else frozenset()
        if need_dict or post_needs_va or need_bm25 or pair_fields:
            stats_full = _value_token_stats(values, fields, pair_fields)
            n_consumers = sum(
                (need_dict, post_needs_va or need_bm25, bool(pair_fields))
            )
            if stats_full is not None and n_consumers > 1:
                from pyspark import StorageLevel

                stats_full = stats_full.persist(StorageLevel.DISK_ONLY)
                stats_persisted = True
            stats, pairs_src = _split_stats_pairs(stats_full)

        if need_dict:
            t0 = time.time()
            dictionary = _build_dictionary(spark, stats, whole, config)
            (
                dictionary.sortWithinPartitions("field", "term")
                .write.mode("overwrite")
                .partitionBy("field")
                .parquet(dict_path)
            )
            if hasattr(dictionary, "_veloci_unpersist"):
                dictionary._veloci_unpersist()
            lineage.record("dictionary", out_path=dict_path, wall_s=time.time() - t0)
        dictionary = spark.read.parquet(dict_path)

        # shared per-value token aggregate: one dictionary join + one
        # shuffle feeds BOTH the native posting scores and (tf_part) the
        # BM25 tf/df/dl derivation. With both consumers live it is
        # spilled to executor-local disk once instead of recomputing the
        # tokenize+join chain per engine.
        value_agg: Optional[DataFrame] = None
        value_agg_persisted = False
        if (post_needs_va or need_bm25) and stats is not None:
            value_agg = _token_value_agg(stats, dictionary, with_tf=need_bm25)
            if post_needs_va and need_bm25:
                from pyspark import StorageLevel

                value_agg = value_agg.persist(StorageLevel.DISK_ONLY)
                value_agg_persisted = True

        if need_post:
            t0 = time.time()
            # restrict to the fields that asked for native scores — a
            # bm25-only field contributes NOTHING here, and with no
            # native tokenized field at all the token side (the
            # expensive one) is skipped entirely
            va_native = (
                value_agg.where(F.col("field").isin(*native_tok_fields))
                if value_agg is not None and native_tok_fields
                else None
            )
            whole_native = whole.where(F.col("field").isin(*native_fields))
            flat = _build_flat_postings(va_native, whole_native, dictionary)
            blocks = _encode_blocks(
                flat,
                config.block_docs,
                dictionary=dictionary,
                salt_rows_per_shard=config.salt_rows_per_shard,
            )
            _write_blocks(blocks, post_path)
            lineage.record("postings", out_path=post_path, wall_s=time.time() - t0)

        if need_phrase:
            t0 = time.time()
            assert pairs_src is not None
            pairs = _build_phrase_pairs(pairs_src, dictionary)
            (
                pairs.repartition("field", "term_id_1")
                .sortWithinPartitions("field", "term_id_1", "term_id_2", "doc_id")
                .write.mode("overwrite")
                .partitionBy("field")
                .parquet(phrase_path)
            )
            lineage.record("phrase", out_path=phrase_path, wall_s=time.time() - t0)

        if need_bm25:
            t0 = time.time()
            from veloci_spark.bm25 import bm25_from_tf

            assert value_agg is not None
            tf = (
                value_agg.where(F.col("field").isin(*list(bm25_fields)))
                .groupBy("field", "term_id", "doc_id")
                .agg(F.sum("tf_part").alias("tf"))
                .where(F.col("tf") > 0)
            )
            flat25, bm25_stats = bm25_from_tf(tf)
            blocks25 = _encode_blocks(
                flat25,
                config.block_docs,
                dictionary=dictionary,
                salt_rows_per_shard=config.salt_rows_per_shard,
            )
            _write_blocks(blocks25, bm25_path)
            if hasattr(flat25, "_veloci_unpersist"):
                flat25._veloci_unpersist()
            with open(os.path.join(out_dir, "bm25_stats.json"), "w") as f:
                json.dump(bm25_stats, f, indent=2)
            lineage.record("bm25", out_path=bm25_path, wall_s=time.time() - t0, stats=bm25_stats)

        if value_agg_persisted:
            value_agg.unpersist()
        if stats_persisted:
            stats_full.unpersist()

        if need_texts:
            t0 = time.time()
            texts, token_texts, long_texts = _build_texts(
                spark, values, dictionary, text_fields, config
            )
            (
                texts.repartition("field", "text_id")
                .sortWithinPartitions("field", "text_id", "doc_id")
                .write.mode("overwrite")
                .partitionBy("field")
                .parquet(texts_path)
            )
            (
                token_texts.repartition("field", "term_id")
                .sortWithinPartitions("field", "term_id", "text_id")
                .write.mode("overwrite")
                .partitionBy("field")
                .parquet(token_texts_path)
            )
            long_texts.write.mode("overwrite").partitionBy("field").parquet(
                long_texts_path
            )
            lineage.record("texts", out_path=texts_path, wall_s=time.time() - t0)

    manifest = {
        "version": 3,
        "block_docs": config.block_docs,
        "fields": [
            {
                "name": fc.name,
                "tokenize": fc.tokenize,
                "tokenize_on_chars": list(fc.tokenize_on_chars or ()),
                "tokenizer_grouped": fc.tokenizer_grouped,
                "max_text_bytes": fc.max_text_bytes,
                "phrase_pairs": fc.phrase_pairs,
                "boost": fc.boost,
                "nested": is_nested(fc.name),
                "has_texts": fc.needs_texts(),
                "bm25": fc.bm25,
                "native_postings": fc.native_postings,
            }
            for fc in config.fields
        ],
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=2)

    return Index(spark, out_dir)
