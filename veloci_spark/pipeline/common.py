"""Shared helpers for the pipeline operators.

Cross-engine determinism rules (same as the fulltext oracle):
- hashes come from md5 over strings (both engines have md5; minima over
  hex strings are uniform and engine-identical);
- floats are quantized to `*_e4` integers with floor(x*1e4 + 0.5);
- word tokens = maximal runs of non-separator chars (the token half of
  the engine tokenizer): regexp_extract_all(text, '[^S]+').
"""

from __future__ import annotations

import os

from pyspark.sql import Column, functions as F

from veloci_spark.config import DEFAULT_SEPARATORS
from veloci_spark.tokenize import _class_body

WORD_PATTERN = f"[^{_class_body(DEFAULT_SEPARATORS)}]+"


def sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


#: Separator chars above U+007F (…・’—“™): a Java regex character class
#: containing them falls off the Latin-1 fast path and the tokenizer
#: scan runs ~3x slower (measured 2.4 s vs 0.78 s on a 50k-doc pass).
#: Since separators can never occur INSIDE a token, translating them to
#: '\t' (itself a separator) first and matching an ASCII-only class
#: yields byte-identical token arrays — asserted over the full fixture
#: corpus and pinned in tests/test_r06_kernels.py.
_NON_ASCII_SEPS = "".join(c for c in DEFAULT_SEPARATORS if ord(c) > 127)
_ASCII_WORD_PATTERN = (
    f"[^{_class_body([c for c in DEFAULT_SEPARATORS if ord(c) <= 127])}]+"
)


def words_expr(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    if _NON_ASCII_SEPS:
        c = F.translate(c, _NON_ASCII_SEPS, "\t" * len(_NON_ASCII_SEPS))
    return F.regexp_extract_all(c, F.lit(_ASCII_WORD_PATTERN), 0)


def sql_words(col: str) -> str:
    return f"regexp_extract_all({col}, {sql_quote(WORD_PATTERN)})"


def e4(col: Column) -> Column:
    return F.floor(col * F.lit(10000.0) + F.lit(0.5)).cast("long")


def sql_e4(expr: str) -> str:
    return f"CAST(floor(({expr}) * 10000.0 + 0.5) AS BIGINT)"


def shingles_expr(words: Column, n: int, distinct: bool = True) -> Column:
    """n-gram word shingles joined by a single space, distinct.

    Built from n O(1) ``element_at`` lookups per shingle instead of the
    original ``array_join(slice(...))`` — slice copies n elements and the
    interpreted HOF evaluated it per output element, making the whole
    expression O(n·m) array copies per doc (measured 28.4 s for a 5 k-doc
    scan; 0.6 s with element_at — guide §1.2 "per-task work").  Output
    elements and order are identical (concat_ws(" ", a..) ==
    array_join([a..], " ") for never-null tokens).

    ``distinct=False`` skips the array_distinct (another 2.4 s on that
    scan) for consumers with set semantics downstream anyway: jaccard's
    array_intersect/array_union dedupe their inputs, and min-over-hashes
    is multiset-insensitive."""
    grams = F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(words, i + k + 1) for k in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams) if distinct else grams


def sql_shingles(words: str, n: int) -> str:
    """DuckDB equivalent of shingles_expr (1-based slicing, inclusive)."""
    return (
        f"(CASE WHEN len({words}) >= {n} THEN "
        f"list_distinct(list_transform(range(1, len({words}) - {n} + 2), "
        f"i -> array_to_string({words}[i:i+{n - 1}], ' '))) "
        f"ELSE [] END)"
    )


# --------------------------------------------------------------- fan-out

#: Above this input size the source's own split count is trusted; below
#: it, a small table read from one file / one parquet row group would
#: otherwise scan as a SINGLE task and serialize every downstream
#: per-row expression onto one core (the driver's fixture tables are
#: single-row-group parquet files, so `maxPartitionBytes` cannot split
#: them).  Production-size inputs (>> this) are left untouched: blindly
#: repartitioning a 100 TB scan would add a full shuffle of the corpus.
FAN_OUT_MAX_BYTES = 256 * 1024 * 1024


def _path_bytes(path: str, stop_above: int) -> int:
    """Bytes under ``path``; the walk stops as soon as the running total
    passes ``stop_above``, so a huge input tree costs O(1) stat calls,
    not one per file."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
            if total > stop_above:
                return total
    return total


def _scan_units(path: str) -> int:
    """Independently scannable units of a parquet path: Spark can split a
    file into byte ranges, but a range only yields rows when a ROW GROUP
    midpoint falls inside it — a 6 MB single-row-group file scans as ONE
    task no matter the split config.  Footer-only reads; tiny inputs."""
    import pyarrow.parquet as pq

    files = []
    if os.path.isfile(path):
        files = [path]
    else:
        for root, _dirs, fs in os.walk(path):
            files.extend(
                os.path.join(root, f) for f in fs if f.endswith(".parquet")
            )
    units = 0
    for f in files:
        try:
            units += max(1, pq.ParquetFile(f).metadata.num_row_groups)
        except Exception:
            units += 1
    return units


def read_fanned(spark, path: str):
    """spark.read.parquet(path), round-robin repartitioned to the default
    parallelism when the file is small enough that its scan would
    otherwise run on fewer tasks than cores (single-row-group files are
    unsplittable no matter what maxPartitionBytes says).  The repartition
    exchange costs one shuffle of a tiny table and unlocks every core
    for the per-row work downstream (guide §2.5/§6: scale-adaptive
    partitioning, never a constant tuned to one scale)."""
    df = spark.read.parquet(path)
    n = spark.sparkContext.defaultParallelism
    try:
        small = (
            path.startswith("/")
            and _path_bytes(path, FAN_OUT_MAX_BYTES) <= FAN_OUT_MAX_BYTES
        )
        # a source that already carries enough row groups parallelizes by
        # itself — repartitioning it is a pure extra shuffle
        needs = small and _scan_units(path) < n
    except OSError:
        needs = False
    if needs:
        return df.repartition(n)
    return df
