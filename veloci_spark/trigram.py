"""Trigram-index-accelerated regex search over docstore content.

Public-knowledge design — Google Code Search (Russ Cox, "Regular
Expression Matching with a Trigram Index", swtch.com/~rsc/regexp/
regexp4.html): a regex is compiled into a conservative boolean query
over character trigrams (AND of the trigrams of every literal the
pattern REQUIRES, OR across top-level alternatives).  The trigram
posting list prunes the corpus to a candidate set, and the real regex
runs only over the candidates.  The reference engine matches regexes
against the TERM DICTIONARY (regex_to_term_ids — a vocabulary-sized
scan); this operator is the content-level complement: grep over the
raw bytes of a 10^12-file corpus, where a full scan is the thing you
cannot afford.

Scale shape:
- the index is one distinct-(trigram, doc_id) projection, written
  ONCE, partitioned by ``bucket = crc32(trigram) % n_buckets`` so a
  query's trigram probe is a PARTITION-PRUNED scan (the plan pin
  asserts PartitionFilters), never a full posting read;
- query planning is driver-side string analysis of the PATTERN
  (pattern-sized, not corpus-sized);
- all alternatives are resolved in ONE job: a broadcast
  (alt_id, trigram) requirement table joins the pruned postings, a
  per-(alt, doc) count equality keeps docs matching EVERY required
  trigram of SOME alternative;
- verification is a semi-join of the candidate ids into the docstore
  followed by a JVM-side ``rlike`` — whole-stage-codegen, no Python;
- a pattern the planner cannot index (no required literal >= 3 chars
  on some alternative, case-insensitive flags, unbounded alternation
  fan-out) falls back LOUDLY to the full docstore scan — the same
  answer, the honest cost.

Regex dialect: planning parses the pattern with Python's stdlib sre
parser; execution matches with Spark's JVM regex (``rlike``); the
DuckDB oracles match with RE2 (``regexp_matches``).  All engines agree
on the portable subset exercised here (literals, classes, bounded
quantifiers, alternation, partial-match semantics); planning is purely
a PRUNING step, so a dialect difference can only surface in the final
verifier, never as a wrong candidate cut.
"""

from __future__ import annotations

import json
import os
import threading
import zlib
from typing import Optional, Sequence

from pyspark.sql import DataFrame, functions as F

try:  # Python >= 3.11 moved sre_parse under re._parser
    from re import _parser as _sre
except ImportError:  # pragma: no cover - older stdlib layout
    import sre_parse as _sre  # type: ignore

TRIGRAM_VERSION = "v2"
N_BUCKETS = 64
#: alternation fan-out cap: a pattern expanding to more alternatives
#: than this is cheaper to full-scan than to plan
MAX_ALTS = 64

_build_lock = threading.Lock()


# ------------------------------ index build ------------------------------

def trigram_dir(index, field: str, ci: bool = False) -> str:
    tag = "trigram_ci" if ci else "trigram"
    return os.path.join(index.path, f"{tag}_{field}_{TRIGRAM_VERSION}")


def _tri_expr(field: str):
    """array of DISTINCT char trigrams of the column, [] when len < 3.

    ``sequence(a, b)`` is DESCENDING for b < a in Spark, so the short
    case must be guarded explicitly."""
    return F.expr(
        f"CASE WHEN length({field}) >= 3 THEN "
        f"array_distinct(transform(sequence(1, length({field}) - 2), "
        f"i -> substring({field}, i, 3))) ELSE array() END"
    )


def build_trigram_index(
    index, field: str, n_buckets: int = N_BUCKETS, ci: bool = False
) -> str:
    """Write the trigram artifact for ``field`` under the index dir:

    - ``postings/`` — distinct (tri, doc_id), partitioned by
      ``crc32(tri) % n_buckets`` (query probes are partition-pruned);
    - ``stats/``    — (tri, df) document frequencies, one row per
      distinct trigram (vocabulary-sized: <= |charset|^3), the planner's
      selectivity source;
    - ``meta.json`` — {n_docs, n_buckets}, the dispatch denominator.

    ``ci=True`` builds the lowercased variant (grep -i).  Idempotent: a
    _SUCCESS-marked dir is reused (the marker is written LAST)."""
    out = trigram_dir(index, field, ci)
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    src = f"lower({field})" if ci else field
    rows = (
        index.docstore()
        .select("doc_id", F.explode(_tri_expr(src)).alias("tri"))
        .withColumn(
            "bucket",
            F.pmod(F.crc32(F.col("tri").cast("binary")), F.lit(n_buckets)).cast(
                "int"
            ),
        )
    )
    (
        rows.repartition("bucket")
        .sortWithinPartitions("tri", "doc_id")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(os.path.join(out, "postings"))
    )
    post = index.spark.read.parquet(os.path.join(out, "postings"))
    (
        post.groupBy("tri")
        .agg(F.count("*").alias("df"))  # postings are distinct per (tri, doc)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(os.path.join(out, "stats"))
    )
    n_docs = index.docstore().count()
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump({"n_docs": n_docs, "n_buckets": n_buckets}, f)
    with open(os.path.join(out, "_SUCCESS"), "w") as f:
        f.write("")
    return out


def trigram_postings(index, field: str, ci: bool = False) -> DataFrame:
    """The (tri, doc_id, bucket) posting table, building it on first use."""
    with _build_lock:
        out = build_trigram_index(index, field, ci=ci)
    return index.spark.read.parquet(os.path.join(out, "postings"))


def trigram_meta(index, field: str, ci: bool = False) -> dict:
    with _build_lock:
        out = build_trigram_index(index, field, ci=ci)
    with open(os.path.join(out, "meta.json")) as f:
        return json.load(f)


#: driver-side df cache, keyed by the on-disk artifact dir: the stats
#: table is VOCABULARY-sized (<= |charset|^3 distinct trigrams, never
#: corpus-sized), so the whole map fits the driver and makes every
#: warm query's dispatch decision job-free — the same hot-metadata
#: pattern as the engine's LeafLru dictionary cache
_stats_cache: dict[str, dict[str, int]] = {}


def trigram_df(
    index, field: str, tris: Sequence[str], ci: bool = False
) -> dict[str, int]:
    """Document frequencies for the query's trigrams (absent trigrams →
    df 0: they match nothing).  First call per (index, field) loads the
    vocabulary-sized stats table driver-side; later calls are dict
    lookups — no Spark job."""
    with _build_lock:
        out = build_trigram_index(index, field, ci=ci)
        stats = _stats_cache.get(out)
        if stats is None:
            stats = {
                r["tri"]: int(r["df"])
                for r in index.spark.read.parquet(
                    os.path.join(out, "stats")
                ).collect()  # vocabulary-sized, bounded by |charset|^3
            }
            _stats_cache[out] = stats
    return {t: stats.get(t, 0) for t in set(tris)}


def _bucket_of(tri: str, n_buckets: int = N_BUCKETS) -> int:
    return zlib.crc32(tri.encode("utf-8")) % n_buckets


# ------------------------------ query planning ------------------------------

def _trigrams(lit: str) -> set[str]:
    return {lit[i : i + 3] for i in range(len(lit) - 2)}


def _merge_alts(left: list[tuple[str, ...]], right: list[tuple[str, ...]]):
    """Cross-product concatenation of two OR-of-AND literal sets."""
    out = [l + r for l in left for r in right]
    if len(out) > MAX_ALTS:
        raise _Unindexable()
    return out


class _Unindexable(Exception):
    pass


def _analyze_seq(seq) -> list[tuple[str, ...]]:
    """OR-of-AND required-literal extraction for one sre op sequence.

    Conservative: every returned alternative lists literal strings that
    MUST all be present in any match taking that alternative.  Literal
    runs are broken (never extended) across any non-literal op, so the
    candidate set can only widen — soundness over selectivity."""
    alts: list[tuple[str, ...]] = [()]
    run = ""

    def flush():
        nonlocal alts, run
        if run:
            lit = run
            alts = [a + (lit,) for a in alts]
            run = ""

    for op, av in seq:
        name = str(op)
        if name == "LITERAL":
            run += chr(av)
        elif name == "BRANCH":
            flush()
            branch_alts: list[tuple[str, ...]] = []
            for branch in av[1]:
                branch_alts.extend(_analyze_seq(branch))
                if len(branch_alts) > MAX_ALTS:
                    raise _Unindexable()
            alts = _merge_alts(alts, branch_alts)
        elif name == "SUBPATTERN":
            flush()
            alts = _merge_alts(alts, _analyze_seq(av[3]))
        elif name in ("MAX_REPEAT", "MIN_REPEAT", "POSSESSIVE_REPEAT"):
            flush()
            lo = av[0]
            if lo and int(lo) >= 1:
                # the body must occur at least once
                alts = _merge_alts(alts, _analyze_seq(av[2]))
        elif name in ("AT", "ASSERT", "ASSERT_NOT", "GROUPREF",
                      "GROUPREF_EXISTS", "ATOMIC_GROUP"):
            # position anchors / lookarounds / backrefs: add nothing,
            # require nothing extra (sound: only widens the candidates)
            flush()
        elif name in ("ANY", "IN", "CATEGORY", "NOT_LITERAL", "RANGE"):
            flush()
        else:  # unknown op: refuse to plan rather than guess
            raise _Unindexable()
    flush()
    return alts


def plan_regex(pattern: str) -> Optional[list[frozenset[str]]]:
    """Compile ``pattern`` into an OR-of-AND trigram query.

    Returns a list of per-alternative REQUIRED trigram sets, or None
    when the pattern cannot prune (some alternative carries no literal
    of >= 3 chars, inline flags, fan-out beyond MAX_ALTS, parse
    failure) — the caller must full-scan."""
    try:
        parsed = _sre.parse(pattern)
    except Exception:
        return None
    if parsed.state.flags & (2 | 64):  # re.IGNORECASE | re.VERBOSE
        return None
    try:
        alts = _analyze_seq(parsed)
    except _Unindexable:
        return None
    out = []
    for alt in alts:
        tris: set[str] = set()
        for lit in alt:
            tris |= _trigrams(lit)
        if not tris:
            return None  # this alternative cannot be pruned → none can
        out.append(frozenset(tris))
    return out


# ------------------------------ execution ------------------------------

def regex_candidates(
    index, field: str, plan: list[frozenset[str]], ci: bool = False
) -> DataFrame:
    """doc_ids matching EVERY required trigram of SOME alternative —
    one partition-pruned probe + one aggregation for ALL alternatives.
    ``ci=True`` probes the lowercased posting table instead."""
    spark = index.spark
    reqs = sorted({(i, t) for i, tris in enumerate(plan) for t in tris})
    req_df = spark.createDataFrame(reqs, "alt_id int, tri string")
    need = spark.createDataFrame(
        [(i, len(tris)) for i, tris in enumerate(plan)], "alt_id int, n_req int"
    )
    buckets = sorted({_bucket_of(t) for _, t in reqs})
    post = trigram_postings(index, field, ci=ci).where(F.col("bucket").isin(buckets))
    got = (
        post.join(F.broadcast(req_df), "tri")
        .groupBy("alt_id", "doc_id")
        .agg(F.count("*").alias("n"))  # postings are distinct per (tri, doc)
        .join(F.broadcast(need), "alt_id")
        .where(F.col("n") == F.col("n_req"))
    )
    return got.select("doc_id").distinct()


def plan_regex_ci(pattern: str) -> Optional[list[frozenset[str]]]:
    """Case-insensitive planning: required literals are LOWERCASED and
    probed against the lowercased posting table.  Sound only for
    patterns whose literals are case-stable under lower() (true for
    ASCII); a literal whose lowercase expands (e.g. ß-adjacent forms)
    would shift trigram boundaries, so it is refused."""
    plan = plan_regex(pattern)
    if plan is None:
        return None
    out = []
    for tris in plan:
        low = set()
        for t in tris:
            lt = t.lower()
            if len(lt) != 3:  # lowercase expansion would shift trigrams
                return None
            low.add(lt)
        out.append(frozenset(low))
    return out


# ------------------------- selectivity + dispatch -------------------------

#: rarest trigrams kept per alternative: candidates stay a superset (a
#: subset of AND conditions only widens the result) while the probe
#: touches a bounded number of posting lists per alternative
TRIS_PER_ALT = 3
#: estimated-candidate fraction above which the planner dispatches to
#: the plain rlike scan: when most docs survive pruning, the probe's
#: aggregation costs more than the scan it would save (the same
#: measured-crossover reasoning as the BM25 WAND dispatch)
SCAN_FRAC = 0.10


def select_plan(
    index, field: str, plan: list[frozenset[str]], ci: bool = False
) -> tuple[list[frozenset[str]], int]:
    """Keep the TRIS_PER_ALT rarest trigrams of each alternative (df from
    the stats table — a pattern-sized lookup) and return the pruned plan
    plus the candidate-count upper bound sum(min df per alternative).

    An alternative whose rarest required trigram has df 0 is DEAD — no
    document contains it — and is dropped here; a fully dead plan (empty
    list, est 0) proves the whole query empty from the stats lookup
    alone, the grep-miss fast path."""
    all_tris = sorted({t for tris in plan for t in tris})
    df = trigram_df(index, field, all_tris, ci=ci)
    pruned = []
    est = 0
    for tris in plan:
        sel = frozenset(sorted(tris, key=lambda t: (df[t], t))[:TRIS_PER_ALT])
        lo = min(df[t] for t in sel)
        if lo == 0:
            continue  # a required trigram absent from the corpus
        pruned.append(sel)
        est += lo
    return pruned, est


def _pruned_docs(
    index, field: str, pattern: str, ignore_case: bool, prune: str = "auto"
) -> DataFrame:
    """docstore narrowed to trigram candidates when the pattern allows
    AND the selectivity estimate says pruning pays.

    prune: "auto" (selectivity dispatch, the default), "always" (force
    the indexed path whenever the pattern is plannable), "never" (force
    the full scan)."""
    docs = index.docstore()
    if prune == "never":
        return docs
    plan = plan_regex_ci(pattern) if ignore_case else plan_regex(pattern)
    if plan is None:
        return docs
    pruned, est = select_plan(index, field, plan, ci=ignore_case)
    if not pruned:
        # every alternative requires a trigram the corpus lacks: proven
        # empty by the stats lookup alone — no probe, no scan
        return docs.where(F.lit(False))
    if prune == "auto":
        n_docs = trigram_meta(index, field, ci=ignore_case)["n_docs"]
        if est > SCAN_FRAC * n_docs:
            return docs  # unselective pattern: the scan is the fast plan
    return docs.join(
        regex_candidates(index, field, pruned, ci=ignore_case),
        "doc_id",
        "leftsemi",
    )


def explain_search(index, field: str, pattern: str, ignore_case: bool = False) -> dict:
    """The dispatch decision, rendered: planned trigrams, per-alt
    selection, candidate estimate, and the chosen arm."""
    plan = plan_regex_ci(pattern) if ignore_case else plan_regex(pattern)
    if plan is None:
        return {"indexable": False, "arm": "scan"}
    pruned, est = select_plan(index, field, plan, ci=ignore_case)
    n_docs = trigram_meta(index, field, ci=ignore_case)["n_docs"]
    if not pruned:
        arm = "empty"  # proven empty from the stats lookup alone
    elif est <= SCAN_FRAC * n_docs:
        arm = "indexed"
    else:
        arm = "scan"
    return {
        "indexable": True,
        "arm": arm,
        "est_candidates": est,
        "n_docs": n_docs,
        "selected": [sorted(t) for t in pruned],
    }


# ------------------------------ search entries ------------------------------

def regex_search(
    index,
    field: str,
    pattern: str,
    select: Sequence[str] = ("doc_id", "path"),
    limit: Optional[int] = None,
    prune: str = "auto",
) -> DataFrame:
    """grep over the docstore: rows whose ``field`` contains a match of
    ``pattern`` (partial-match semantics, like rlike / RE2 search),
    ordered by doc_id — trigram-pruned when the pattern allows and the
    selectivity estimate says pruning pays, full scan otherwise."""
    docs = _pruned_docs(index, field, pattern, ignore_case=False, prune=prune)
    out = (
        docs.where(F.col(field).rlike(pattern))
        .select(*select)
        .orderBy("doc_id")
    )
    return out.limit(int(limit)) if limit is not None else out


def regex_search_ci(
    index,
    field: str,
    pattern: str,
    select: Sequence[str] = ("doc_id", "path"),
    limit: Optional[int] = None,
    prune: str = "auto",
) -> DataFrame:
    """grep -i: case-insensitive regex search, pruned through the
    lowercased trigram table when the pattern and selectivity allow."""
    docs = _pruned_docs(index, field, pattern, ignore_case=True, prune=prune)
    out = (
        docs.where(F.col(field).rlike(f"(?i){pattern}"))
        .select(*select)
        .orderBy("doc_id")
    )
    return out.limit(int(limit)) if limit is not None else out


def regex_search_lines(
    index,
    field: str,
    pattern: str,
    select: Sequence[str] = ("doc_id", "path"),
    limit: Optional[int] = None,
    ignore_case: bool = False,
    prune: str = "auto",
) -> DataFrame:
    """grep -n: one row per MATCHING LINE — (select..., line_no, line),
    ordered by (doc_id, line_no).

    The line explosion happens AFTER candidate pruning and doc-level
    verification, so at corpus scale only matching documents are split
    into lines (output-bounded, like the highlight path), never the
    whole corpus."""
    docs = _pruned_docs(index, field, pattern, ignore_case, prune=prune)
    rx = f"(?i){pattern}" if ignore_case else pattern
    matched = docs.where(F.col(field).rlike(rx))
    lines = matched.select(
        *select,
        F.posexplode(F.split(F.col(field), "\n")).alias("pos", "line"),
    )
    out = (
        lines.where(F.col("line").rlike(rx))
        .select(*select, (F.col("pos") + 1).alias("line_no"), "line")
        .orderBy("doc_id", "line_no")
    )
    return out.limit(int(limit)) if limit is not None else out


def explain_plan(pattern: str) -> dict:
    """Human-readable planning outcome (for the HTTP route / debugging)."""
    plan = plan_regex(pattern)
    if plan is None:
        return {"indexable": False, "alternatives": []}
    return {
        "indexable": True,
        "alternatives": [sorted(tris) for tris in plan],
        "buckets": sorted({_bucket_of(t) for tris in plan for t in tris}),
    }
