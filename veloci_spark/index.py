"""Index handle: lazy access to the per-field index tables.

The Spark analogue of the reference's `Persistence`
(/root/reference/src/persistence.rs:205-291): where the reference mmaps
integer-keyed stores per path, we read Parquet tables per field. Parquet
min/max stats on the range-partitioned sort keys give the same
lazy/point-lookup behavior (predicate pushdown prunes row groups).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F


class LeafLru:
    """Cross-request LRU of resolved leaf DataFrames — the Spark analogue
    of the reference's per-field ``lru_cache`` / 1-h-TTL
    ``term_boost_cache`` (persistence.rs:66-67, 375-376; boost.rs uses
    the same shape).  Values are ``.persist()``-ed frames; eviction
    (capacity or TTL) unpersists them, so executor memory is bounded by
    ``capacity`` leaf aggregates.

    Same defaults as the reference: capacity 10, TTL 3600 s."""

    def __init__(self, capacity: int = 10, ttl_sec: float = 3600.0):
        import threading
        from collections import OrderedDict

        self.capacity = capacity
        self.ttl_sec = ttl_sec
        self._d: "OrderedDict[object, tuple[DataFrame, float]]" = OrderedDict()
        # the REST shim serves via ThreadingHTTPServer: concurrent
        # requests hit one LRU, so map mutation + counters are locked
        # (unpersist calls happen outside the critical section)
        self._lock = threading.Lock()
        self.hits = 0
        self.misses = 0

    def _now(self) -> float:
        return time.monotonic()

    def get(self, key) -> DataFrame | None:
        expired = None
        with self._lock:
            ent = self._d.get(key)
            if ent is not None:
                df, expiry = ent
                if self._now() > expiry:
                    del self._d[key]
                    expired = df
                else:
                    self._d.move_to_end(key)
                    self.hits += 1
                    return df
            self.misses += 1
        if expired is not None:
            expired.unpersist()
        return None

    def put(self, key, df: DataFrame) -> DataFrame:
        if self.capacity <= 0:
            return df
        df = df.persist()
        evicted = []
        with self._lock:
            old = self._d.get(key)
            if old is not None and old[0] is not df:
                # two concurrent misses on the same key: keep the later
                # frame, release the overwritten one's storage
                evicted.append(old[0])
            self._d[key] = (df, self._now() + self.ttl_sec)
            self._d.move_to_end(key)
            while len(self._d) > self.capacity:
                _, (victim, _exp) = self._d.popitem(last=False)
                evicted.append(victim)
        for old in evicted:
            old.unpersist()
        return df

    def clear(self) -> None:
        with self._lock:
            entries = list(self._d.values())
            self._d.clear()
            self.hits = 0
            self.misses = 0
        for old, _exp in entries:
            old.unpersist()


class Index:
    """Unified layout (manifest version 3: posting blocks as ``doc_ids``/
    ``scores`` arrays): one table per index kind at the root, written
    ``partitionBy("field")`` — a per-field read is a partition-pruned scan
    (the directory filter never touches other fields' data), while the
    build shares one shuffle across all fields."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        with open(os.path.join(path, "manifest.json")) as f:
            self.manifest = json.load(f)
        version = self.manifest.get("version", 1)
        if version < 2:
            raise ValueError(
                f"index at {path} uses the round-1 per-field layout; rebuild"
            )
        if version < 3:
            raise ValueError(
                f"index at {path} stores varint posting blocks; rebuild"
            )
        self.block_docs: int = self.manifest["block_docs"]
        self._cache: dict[str, DataFrame] = {}
        # cross-request resolved-leaf cache (reference Persistence LRUs);
        # consulted by the executor for unfiltered leaf aggregates
        self.leaf_cache = LeafLru()
        # per-field dictionary occurrence totals: an index CONSTANT (the
        # same class of baked statistic as bm25_stats.json's
        # n_docs/avgdl), memoized on the handle so per-query consumers
        # (significant-terms' background total) don't re-aggregate the
        # dictionary on every call
        self._dict_total_occ: dict[str, int] = {}

    # ------------------------------------------------------------- tables
    def field_names(self) -> list[str]:
        return [f["name"] for f in self.manifest["fields"] if not f["boost"]]

    def field_conf(self, field: str) -> dict:
        for f in self.manifest["fields"]:
            if f["name"] == field:
                return f
        raise KeyError(field)

    def docstore(self) -> DataFrame:
        return self._read("docstore")

    def dictionary(self, field: str) -> DataFrame:
        return self._field_slice("dictionary", field)

    def dictionary_total_occ(self, field: str) -> int:
        """Σ num_occurences over the field's dictionary — an index
        constant, computed once per handle (memoized; see __init__)."""
        if field not in self._dict_total_occ:
            from pyspark.sql import functions as F

            self._dict_total_occ[field] = int(
                self.dictionary(field)
                .agg(F.sum("num_occurences"))
                .collect()[0][0]
                or 0
            )
        return self._dict_total_occ[field]

    def postings_blocks(self, field: str) -> DataFrame:
        conf = self.field_conf(field)
        # manifests from before the flag existed imply native postings
        if not conf.get("native_postings", True):
            raise ValueError(
                f"field {field!r} was built with native_postings=False "
                "(BM25-only); native Request search is unavailable on it "
                "— query it through the bm25 engine or rebuild with "
                "native_postings=True"
            )
        return self._field_slice("postings", field)

    def phrase_pairs(self, field: str) -> DataFrame:
        return self._field_slice("phrase", field)

    def bm25_blocks(self, field: str) -> DataFrame:
        """Baked-BM25 posting blocks (same array layout as postings;
        scores are e4-quantized BM25 ints — see bm25.py)."""
        return self._field_slice("bm25", field)

    def bm25_stats(self, field: str) -> dict:
        """{n_docs, avgdl} recorded at build time for ``field``."""
        p = os.path.join(self.path, "bm25_stats.json")
        with open(p) as f:
            return json.load(f)[field]

    def bm25_postings_for(self, field: str, matched_terms: DataFrame) -> DataFrame:
        blocks = self.bm25_blocks(field).join(
            F.broadcast(matched_terms.select("term_id").distinct()), "term_id"
        )
        return decode_blocks_df(blocks)

    def texts(self, field: str) -> DataFrame:
        """(text_id, doc_id, ordkey) — one row per text-value occurrence
        (text_id_to_anchor + value-instance key)."""
        return self._field_slice("texts", field)

    def token_texts(self, field: str) -> DataFrame:
        """(term_id, text_id) — tokens_to_text_id edges."""
        return self._field_slice("token_texts", field)

    def long_texts(self, field: str) -> DataFrame:
        """(text_id, text) for texts past the dictionary byte limit."""
        return self._field_slice("long_texts", field)

    # a table written from an empty DataFrame has no parquet footer to
    # infer from — fall back to its known schema
    _TABLE_SCHEMAS = {
        "texts": "text_id long, doc_id long, ordkey string, field string",
        "token_texts": "term_id long, text_id long, field string",
        "long_texts": "text_id long, text string, field string",
        "phrase": "term_id_1 long, term_id_2 long, doc_id long, field string",
        "token_values": "term_id long, value double, field string",
        "bm25": (
            "term_id long, block_no long, n_docs long, max_score long, "
            "min_doc_id long, max_doc_id long, doc_ids array<long>, "
            "scores array<long>, field string"
        ),
    }

    def _field_slice(self, table: str, field: str) -> DataFrame:
        # partition-pruned per-field view; `field` dropped so downstream
        # operators are field-agnostic
        return (
            self._read(table)
            .where(F.col("field") == F.lit(field))
            .drop("field")
        )

    def _read(self, rel: str) -> DataFrame:
        if rel not in self._cache:
            full = os.path.join(self.path, rel)
            try:
                self._cache[rel] = self.spark.read.parquet(full)
            except Exception:
                schema = self._TABLE_SCHEMAS.get(rel)
                if schema is None:
                    raise
                self._cache[rel] = self.spark.createDataFrame([], schema)
        return self._cache[rel]

    # ------------------------------------------------------------- decode
    def postings_for(self, field: str, matched_terms: DataFrame) -> DataFrame:
        """Decode posting blocks for the given term set.

        ``matched_terms`` must have a ``term_id`` column (it is typically
        tiny — the dictionary-scan result — so Catalyst broadcast-joins it
        against the block table, and Parquet row-group pruning on the
        sorted term_id limits the scan). Returns (term_id, doc_id, score).
        """
        blocks = self.postings_blocks(field).join(
            F.broadcast(matched_terms.select("term_id").distinct()), "term_id"
        )
        return decode_blocks_df(blocks)


def decode_blocks_df(blocks: DataFrame) -> DataFrame:
    """(term_id, ..., doc_ids, scores) blocks → flat (term_id, doc_id,
    score) rows: a JVM generator over the block arrays, so the decode
    runs in the scan's stage with no Python worker."""
    return blocks.select(
        "term_id", F.inline(F.arrays_zip("doc_ids", "scores"))
    ).select(
        "term_id", F.col("doc_ids").alias("doc_id"), F.col("scores").alias("score")
    )
