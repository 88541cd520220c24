"""Index configuration (fields, tokenizer separators, storage knobs).

Mirrors the *semantics* of the reference's per-field config
(`/root/reference/src/create/fields_config.rs:16-110`,
`/root/reference/src/metadata.rs:45-106`): per field `tokenize`,
`tokenize_on_chars`, `do_not_store_text_longer_than`, stopwords, boost
columns, and the feature flags that decide which index structures are
materialized.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field as dc_field
from typing import Optional

# Reference: /root/reference/src/tokenizer/mod.rs:21-24 DEFAULT_SEPERATORS.
DEFAULT_SEPARATORS: tuple[str, ...] = (
    " ", "\t", "\n", "\r", ":", "(", ")", ",", ".", "…", ";", "・", "’",
    "—", "-", "\\", "[", "]", "{", "}", "<", ">", "'", '"', "“", "™",
)

# Reference default: texts longer than this many *bytes* are excluded from
# the term dictionary (/root/reference/src/metadata.rs:66-68).
DEFAULT_MAX_TEXT_BYTES = 64


def index_cache_root() -> str:
    """Directory of the on-disk index cache behind the declared queries
    (``VELOCI_SPARK_INDEX_CACHE``; the engine's only environment read)."""
    return os.environ.get("VELOCI_SPARK_INDEX_CACHE", "/tmp/veloci_spark_index_cache")


@dataclass(frozen=True)
class FieldConfig:
    """Configuration of one indexed column ("path" in the reference)."""

    name: str
    tokenize: bool = True
    #: custom separator chars (e.g. ['/', '\\'] for file paths, as in the
    #: reference's code-search test
    #: /root/reference/tests/all/test_code_search.rs:14-26).
    tokenize_on_chars: Optional[tuple[str, ...]] = None
    #: texts longer than this (bytes) don't become whole-text dictionary
    #: terms (/root/reference/src/metadata.rs:66-68).
    max_text_bytes: int = DEFAULT_MAX_TEXT_BYTES
    #: True → SimpleTokenizerCharsIterateGroupTokens (maximal separator
    #: runs are one token); False → ungrouped SimpleTokenizer (every
    #: separator char is its own token,
    #: /root/reference/src/tokenizer/simple_tokenizer.rs:1-73).
    tokenizer_grouped: bool = True
    #: build the phrase-pair index for this field
    #: (/root/reference/src/create.rs:251-263).
    phrase_pairs: bool = False
    #: this column is a numeric boost column ("fast field"); it is NOT
    #: fulltext-indexed (/root/reference/src/create.rs:207-215). In the
    #: Spark design boost columns stay as plain numeric columns of the
    #: doc store, so this only controls exclusion from indexing.
    boost: bool = False
    #: additionally bake BM25 per-posting scores (tf/df/length-normalized,
    #: quantized to e4 ints) into a second block table — the north-rule
    #: BM25 top-k + block-max WAND path (bm25.py). Token runs only;
    #: separator runs and whole-text entries don't participate.
    bm25: bool = False
    #: build the native veloci-score posting blocks (token-to-anchor
    #: scores feeding Request-based search). Set False on fields queried
    #: ONLY through the BM25 engine: the dictionary, docstore, phrase
    #: pairs and BM25 blocks are unaffected (term ids identical), the
    #: native posting stage — the single most expensive build stage on a
    #: text-heavy corpus — is skipped, and native search on the field
    #: raises a clear error instead of silently returning nothing.
    native_postings: bool = True
    #: build the per-text-value tree-edge tables (texts / token_texts /
    #: long_texts — the reference's tokens_to_text_id + text_id_to_anchor,
    #: /root/reference/src/create.rs:196-240). None = auto: built for 1:n
    #: (``[]``) paths, elided for flat fields where text==anchor identity
    #: (/root/reference/src/create/create_fulltext.rs:38-39). Set True on a
    #: flat field to enable the `highlight` entry point / per-text locality.
    store_texts: Optional[bool] = None

    def separators(self) -> tuple[str, ...]:
        return self.tokenize_on_chars if self.tokenize_on_chars else DEFAULT_SEPARATORS

    def needs_texts(self) -> bool:
        if self.store_texts is not None:
            return self.store_texts
        return "[]" in self.name


@dataclass(frozen=True)
class IndexConfig:
    """Whole-index configuration."""

    fields: tuple[FieldConfig, ...]
    #: column(s) that uniquely identify a document; doc_id is assigned as
    #: the dense rank over these (stable & reproducible — the reference's
    #: anchor_id is the ingest line number, /root/reference/src/create.rs:46).
    #: If `doc_id_col` is set and present in the corpus, it is used directly.
    key_cols: tuple[str, ...] = ()
    doc_id_col: Optional[str] = "doc_id"
    #: posting blocks are doc-aligned: block_no = doc_id // block_docs.
    #: Doc-aligned blocks make block-max pruning (WAND) a join on block_no
    #: and bound the size of any single (term, block) row — the skew story
    #: for stop-word-like hot terms at 100 TB scale.
    block_docs: int = 65536
    #: number of range partitions for the dictionary sort at build time;
    #: None = use spark.sql.shuffle.partitions.
    dict_partitions: Optional[int] = None
    #: salted-key skew handling for stop-word-like hot terms in the
    #: posting-encode shuffle: a term whose dictionary ``num_occurences``
    #: exceeds this gets its postings spread over
    #: ceil(num_occurences / salt_rows_per_shard) shuffle keys (salt =
    #: block_no % n_salts, so every doc-aligned block group still lands
    #: whole in one partition). The default only engages on genuinely hot
    #: terms (~4M+ postings); tests lower it to exercise the path.
    salt_rows_per_shard: int = 4_000_000

    def field(self, name: str) -> FieldConfig:
        for f in self.fields:
            if f.name == name:
                return f
        raise KeyError(f"field {name!r} not in index config")

    def indexed_fields(self) -> tuple[FieldConfig, ...]:
        return tuple(f for f in self.fields if not f.boost)
