"""veloci_spark — a PySpark-native full-text index build + top-k query engine.

A from-scratch rebuild of the query/data-processing capabilities of
PSeitz/veloci (reference at /root/reference, Rust) on idiomatic Spark:
DataFrame transforms for the index-build dataflow, vectorized
pandas/Arrow UDFs for the tokenizer, posting blocks stored as Parquet
v2 long arrays and decoded by the JVM scan, and Catalyst-optimized
joins/aggregations for query execution.

Nothing in here is a translation of the reference's execution engine;
only its *semantics* (tokenization, score formulas, set-op scoring,
boost functions) are reproduced, with citations to reference file:line
in docstrings.
"""

from veloci_spark.config import FieldConfig, IndexConfig, DEFAULT_SEPARATORS
from veloci_spark.build import build_index
from veloci_spark.index import Index
from veloci_spark.request import (
    SearchPart,
    AndNode,
    OrNode,
    BoostPart,
    FacetRequest,
    Request,
)
from veloci_spark.executor import search
from veloci_spark.generator import QueryGeneratorParameters, generate_request
from veloci_spark.suggest import highlight_entry, suggest
from veloci_spark.plan_render import render_plan
from veloci_spark.token_values import add_token_values
from veloci_spark.trigram import (
    regex_search,
    regex_search_ci,
    regex_search_lines,
)

__all__ = [
    "FieldConfig",
    "IndexConfig",
    "DEFAULT_SEPARATORS",
    "build_index",
    "Index",
    "SearchPart",
    "AndNode",
    "OrNode",
    "BoostPart",
    "FacetRequest",
    "Request",
    "search",
    "suggest",
    "highlight_entry",
    "render_plan",
    "add_token_values",
    "QueryGeneratorParameters",
    "generate_request",
    "regex_search",
    "regex_search_ci",
    "regex_search_lines",
]

__version__ = "0.1.0"
