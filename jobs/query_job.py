#!/usr/bin/env python
"""spark-submit entry point: run queries against a built index.

    spark-submit --py-files veloci_spark.zip jobs/query_job.py \
        --index s3://bucket/index/v1/ \
        --query 'myfun~1 AND filepath:src' \
        --fields content --top 10 [--select content,path]
"""

from __future__ import annotations

import os
import sys

# local runs: make the repo root importable (on a cluster the package
# arrives via spark-submit --py-files instead)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import argparse
import json

from pyspark.sql import SparkSession

from veloci_spark.executor import search
from veloci_spark.generator import QueryGeneratorParameters, generate_request
from veloci_spark.index import Index


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--query", required=True)
    ap.add_argument("--fields", default=None)
    ap.add_argument("--top", type=int, default=10)
    ap.add_argument("--skip", type=int, default=0)
    ap.add_argument("--facets", default=None)
    ap.add_argument("--filter", default=None)
    ap.add_argument("--select", default=None)
    ap.add_argument("--why-found", action="store_true")
    ap.add_argument("--explain", action="store_true", help="attach score provenance")
    ap.add_argument(
        "--explain-plan",
        action="store_true",
        help="print the engine plan DAG (graphviz dot) and exit",
    )
    ap.add_argument(
        "--bm25",
        choices=[
            "or", "and", "phrase", "near", "snippet", "fuzzy", "sigterms",
            "facets", "explain", "batch", "collapse", "mlt", "prf",
        ],
        default=None,
        help="BM25 top-k over the baked bm25 blocks (--query = space-"
        "separated exact terms; 'or' = OR-sum, 'and' = posting-list "
        "intersection, each exhaustive below a matched-posting volume "
        "and block-max pruned above it; 'phrase' = exact "
        "adjacent-token phrase via pair-chain prune + positional verify; "
        "'explain' = per-term score provenance of the top-k; 'batch' = "
        "a whole query set in ONE job, --query is a JSON object "
        '{"qid": ["term", ...], ...}; '
        "'collapse' = field-collapsed top-k (--collapse-group / "
        "--collapse-per-group); 'mlt' = more-like-this, --query is the "
        "source doc_id; 'prf' = pseudo-relevance-feedback expansion of "
        "the plain OR query; 'near' = unordered span-near proximity "
        "(--near-slop); 'snippet' = or-mode top-k with a best-fragment "
        "snippet per hit (--snippet-window))",
    )
    ap.add_argument(
        "--near-slop",
        type=int,
        default=2,
        help="proximity slack for --bm25 near: all terms within a "
        "((n-1)+slop)-token window (0 = adjacent in some order)",
    )
    ap.add_argument(
        "--near-ordered",
        action="store_true",
        help="with --bm25 near: require the terms in query order "
        "(Lucene SpanNearQuery inOrder=true)",
    )
    ap.add_argument(
        "--facet-cols",
        default="lang",
        help="comma-separated docstore columns for --bm25 facets",
    )
    ap.add_argument(
        "--fuzzy-dist",
        type=int,
        default=1,
        help="levenshtein budget for --bm25 fuzzy",
    )
    ap.add_argument(
        "--fuzzy-prefix",
        type=int,
        default=0,
        help="required shared prefix length for --bm25 fuzzy (ES prefix_length)",
    )
    ap.add_argument(
        "--sig-sample",
        type=int,
        default=50,
        help="hit-sample size for --bm25 sigterms",
    )
    ap.add_argument(
        "--sig-min-fg",
        type=int,
        default=2,
        help="minimum in-sample occurrences for --bm25 sigterms",
    )
    ap.add_argument(
        "--snippet-window",
        type=int,
        default=8,
        help="fragment width in tokens for --bm25 snippet",
    )
    ap.add_argument(
        "--regex",
        action="store_true",
        help="content grep (trigram-pruned when selective, scan "
        "otherwise): --query is the pattern, --fields the one column",
    )
    ap.add_argument(
        "--regex-lines",
        action="store_true",
        help="with --regex: grep -n output (one row per matching line)",
    )
    ap.add_argument(
        "--ignore-case",
        action="store_true",
        help="with --regex: grep -i (lowercased trigram table)",
    )
    ap.add_argument(
        "--collapse-group",
        default="repo",
        help="docstore column to collapse on (--bm25 collapse)",
    )
    ap.add_argument(
        "--collapse-per-group",
        type=int,
        default=2,
        help="max docs kept per group value (--bm25 collapse)",
    )
    ap.add_argument(
        "--bm25f-weights",
        default=None,
        help="weighted multi-field BM25F, e.g. 'content=1,path=3' "
        "(integer weights; overrides --fields; --bm25 or only)",
    )
    ap.add_argument(
        "--bm25-filter",
        default=None,
        help="SQL predicate over docstore columns (e.g. \"lang = 'rs'\") "
        "restricting BM25 results to matching docs; scores stay corpus-"
        "level (filtered search). --bm25 or only.",
    )
    ap.add_argument(
        "--suggest",
        action="store_true",
        help="autocomplete mode (the reference's POST /:db/suggest): "
        "--query is the prefix, --fields restricts the scan",
    )
    ap.add_argument(
        "--highlight",
        action="store_true",
        help="highlight entry point (search_field.rs:233-245): matched "
        "text values of ONE --fields entry, snippet-highlighted",
    )
    args = ap.parse_args()
    # rejected before Spark starts: a negative skip would keep the LAST
    # rows of the top+skip cut, a negative top fails inside Spark, and a
    # one-term phrase has no adjacent pair to match
    if args.skip < 0:
        ap.error("--skip must be >= 0")
    if args.top < 0:
        ap.error("--top must be >= 0")
    if args.bm25 == "phrase" and len(args.query.split()) < 2:
        ap.error("--bm25 phrase needs >= 2 terms")

    spark = SparkSession.builder.appName("veloci-spark-query").getOrCreate()
    idx = Index(spark, args.index)

    if args.suggest:
        from veloci_spark.suggest import suggest

        fields = args.fields.split(",") if args.fields else None
        rows = suggest(
            idx, args.query, fields=fields, top=args.top, skip=args.skip
        ).collect()
        for r in rows:
            print(json.dumps(r.asDict(), default=str))
        spark.stop()
        return

    if args.highlight:
        from veloci_spark.request import SearchPart
        from veloci_spark.suggest import highlight_entry

        if not args.fields or len(args.fields.split(",")) != 1:
            ap.error("--highlight requires exactly one --fields entry")
        rows = highlight_entry(
            idx,
            SearchPart(field=args.fields, term=args.query, starts_with=True),
            top=args.top,
            skip=args.skip,
        ).collect()
        for r in rows:
            print(json.dumps(r.asDict(), default=str))
        spark.stop()
        return

    if args.regex:
        from veloci_spark import trigram

        if not args.fields or len(args.fields.split(",")) != 1:
            ap.error("--regex requires exactly one --fields entry")
        sel = (
            ("doc_id", "path")
            if "path" in idx.docstore().columns
            else ("doc_id",)
        )
        lim = args.top + args.skip if args.top else None
        if args.regex_lines:
            rows = trigram.regex_search_lines(
                idx, args.fields, args.query, select=sel, limit=lim,
                ignore_case=args.ignore_case,
            ).collect()
        elif args.ignore_case:
            rows = trigram.regex_search_ci(
                idx, args.fields, args.query, select=sel, limit=lim
            ).collect()
        else:
            rows = trigram.regex_search(
                idx, args.fields, args.query, select=sel, limit=lim
            ).collect()
        for r in rows[args.skip:]:
            print(json.dumps(r.asDict(), default=str))
        spark.stop()
        return

    if args.bm25:
        from veloci_spark import bm25

        terms = args.query.split()
        if args.bm25f_weights:
            if args.bm25 != "or":
                ap.error("--bm25f-weights supports --bm25 or only")
            weights = {}
            for part in args.bm25f_weights.split(","):
                fld, _, w = part.partition("=")
                weights[fld.strip()] = int(w or "1")
            rows = bm25.bm25f_topk(
                idx, weights, terms, args.top + args.skip
            ).collect()
        elif args.bm25 == "batch":
            if not args.fields or len(args.fields.split(",")) != 1:
                ap.error("--bm25 requires exactly one --fields entry")
            if args.skip:
                ap.error("--bm25 batch is per-query top-k; --skip unsupported")
            try:
                queries = json.loads(args.query)
            except json.JSONDecodeError as ex:
                ap.error(f"--bm25 batch --query must be JSON: {ex}")
            if not isinstance(queries, dict) or not all(
                isinstance(v, list) for v in queries.values()
            ):
                ap.error('--bm25 batch --query must be {"qid": ["term", ...]}')
            # falls through to the shared print/stop epilogue below
            # (--skip already rejected, so rows[args.skip:] == rows)
            rows = bm25.bm25_batch_topk(
                idx, args.fields, queries, args.top
            ).collect()
        elif args.bm25 == "collapse":
            if not args.fields or len(args.fields.split(",")) != 1:
                ap.error("--bm25 requires exactly one --fields entry")
            if args.collapse_per_group < 1:
                ap.error("--collapse-per-group must be >= 1")
            rows = bm25.bm25_collapse_topk(
                idx, args.fields, terms, args.top + args.skip,
                group_col=args.collapse_group,
                per_group=args.collapse_per_group,
            ).collect()
        elif args.bm25 == "near":
            if not args.fields or len(args.fields.split(",")) != 1:
                ap.error("--bm25 requires exactly one --fields entry")
            if args.near_slop < 0:
                ap.error("--near-slop must be >= 0")
            if len(set(terms)) != len(terms) or len(terms) < 2:
                ap.error("--bm25 near needs >= 2 distinct terms")
            rows = bm25.bm25_near_topk(
                idx, args.fields, terms, args.top + args.skip,
                slop=args.near_slop, in_order=args.near_ordered,
            ).collect()
        elif args.bm25 == "snippet":
            if not args.fields or len(args.fields.split(",")) != 1:
                ap.error("--bm25 requires exactly one --fields entry")
            if args.snippet_window < 1:
                ap.error("--snippet-window must be >= 1")
            rows = bm25.bm25_snippet_topk(
                idx, args.fields, terms, args.top + args.skip,
                window=args.snippet_window,
            ).collect()
        elif args.bm25 == "facets":
            if not args.fields or len(args.fields.split(",")) != 1:
                ap.error("--bm25 requires exactly one --fields entry")
            if args.skip:
                ap.error("--bm25 facets returns ranked values; --skip unsupported")
            rows = bm25.bm25_facets(
                idx, args.fields, terms,
                [c.strip() for c in args.facet_cols.split(",") if c.strip()],
                top_n=args.top,
            ).collect()
        elif args.bm25 == "fuzzy":
            if not args.fields or len(args.fields.split(",")) != 1:
                ap.error("--bm25 requires exactly one --fields entry")
            if args.fuzzy_dist < 0 or args.fuzzy_prefix < 0:
                ap.error("--fuzzy-dist / --fuzzy-prefix must be >= 0")
            rows = bm25.bm25_fuzzy_topk(
                idx, args.fields, terms, args.top + args.skip,
                max_dist=args.fuzzy_dist, prefix_len=args.fuzzy_prefix,
            ).collect()
        elif args.bm25 == "sigterms":
            if not args.fields or len(args.fields.split(",")) != 1:
                ap.error("--bm25 requires exactly one --fields entry")
            if args.sig_sample < 1 or args.sig_min_fg < 1:
                ap.error("--sig-sample / --sig-min-fg must be >= 1")
            if args.skip:
                ap.error("--bm25 sigterms returns ranked terms; --skip unsupported")
            rows = bm25.bm25_sigterms(
                idx, args.fields, terms,
                k_sample=args.sig_sample, top_terms=args.top,
                min_fg=args.sig_min_fg,
            ).collect()
        elif args.bm25 == "mlt":
            if not args.fields or len(args.fields.split(",")) != 1:
                ap.error("--bm25 requires exactly one --fields entry")
            try:
                src_doc = int(args.query)
            except ValueError:
                ap.error("--bm25 mlt --query must be the source doc_id")
            rows = bm25.bm25_mlt_topk(
                idx, args.fields, src_doc, args.top + args.skip
            ).collect()
        else:
            if not args.fields or len(args.fields.split(",")) != 1:
                ap.error("--bm25 requires exactly one --fields entry")
            if args.bm25_filter:
                if args.bm25 != "or":
                    ap.error("--bm25-filter supports --bm25 or only")
                rows = bm25.bm25_filtered_topk(
                    idx, args.fields, terms, args.top + args.skip,
                    args.bm25_filter,
                ).collect()
            else:
                fn = {
                    "or": bm25.bm25_auto_topk,
                    "and": bm25.bm25_and_topk,
                    "phrase": bm25.bm25_phrase_topk,
                    "explain": bm25.bm25_explain_topk,
                    "prf": bm25.bm25_prf_topk,
                }[args.bm25]
                rows = fn(idx, args.fields, terms, args.top + args.skip).collect()
        for r in rows[args.skip:]:
            print(json.dumps(r.asDict(), default=str))
        spark.stop()
        return

    params = QueryGeneratorParameters(
        search_term=args.query,
        fields=args.fields.split(",") if args.fields else None,
        facets=args.facets.split(",") if args.facets else None,
        filter=args.filter,
        select=args.select.split(",") if args.select else None,
        why_found=args.why_found,
        explain=args.explain,
        top=args.top,
        skip=args.skip,
    )
    request = generate_request(idx, params)

    if args.explain_plan:
        from veloci_spark.plan_render import render_plan

        print(render_plan(request))
        spark.stop()
        return

    for r in search(idx, request).hits.collect():
        print(json.dumps(r.asDict(), default=str))
    spark.stop()


if __name__ == "__main__":
    main()
