"""HTTP-shaped thin surface: the reference rocket server's request /
response schema (/root/reference/server/rocket_server.rs:110-446) mapped
onto the engine's generate_request / search / suggest / highlight.

Parity target is the WIRE SCHEMA, not serving scale — on a cluster the
API surface is spark-submit jobs (jobs/); this shim exists so a client
of the reference's REST endpoints can speak the same JSON to a
driver-local port:

- ``GET  /version``
- ``POST /<db>/search``                 body = search::Request JSON tree
- ``GET  /<db>/search?query=…``         QueryParams → query generator
- ``POST /<db>/search_query_params``    body = SearchQueryGeneratorParameters
- ``POST /<db>/search_query_params/explain_plan``  same body → plan DAG (dot)
- ``POST /<db>/suggest`` / ``GET /<db>/suggest?query=…``
- ``POST /<db>/highlight``              body = RequestSearchPart
- ``GET  /<db>/_id/<id>``               doc store row
- ``GET  /<db>/inspect/<path>/<id>``    tree-edge parent values
- ``POST /<db>/bm25``                   north-rule extension: single-query
  BM25 (modes or/and/phrase/near/snippet/fuzzy/sigterms/facets/explain/collapse;
  or/and pick exhaustive or block-max by matched posting volume;
  structured metadata filter, BM25F weights, search_after cursor)
- ``POST /<db>/bm25_batch``             north-rule extension: query set
  in one job
- ``POST /<db>/mlt``                    north-rule extension:
  more-like-this (query-by-document)

Responses mirror SearchResultWithDoc / SuggestFieldResult
(search_result_with_doc.rs:5-31, search_field.rs:158):
``{"execution_time_ns", "num_hits", "data": [{"doc", "hit": {"id",
"score"}, "why_found"?, "explain"?}], "facets"?, "histograms"?}`` and
``[[text, score, term_id], …]``.  ``histograms`` (north-rule
extension) is requested via body key ``histograms: [{"field", "width"}]``
on POST /search and returns ``{field: [[bucket, n_docs,
sum_score_e4], …]}`` over the SAME hit set the response ranks.
"""

from __future__ import annotations

import json
import re
import threading
import time
from typing import Any, Optional

from pyspark.sql import SparkSession, functions as F

from veloci_spark.executor import search
from veloci_spark.generator import QueryGeneratorParameters, generate_request
from veloci_spark.index import Index
from veloci_spark.parser import ParserOptions
from veloci_spark.request import (
    AndNode,
    BoostPart,
    FacetRequest,
    Node,
    OrNode,
    PhraseBoost,
    Request,
    SearchPart,
)


class HttpError(Exception):
    def __init__(self, status: int, msg: str):
        super().__init__(msg)
        self.status = status
        self.msg = msg


MAX_TOP = 10_000


def _validated_top(v) -> int:
    """Client-controlled k flows straight into DataFrame.limit(), and a
    negative or absurd value raises AnalysisException — which is NOT a
    client-error class the envelope maps to 400.  Validate up front."""
    if isinstance(v, bool) or not isinstance(v, int) or not 1 <= v <= MAX_TOP:
        raise HttpError(400, f"top must be an integer in [1, {MAX_TOP}]")
    return v


# ------------------------- request JSON -> Request -------------------------

def _boost_part_from_json(d: dict) -> BoostPart:
    """RequestBoostPart serde shape (boost_request.rs:1-33)."""
    return BoostPart(
        path=d["path"],
        boost_fun=d.get("boost_fun", "Log10"),
        param=float(d.get("param", 0.0)),
        skip_when_score=tuple(d.get("skip_when_score") or ()),
        expression=d.get("expression"),
    )


def _search_part_from_json(d: dict, opts: Optional[dict] = None) -> SearchPart:
    """RequestSearchPart serde shape (search_request.rs:127-170)."""
    tv = d.get("token_value")
    boosts = tuple(
        _boost_part_from_json(b) for b in (opts or {}).get("boost") or ()
    )
    return SearchPart(
        field=d["path"],
        term=d["terms"][0],
        levenshtein=d.get("levenshtein_distance"),
        starts_with=bool(d.get("starts_with", False)),
        is_regex=bool(d.get("is_regex", False)),
        ignore_case=bool(d.get("ignore_case", True)),
        boost=d.get("boost"),
        top=(opts or {}).get("top"),
        skip=(opts or {}).get("skip"),
        token_value=_boost_part_from_json(tv) if tv else None,
        boosts=boosts,
    )


def _tree_from_json(d: dict) -> Node:
    """SearchRequest serde enum: {"or"|"and": {"queries": […],
    "options"?}, } | {"search": RequestSearchPart}."""
    if "search" in d:
        return _search_part_from_json(d["search"])
    for key, ctor in (("or", OrNode), ("and", AndNode)):
        if key in d:
            tree = d[key]
            parts = tuple(_tree_from_json(q) for q in tree["queries"])
            opts = tree.get("options")
            if opts:
                parts = tuple(
                    _apply_tree_options(p, opts) for p in parts
                )
            return ctor(parts)
    raise HttpError(400, f"unknown SearchRequest node: {sorted(d)}")


def _apply_tree_options(node: Node, opts: dict) -> Node:
    import dataclasses

    if isinstance(node, SearchPart):
        extra = tuple(_boost_part_from_json(b) for b in opts.get("boost") or ())
        return dataclasses.replace(
            node,
            top=node.top if node.top is not None else opts.get("top"),
            skip=node.skip if node.skip is not None else opts.get("skip"),
            boosts=node.boosts + extra,
        )
    # options on an or/and node reach the leaves of NESTED subtrees too
    return type(node)(
        tuple(_apply_tree_options(p, opts) for p in node.parts)
    )


def request_from_json(d: dict) -> Request:
    """search::Request serde shape (request/mod.rs:14-88)."""
    search_node = (
        _tree_from_json(d["search_req"]) if d.get("search_req") else None
    )
    filter_node = _tree_from_json(d["filter"]) if d.get("filter") else None
    phrase_boosts = []
    for pb in d.get("phrase_boosts") or ():
        s1, s2 = pb["search1"], pb["search2"]
        phrase_boosts.append(
            PhraseBoost(
                field=s1["path"],
                term1=s1["terms"][0],
                term2=s2["terms"][0],
                levenshtein1=s1.get("levenshtein_distance"),
                levenshtein2=s2.get("levenshtein_distance"),
            )
        )
    return Request(
        search=search_node,
        filter=filter_node,
        boost=tuple(_boost_part_from_json(b) for b in d.get("boost") or ()),
        boost_term=tuple(
            _search_part_from_json(p) for p in d.get("boost_term") or ()
        ),
        phrase_boosts=tuple(phrase_boosts),
        facets=tuple(
            FacetRequest(field=f["field"], top=f.get("top", 10))
            for f in d.get("facets") or ()
        ),
        top=d.get("top", 10),
        skip=d.get("skip", 0),
        text_locality=bool(d.get("text_locality", False)),
        why_found=bool(d.get("why_found", False)),
        explain=bool(d.get("explain", False)),
        select=tuple(d["select"]) if d.get("select") else None,
        select_stringify=bool(d.get("select_stringify", False)),
    )


# --------------------- generator params JSON / QueryParams ------------------

def _parser_options_from_json(d: Optional[dict]) -> Optional[ParserOptions]:
    if not d:
        return None
    return ParserOptions(
        no_parentheses=bool(d.get("no_parentheses", False)),
        no_attributes=bool(d.get("no_attributes", False)),
        no_levensthein=bool(d.get("no_levensthein", False)),
    )


def generator_params_from_json(d: dict) -> QueryGeneratorParameters:
    """SearchQueryGeneratorParameters serde shape
    (query_generator.rs:47-83)."""
    return QueryGeneratorParameters(
        search_term=d["search_term"],
        fields=d.get("fields"),
        boost_fields=d.get("boost_fields") or {},
        boost_terms=d.get("boost_terms") or {},
        levenshtein=d.get("levenshtein"),
        levenshtein_auto_limit=d.get("levenshtein_auto_limit", 1),
        ignore_case=d.get("ignore_case", True),
        phrase_pairs=bool(d.get("phrase_pairs", False)),
        facets=d.get("facets"),
        facetlimit=d.get("facetlimit") or 10,
        filter=d.get("filter"),
        select=d.get("select"),
        why_found=bool(d.get("why_found", False)),
        text_locality=bool(d.get("text_locality", False)),
        explain=bool(d.get("explain", False)),
        top=d.get("top") or 10,
        skip=d.get("skip") or 0,
        stopword_lists=tuple(d.get("stopword_lists") or ()),
        parser_options=_parser_options_from_json(d.get("parser_options")),
        filter_parser_options=_parser_options_from_json(
            d.get("filter_parser_options")
        ),
    )


def _split_csv(v: Optional[str]) -> Optional[list[str]]:
    return v.split(",") if v else None


def _prune_to_paths(doc: dict, paths: list[str]):
    """Keep only the given (possibly nested / ``[]``) field paths of a
    reconstructed document — the _idtree contract: the doc as rebuilt from
    the indexed field trees (search::read_data over get_all_fields,
    rocket_server.rs:147-153), so non-indexed keys disappear."""
    from veloci_spark.paths import parse_path

    keep: dict = {}
    for p in paths:
        node = keep
        for name, _is_arr in parse_path(p):
            node = node.setdefault(name, {})

    def prune(value, node):
        if not node:  # keep-tree leaf: the whole subtree is indexed
            return value
        if isinstance(value, dict):
            return {k: prune(v, node[k]) for k, v in value.items() if k in node}
        if isinstance(value, list):
            return [prune(v, node) for v in value]
        return value

    return prune(doc, keep)


def generator_params_from_query_params(q: dict) -> QueryGeneratorParameters:
    """GET ?query=… QueryParams (rocket_server.rs:64-88, 180-245):
    comma-separated lists, ``field->factor`` boost pairs."""

    def _boost_map(v: Optional[str], default: Optional[float] = None) -> dict:
        out: dict[str, float] = {}
        for el in _split_csv(v) or ():
            name, _, factor = el.partition("->")
            if factor:
                try:
                    out[name] = float(factor)
                except ValueError:
                    raise HttpError(400, "Could not parse boost value as float")
            elif default is not None:
                out[name] = default
            else:
                raise HttpError(400, f"missing ->factor in {el!r}")
        return out

    def _flag(name: str) -> bool:
        return str(q.get(name, "")).lower() == "true"

    if "query" not in q:
        raise HttpError(400, "missing query parameter")
    return QueryGeneratorParameters(
        search_term=q["query"],
        fields=_split_csv(q.get("fields")),
        boost_fields=_boost_map(q.get("boost_fields")),
        boost_terms=_boost_map(q.get("boost_terms"), default=2.0),
        levenshtein=int(q["levenshtein"]) if q.get("levenshtein") else None,
        levenshtein_auto_limit=int(q.get("levenshtein_auto_limit") or 1),
        phrase_pairs=_flag("phrase_pairs"),
        facets=_split_csv(q.get("facets")),
        facetlimit=int(q.get("facetlimit") or 10),
        filter=q.get("filter"),
        select=_split_csv(q.get("select")),
        why_found=_flag("why_found"),
        text_locality=_flag("text_locality"),
        explain=_flag("explain"),
        top=int(q.get("top") or 10),
        skip=int(q.get("skip") or 0),
        stopword_lists=tuple(_split_csv(q.get("stopword_lists")) or ()),
    )


# ------------------------------ result JSON -------------------------------

def _row_to_doc(row: dict, meta_cols: set[str]) -> dict:
    return {k: v for k, v in row.items() if k not in meta_cols}


def search_result_to_json(
    index: Index, request: Request, t0_ns: int,
    histograms: list | None = None,
) -> dict:
    res = search(index, request)
    hits = res.hits
    if request.select is None:
        # reference always returns the document (to_search_result); join
        # the full doc store for the columns not already carried (e.g. a
        # why_found pass fetches its source fields itself)
        missing = [
            c for c in index.docstore().columns
            if c != "doc_id" and c not in hits.columns
        ]
        if missing:
            hits = (
                hits.join(
                    index.docstore().select("doc_id", *missing), "doc_id"
                )
                .orderBy(F.desc("score"), F.desc("doc_id"))
            )
    rows = [r.asDict(recursive=True) for r in hits.collect()]
    meta = {"doc_id", "score", "explain"} | {
        c for c in hits.columns if c.startswith("why_found_")
    }
    data = []
    for r in rows:
        ent: dict[str, Any] = {
            "doc": _row_to_doc(r, meta),
            "hit": {"id": int(r["doc_id"]), "score": float(r["score"])},
        }
        wf = {
            c[len("why_found_"):]: (
                v if isinstance(v := r[c], list) else [v]
            )
            for c in r
            if c.startswith("why_found_") and r[c] is not None
        }
        if wf:
            ent["why_found"] = wf
        if r.get("explain") is not None:
            ent["explain"] = r["explain"]
        data.append(ent)
    out: dict[str, Any] = {
        "execution_time_ns": time.monotonic_ns() - t0_ns,
        "num_hits": res.all_hits.count(),
        "data": data,
    }
    if res.facets:
        out["facets"] = {
            f: [[row["value"], row["count"]] for row in df.collect()]
            for f, df in res.facets.items()
        }
    if histograms:
        # numeric bucket aggs over the SAME hit set the response ranks
        # (aggs.histogram_over — the search is not re-run)
        from veloci_spark.aggs import histogram_over

        out["histograms"] = {
            h["field"]: [
                [int(r["bucket"]), int(r["n_docs"]), int(r["sum_score_e4"])]
                for r in histogram_over(
                    res.all_hits, index.docstore(), h["field"], h["width"]
                ).collect()
            ]
            for h in histograms
        }
    return out


# --------------------------------- app ------------------------------------

class VelociApp:
    """Route dispatch, socket-free (the HTTP wrapper below is optional —
    tests drive ``handle`` directly, like rocket's local client)."""

    def __init__(self, spark: SparkSession, databases: dict[str, str]):
        self.spark = spark
        self.db_paths = dict(databases)
        self._dbs: dict[str, Index] = {}
        # serve() uses ThreadingHTTPServer: two concurrent first requests
        # for one db must not each build an Index (duplicate manifest
        # reads; the loser's warmed LeafLru would be orphaned)
        self._dbs_lock = threading.Lock()

    def ensure_database(self, db: str) -> Index:
        # lock-free fast path: dict reads are atomic under the GIL and
        # entries are never replaced, so warm hits (and requests for
        # OTHER databases) never contend with a slow first build
        idx = self._dbs.get(db)
        if idx is not None:
            return idx
        with self._dbs_lock:
            if db not in self._dbs:
                if db not in self.db_paths:
                    raise HttpError(400, f"unknown database {db!r}")
                self._dbs[db] = Index(self.spark, self.db_paths[db])
            return self._dbs[db]

    def handle(
        self,
        method: str,
        path: str,
        query: Optional[dict] = None,
        body: Optional[dict] = None,
    ) -> tuple[int, Any]:
        query = query or {}
        try:
            return 200, self._route(method, path, query, body)
        except HttpError as e:
            return e.status, {"error": e.msg}
        except (ValueError, KeyError) as e:
            return 400, {"error": f"query_generation failed: {e}"}
        except (TypeError, AttributeError) as e:
            # a malformed body deep in request parsing (int where a dict
            # or string was expected) is a CLIENT error — 400 with a
            # message, never an exception escaping into the HTTP wrapper
            # as a dropped connection
            return 400, {"error": f"malformed request: {e}"}
        except Exception as e:  # noqa: BLE001 — last-resort envelope
            # anything else (engine AnalysisException reached by an
            # input the validators missed, a genuine server bug) still
            # answers HTTP instead of dropping the connection; 500 so
            # the fuzz suite (which asserts 200/400) flags the gap
            # instead of masking it as a client error
            return 500, {"error": f"internal error: {type(e).__name__}: {e}"}

    def _route(self, method: str, path: str, query: dict, body) -> Any:
        if method == "GET" and path == "/version":
            return "0.8"
        m = re.match(r"^/([^/]+)/(.+)$", path)
        if not m:
            raise HttpError(400, f"unknown route {path}")
        db, rest = m.group(1), m.group(2)
        idx = self.ensure_database(db)
        t0 = time.monotonic_ns()
        if rest == "search" and method == "POST":
            req = request_from_json(body)
            if req.search is None:
                raise HttpError(400, "no search tree in request body")
            hists = body.get("histograms")
            if hists is not None:
                # [{"field": <numeric docstore column>, "width": int>0}]
                if not isinstance(hists, list):
                    raise HttpError(400, "histograms must be a list")
                numeric = {
                    f.name
                    for f in idx.docstore().schema.fields
                    if f.dataType.typeName()
                    in ("long", "integer", "short", "double", "float")
                }
                for h in hists:
                    if not isinstance(h, dict) or "field" not in h:
                        raise HttpError(
                            400, "each histogram needs {field, width}"
                        )
                    if h["field"] not in numeric:
                        raise HttpError(
                            400,
                            f"histogram field {h.get('field')!r} is not a "
                            "numeric docstore column",
                        )
                    w = h.get("width")
                    if not isinstance(w, int) or isinstance(w, bool) or w < 1:
                        raise HttpError(
                            400, "histogram width must be a positive int"
                        )
            return search_result_to_json(idx, req, t0, histograms=hists)
        if rest == "search" and method == "GET":
            params = generator_params_from_query_params(query)
            return search_result_to_json(idx, generate_request(idx, params), t0)
        if rest == "search_query_params" and method == "POST":
            params = generator_params_from_json(body)
            return search_result_to_json(idx, generate_request(idx, params), t0)
        if rest == "search_query_params/explain_plan" and method == "POST":
            # rocket_server.rs:251-263: generate the request, return the
            # engine plan rendering instead of executing it
            from veloci_spark.plan_render import render_plan

            params = generator_params_from_json(body)
            return render_plan(generate_request(idx, params))
        if rest == "suggest":
            return self._suggest(idx, method, query, body)
        if rest == "highlight" and method == "POST":
            from veloci_spark.suggest import highlight_entry

            part = _search_part_from_json(body)
            return [
                [r["text"], float(r["score"]), r["highlighted"]]
                for r in highlight_entry(idx, part).collect()
            ]
        if rest == "bm25" and method == "POST":
            # North-rule extension: the single-query BM25 surface the
            # CLI exposes (jobs/query_job.py --bm25), HTTP-shaped. Body:
            #   {"field": str, "terms": [str...], "top": k,
            #    "mode": "or"|"and"|"phrase"|"explain"
            #            |"near" (+ "slop", "in_order") |"snippet" (+ "window")
            #            |"fuzzy" (+ "max_dist", "prefix_len")
            #            |"sigterms" (+ "sample", "min_fg")
            #            |"facets" (+ "group_cols")
            #            |"collapse" (+ "group_col", "per_group"),
            #    "filter": {col: value, ...}?,     (mode or; equality
            #      conjunction — structured, NOT raw SQL: columns
            #      validated against the doc store, values bound as
            #      literals)
            #    "weights": {field: int, ...}?,    (mode or; BM25F)
            #    "after": [score_e4, doc_id]?}      (cursor pagination —
            #      deep paging without the skip-scan anti-pattern)
            from veloci_spark import bm25

            terms = body.get("terms")
            if (
                not isinstance(terms, list)
                or not terms
                or not all(isinstance(t, str) for t in terms)
            ):
                raise HttpError(400, "terms must be a non-empty list of strings")
            field = body.get("field", "content")
            mode = body.get("mode", "or")
            if mode == "phrase" and len(terms) < 2:
                # bm25_phrase_topk asserts >= 2 tokens; surface it as a
                # client error, not a dropped connection
                raise HttpError(400, "phrase needs >= 2 terms")
            top = _validated_top(body.get("top", 10))
            flt = body.get("filter")
            weights = body.get("weights")
            after = body.get("after")
            if flt is not None and weights is not None:
                raise HttpError(400, "filter and weights are exclusive")
            if after is not None and (flt is not None or weights is not None):
                # silently ignoring the cursor would re-serve page 1
                # forever; reject like the filter+weights combination
                raise HttpError(
                    400, "after combines only with plain or-mode queries"
                )
            if weights is not None:
                if mode != "or" or not (
                    isinstance(weights, dict)
                    and weights
                    and all(isinstance(v, int) for v in weights.values())
                ):
                    raise HttpError(
                        400, "weights must be {field: int} with mode or"
                    )
                rows = bm25.bm25f_topk(idx, weights, terms, top).collect()
            elif flt is not None:
                if mode != "or" or not isinstance(flt, dict):
                    raise HttpError(
                        400, "filter must be {column: value} with mode or"
                    )
                cols = set(idx.docstore().columns)
                bad = [c for c in flt if c not in cols]
                if bad:
                    raise HttpError(400, f"unknown filter columns: {bad}")
                pred = None
                for c, v in flt.items():
                    clause = F.col(c) == F.lit(v)
                    pred = clause if pred is None else (pred & clause)
                rows = bm25.bm25_filtered_topk(
                    idx, field, terms, top, pred
                ).collect()
            elif mode == "collapse":
                # field-collapsed top-k: <= per_group docs per group_col
                # value (bm25.bm25_collapse_topk); rows carry the group
                # and the within-group rank
                if after is not None:
                    # silently ignoring the cursor would re-serve page 1
                    raise HttpError(
                        400, "after combines only with plain or-mode queries"
                    )
                group_col = body.get("group_col", "repo")
                if group_col not in set(idx.docstore().columns):
                    raise HttpError(400, f"unknown group_col {group_col!r}")
                per_group = body.get("per_group", 2)
                if (
                    not isinstance(per_group, int)
                    or isinstance(per_group, bool)
                    or per_group < 1
                ):
                    raise HttpError(400, "per_group must be a positive int")
                rows = bm25.bm25_collapse_topk(
                    idx, field, terms, top,
                    group_col=group_col, per_group=per_group,
                ).collect()
                return [
                    [
                        int(r["doc_id"]),
                        r[group_col],
                        int(r["score_e4"]),
                        int(r["grp_rank"]),
                    ]
                    for r in rows
                ]
            elif mode == "near":
                # unordered span-near proximity (bm25.bm25_near_topk):
                # all terms within a ((n-1)+slop)-rank window
                slop = body.get("slop", 2)
                if not isinstance(slop, int) or isinstance(slop, bool) or slop < 0:
                    raise HttpError(400, "slop must be a non-negative int")
                in_order = body.get("in_order", False)
                if not isinstance(in_order, bool):
                    raise HttpError(400, "in_order must be a bool")
                if len(set(terms)) != len(terms) or len(terms) < 2:
                    raise HttpError(
                        400, "near needs >= 2 distinct terms"
                    )
                rows = bm25.bm25_near_topk(
                    idx, field, terms, top, slop=slop, in_order=in_order
                ).collect()
            elif mode == "snippet":
                # or-mode top-k decorated with the leftmost maximal
                # query-term fragment per hit (bm25.bm25_snippet_topk)
                window = body.get("window", 8)
                if (
                    not isinstance(window, int)
                    or isinstance(window, bool)
                    or window < 1
                ):
                    raise HttpError(400, "window must be a positive int")
                rows = bm25.bm25_snippet_topk(
                    idx, field, terms, top, window=window
                ).collect()
                return [
                    [
                        int(r["doc_id"]),
                        int(r["score_e4"]),
                        int(r["n_matched"]),
                        r["snippet"],
                    ]
                    for r in rows
                ]
            elif mode == "facets":
                # ES terms aggregation over the FULL hit set
                # (bm25.bm25_facets); top = per-column value count
                gcols = body.get("group_cols", ["lang"])
                if not (
                    isinstance(gcols, list)
                    and gcols
                    and all(isinstance(c, str) for c in gcols)
                ):
                    raise HttpError(400, "group_cols must be [column, ...]")
                known = set(idx.docstore().columns)
                bad = [c for c in gcols if c not in known]
                if bad:
                    raise HttpError(400, f"unknown facet columns: {bad}")
                rows = bm25.bm25_facets(
                    idx, field, terms, gcols, top_n=top
                ).collect()
                return [
                    [
                        r["col"],
                        r["value"],
                        int(r["n_docs"]),
                        int(r["sum_score_e4"]),
                        int(r["n_values"]),
                    ]
                    for r in rows
                ]
            elif mode == "fuzzy":
                # ES match-query fuzziness (bm25.bm25_fuzzy_topk)
                max_dist = body.get("max_dist", 1)
                prefix_len = body.get("prefix_len", 0)
                for v, label in ((max_dist, "max_dist"), (prefix_len, "prefix_len")):
                    if not isinstance(v, int) or isinstance(v, bool) or v < 0:
                        raise HttpError(400, f"{label} must be a non-negative int")
                rows = bm25.bm25_fuzzy_topk(
                    idx, field, terms, top,
                    max_dist=max_dist, prefix_len=prefix_len,
                ).collect()
            elif mode == "sigterms":
                # significant terms over the hit sample (JLH contrast,
                # bm25.bm25_sigterms); top = number of terms returned
                sample = body.get("sample", 50)
                min_fg = body.get("min_fg", 2)
                for v, label in ((sample, "sample"), (min_fg, "min_fg")):
                    if not isinstance(v, int) or isinstance(v, bool) or v < 1:
                        raise HttpError(400, f"{label} must be a positive int")
                rows = bm25.bm25_sigterms(
                    idx, field, terms,
                    k_sample=sample, top_terms=top, min_fg=min_fg,
                ).collect()
                return [
                    [r["term"], int(r["fg"]), int(r["bg"]), int(r["jlh_e4"])]
                    for r in rows
                ]
            elif after is not None:
                # cursor pagination (search_after): strictly after the
                # [score_e4, doc_id] cursor; or-mode only
                if mode != "or" or not (
                    isinstance(after, list)
                    and len(after) == 2
                    and all(
                        isinstance(x, int) and not isinstance(x, bool)
                        for x in after
                    )
                ):
                    raise HttpError(
                        400,
                        "after must be [score_e4, doc_id] with mode or",
                    )
                rows = bm25.bm25_topk_after(
                    idx, field, terms, top, after=(after[0], after[1])
                ).collect()
            else:
                try:
                    # "or"/"and" pick their plan by the matched posting
                    # volume (exhaustive below bm25.WAND_MIN_POSTINGS,
                    # block-max WAND above — rank-identical either way)
                    fn = {
                        "or": bm25.bm25_auto_topk,
                        "and": bm25.bm25_and_topk,
                        "phrase": bm25.bm25_phrase_topk,
                        "explain": bm25.bm25_explain_topk,
                    }[mode]
                except KeyError:
                    raise HttpError(400, f"unknown bm25 mode {mode!r}")
                rows = fn(idx, field, terms, top).collect()
            if mode == "explain":
                return [r.asDict() for r in rows]
            return [[int(r["doc_id"]), int(r["score_e4"])] for r in rows]
        if rest == "bm25_batch" and method == "POST":
            # North-rule extension (no rocket counterpart — the reference
            # has no BM25): evaluate a whole query set in ONE Spark job.
            # Body: {"field": str, "queries": {qid: [terms...]}, "top": k}
            # → {qid: [[doc_id, score_e4], ...]} best-first per query.
            from veloci_spark.bm25 import bm25_batch_topk

            field = body.get("field", "content")
            queries = body.get("queries") or {}
            # a string value would be silently iterated per CHARACTER by
            # the term loop; a non-iterable would escape as TypeError
            # (dropped connection, not a 400) — validate the full shape
            if not isinstance(queries, dict) or not all(
                isinstance(ts, list) and all(isinstance(t, str) for t in ts)
                for ts in queries.values()
            ):
                raise HttpError(400, "queries must be {id: [terms...]}")
            top = _validated_top(body.get("top", 10))
            out: dict[str, list] = {q: [] for q in queries}
            for r in bm25_batch_topk(idx, field, queries, top).collect():
                out[r["query_id"]].append([int(r["doc_id"]), int(r["score_e4"])])
            return out
        if rest == "mlt" and method == "POST":
            # more-like-this: query-by-document (bm25.bm25_mlt_topk).
            # Body: {"field": str, "doc_id": int, "top": k,
            #        "n_terms": int?, "min_occ": int?}
            # → [[doc_id, score_e4], ...] best-first, source excluded.
            from veloci_spark.bm25 import bm25_mlt_topk

            field = body.get("field", "content")
            src = body.get("doc_id")
            if not isinstance(src, int) or isinstance(src, bool):
                raise HttpError(400, "doc_id must be an integer")
            top = _validated_top(body.get("top", 10))
            n_terms = body.get("n_terms", 8)
            min_occ = body.get("min_occ", 3)
            for name, v in (("n_terms", n_terms), ("min_occ", min_occ)):
                if not isinstance(v, int) or isinstance(v, bool) or v < 1:
                    raise HttpError(400, f"{name} must be a positive int")
            rows = bm25_mlt_topk(
                idx, field, src, top, n_terms=n_terms, min_occ=min_occ
            ).collect()
            return [[int(r["doc_id"]), int(r["score_e4"])] for r in rows]
        if rest == "prf" and method == "POST":
            # pseudo-relevance feedback (bm25.bm25_prf_topk): plain query,
            # expansion terms mined from its top fb_docs, weighted rerun.
            # Body: {"field": str, "terms": [str...], "top": k,
            #        "fb_docs": int?, "fb_terms": int?, "min_occ": int?}
            from veloci_spark.bm25 import bm25_prf_topk

            field = body.get("field", "content")
            terms = body.get("terms")
            if (
                not isinstance(terms, list)
                or not terms
                or not all(isinstance(t, str) for t in terms)
            ):
                raise HttpError(400, "terms must be a non-empty list of strings")
            top = _validated_top(body.get("top", 10))
            fb_docs = body.get("fb_docs", 5)
            fb_terms = body.get("fb_terms", 4)
            min_occ = body.get("min_occ", 3)
            for name, v in (
                ("fb_docs", fb_docs), ("fb_terms", fb_terms), ("min_occ", min_occ)
            ):
                if not isinstance(v, int) or isinstance(v, bool) or v < 0:
                    raise HttpError(400, f"{name} must be a non-negative int")
            rows = bm25_prf_topk(
                idx, field, terms, top,
                fb_docs=fb_docs, fb_terms=fb_terms, min_occ=min_occ,
            ).collect()
            return [[int(r["doc_id"]), int(r["score_e4"])] for r in rows]
        if rest == "regex" and method == "POST":
            # content grep (trigram.regex_search): trigram-pruned when the
            # pattern allows, full scan otherwise. Body: {"field": str,
            # "pattern": str, "top": int?} → {"indexable": bool,
            # "hits": [[doc_id, path], ...]} in doc_id order.
            import re as _re

            from veloci_spark.trigram import plan_regex, regex_search

            field = body.get("field", "content")
            pattern = body.get("pattern")
            if not isinstance(pattern, str) or not pattern:
                raise HttpError(400, "pattern must be a non-empty string")
            try:
                _re.compile(pattern)
            except _re.error as exc:
                raise HttpError(400, f"bad pattern: {exc}")
            if field not in set(idx.docstore().columns):
                raise HttpError(400, f"unknown field {field!r}")
            top = body.get("top")
            if top is not None:
                top = _validated_top(top)
            sel = (
                ("doc_id", "path")
                if "path" in idx.docstore().columns
                else ("doc_id",)
            )
            rows = regex_search(
                idx, field, pattern, select=sel, limit=top
            ).collect()
            from veloci_spark.trigram import explain_search

            ex = explain_search(idx, field, pattern)
            return {
                "indexable": plan_regex(pattern) is not None,
                "arm": ex["arm"],
                "hits": [[*r] for r in rows],
            }
        m_id = re.match(r"^_id/(\d+)$", rest)
        if m_id and method == "GET":
            doc_id = int(m_id.group(1))
            rows = idx.docstore().where(F.col("doc_id") == doc_id).collect()
            if not rows:
                raise HttpError(400, f"doc {doc_id} not found")
            return {
                k: v
                for k, v in rows[0].asDict(recursive=True).items()
                if k != "doc_id"
            }
        m_idt = re.match(r"^_idtree/(\d+)$", rest)
        if m_idt and method == "GET":
            # GET /:db/_idtree/:id (rocket_server.rs:147-153): the doc
            # reconstructed from the INDEXED field trees — i.e. only the
            # indexed paths survive, vs _id's raw doc-store read. Spark
            # side: read the stored doc once and prune it to the index's
            # field paths (select_path_column semantics: arrays stay
            # arrays, read_data/read_document.rs:8-59).
            doc_id = int(m_idt.group(1))
            rows = idx.docstore().where(F.col("doc_id") == doc_id).collect()
            if not rows:
                raise HttpError(400, f"doc {doc_id} not found")
            doc = {
                k: v
                for k, v in rows[0].asDict(recursive=True).items()
                if k != "doc_id"
            }
            return _prune_to_paths(doc, idx.field_names())
        m_ins = re.match(r"^inspect/([^/]+)/(\d+)$", rest)
        if m_ins and method == "GET":
            field, vid = m_ins.group(1), int(m_ins.group(2))
            tt = (
                idx.token_texts(field)
                .where(F.col("term_id") == vid)
                .select("text_id")
                .collect()
            )
            return [int(r["text_id"]) for r in tt]
        raise HttpError(400, f"unknown route {method} {path}")

    def _suggest(self, idx: Index, method: str, query: dict, body) -> list:
        from veloci_spark.suggest import suggest as suggest_fn

        if method == "POST":
            parts = [
                _search_part_from_json(p) for p in (body or {}).get("suggest") or ()
            ]
            if not parts:
                raise HttpError(400, "only suggest allowed in suggest function")
            term = parts[0].term
            fields = [p.field for p in parts]
            lev = parts[0].levenshtein
            top, skip = (body.get("top") or 10), (body.get("skip") or 0)
        else:
            if "query" not in query:
                raise HttpError(400, "missing query parameter")
            term = query["query"]
            fields = _split_csv(query.get("fields")) or None
            lev = int(query["levenshtein"]) if query.get("levenshtein") else None
            top, skip = int(query.get("top") or 10), int(query.get("skip") or 0)
        rows = suggest_fn(
            idx, term, fields=fields, levenshtein=lev, top=top, skip=skip
        ).collect()
        # SuggestFieldResult = Vec<(text, score, term_id)>; the merged
        # term_id is the min over the queried fields' dictionaries.
        # Filter to the k suggestion texts FIRST (dictionary-stat
        # pushdown), then aggregate the handful of surviving rows.
        texts = [r["text"] for r in rows]
        dicts = None
        for f in fields or idx.field_names():
            d = idx.dictionary(f).select("term", "term_id")
            dicts = d if dicts is None else dicts.unionAll(d)
        tid = {}
        if texts:
            tid = {
                r["term"]: int(r["tid"])
                for r in dicts.where(F.col("term").isin(texts))
                .groupBy("term")
                .agg(F.min("term_id").alias("tid"))
                .collect()
            }
        return [
            [r["text"], float(r["score"]), tid.get(r["text"], 0)] for r in rows
        ]


def serve(app: VelociApp, port: int = 3000):  # pragma: no cover - manual
    """Minimal stdlib HTTP wrapper around ``VelociApp.handle``."""
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
    from urllib.parse import parse_qsl, urlsplit

    class H(BaseHTTPRequestHandler):
        def _respond(self, method):
            u = urlsplit(self.path)
            q = dict(parse_qsl(u.query))
            body = None
            n = int(self.headers.get("Content-Length") or 0)
            if n:
                body = json.loads(self.rfile.read(n))
            status, obj = app.handle(method, u.path, q, body)
            payload = json.dumps(obj, default=str).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def do_GET(self):
            self._respond("GET")

        def do_POST(self):
            self._respond("POST")

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", port), H)
    srv.serve_forever()
