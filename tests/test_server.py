"""REST-shim round-trips of the reference server's documented request
JSONs (rocket_server.rs:110-446; request shapes from
/root/reference/tests/all/tests.rs — `search_req` trees, skip, select,
why_found — and query_generator.rs parameter JSON). Drives
VelociApp.handle directly (rocket local-client style, no socket).
"""

import os

import pytest

import veloci_spark as vs
from veloci_spark.server import VelociApp


@pytest.fixture(scope="module")
def app(spark, tmp_root):
    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cfg = vs.IndexConfig(
        fields=(
            # bm25=True additionally bakes BM25 blocks for the
            # bm25_batch route test; native postings unchanged
            vs.FieldConfig("text", store_texts=True, bm25=True),
            vs.FieldConfig("lang"),
        ),
        block_docs=128,
    )
    path = os.path.join(tmp_root, "server_idx")
    vs.build_index(spark, corpus, cfg, path, resume=False)
    return VelociApp(spark, {"docs": path})


def test_version(app):
    assert app.handle("GET", "/version") == (200, "0.8")


def test_post_search_single_leaf(app):
    # tests.rs:441-446 shape
    status, res = app.handle(
        "POST",
        "/docs/search",
        body={
            "search_req": {"search": {"terms": ["spark"], "path": "text"}},
            "top": 5,
        },
    )
    assert status == 200
    assert set(res) >= {"execution_time_ns", "num_hits", "data"}
    assert res["num_hits"] > 0 and len(res["data"]) <= 5
    first = res["data"][0]
    assert set(first) >= {"doc", "hit"}
    assert set(first["hit"]) == {"id", "score"}
    assert "text" in first["doc"] and "lang" in first["doc"]


def test_post_search_or_tree_and_skip(app):
    # tests.rs:369-380 (or tree) + :309-316 (skip beyond result set)
    body = {
        "search_req": {
            "or": {
                "queries": [
                    {"search": {"terms": ["spark"], "path": "text"}},
                    {"search": {"terms": ["join"], "path": "text"}},
                ]
            }
        },
        "top": 5,
    }
    status, res = app.handle("POST", "/docs/search", body=body)
    assert status == 200 and res["num_hits"] > 0
    status, res2 = app.handle(
        "POST", "/docs/search", body={**body, "skip": 100000}
    )
    assert status == 200 and res2["data"] == []


def test_post_search_select(app):
    status, res = app.handle(
        "POST",
        "/docs/search",
        body={
            "search_req": {"search": {"terms": ["spark"], "path": "text"}},
            "select": ["lang"],
            "top": 3,
        },
    )
    assert status == 200
    assert all(set(d["doc"]) == {"lang"} for d in res["data"])


def test_post_search_why_found_and_facets(app):
    status, res = app.handle(
        "POST",
        "/docs/search",
        body={
            "search_req": {"search": {"terms": ["spark"], "path": "text"}},
            "why_found": True,
            "facets": [{"field": "lang"}],
            "top": 3,
        },
    )
    assert status == 200
    assert "facets" in res and "lang" in res["facets"]
    assert all(isinstance(pair[1], int) for pair in res["facets"]["lang"])
    wf = res["data"][0].get("why_found")
    assert wf and "text" in wf
    assert any("<b>" in s for s in wf["text"])


def test_get_search_query_params(app):
    status, res = app.handle(
        "GET", "/docs/search", query={"query": "spark", "top": "5"}
    )
    assert status == 200 and res["num_hits"] > 0


def test_get_search_boost_fields_parse_error(app):
    status, res = app.handle(
        "GET",
        "/docs/search",
        query={"query": "spark", "boost_fields": "text->notafloat"},
    )
    assert status == 400
    assert "float" in res["error"]


def test_post_search_query_params(app):
    status, res = app.handle(
        "POST",
        "/docs/search_query_params",
        body={
            "search_term": "spark OR join",
            "top": 5,
            "parser_options": {"no_attributes": True},
        },
    )
    assert status == 200 and res["num_hits"] > 0


def test_suggest_post_and_get(app):
    status, res = app.handle(
        "POST",
        "/docs/suggest",
        body={"suggest": [{"terms": ["sp"], "path": "text"}], "top": 5},
    )
    assert status == 200 and res
    # SuggestFieldResult shape: [text, score, term_id]
    assert all(
        len(t) == 3 and isinstance(t[0], str) and isinstance(t[2], int)
        for t in res
    )
    status, res_get = app.handle(
        "GET", "/docs/suggest", query={"query": "sp", "top": "5"}
    )
    assert status == 200 and [t[0] for t in res_get] == [t[0] for t in res]
    # only suggest allowed in the suggest function (search_field.rs:198)
    status, err = app.handle("POST", "/docs/suggest", body={})
    assert status == 400


def test_highlight_post(app):
    status, res = app.handle(
        "POST", "/docs/highlight", body={"terms": ["spark"], "path": "text"}
    )
    assert status == 200 and res
    assert all(len(t) == 3 for t in res)
    assert any("<b>" in t[2] for t in res)


def test_get_doc_by_id(app):
    status, doc = app.handle("GET", "/docs/_id/3")
    assert status == 200 and "text" in doc and "doc_id" not in doc
    status, err = app.handle("GET", "/docs/_id/999999")
    assert status == 400


def test_get_doc_by_idtree(app):
    # rocket_server.rs:147-153 + server/tests.rs:168-176: the doc rebuilt
    # from the INDEXED field trees — only indexed paths survive
    status, doc = app.handle("GET", "/docs/_idtree/3")
    assert status == 200
    assert set(doc) == {"text", "lang"}
    # values agree with the raw doc-store read
    _, raw = app.handle("GET", "/docs/_id/3")
    assert doc == {k: raw[k] for k in ("text", "lang")}
    status, err = app.handle("GET", "/docs/_idtree/999999")
    assert status == 400


def test_prune_to_paths_nested():
    from veloci_spark.server import _prune_to_paths

    doc = {
        "kanji": [{"text": "a", "extra": 1}, {"text": "b", "extra": 2}],
        "meanings": {"ger": ["x"], "eng": ["y"]},
        "unindexed": 7,
    }
    out = _prune_to_paths(doc, ["kanji[].text", "meanings.ger[]"])
    assert out == {
        "kanji": [{"text": "a"}, {"text": "b"}],
        "meanings": {"ger": ["x"]},
    }


def test_unknown_db_and_route(app):
    status, err = app.handle("GET", "/nope/search", query={"query": "x"})
    assert status == 400
    status, err = app.handle("GET", "/badpath")
    assert status == 400


def test_explain_plan_route(app):
    # rocket_server.rs:251-263 — same params body, returns the plan
    # rendering instead of executing
    status, dot = app.handle(
        "POST",
        "/docs/search_query_params/explain_plan",
        body={"search_term": "spark join", "top": 5},
    )
    assert status == 200 and isinstance(dot, str)
    assert "digraph" in dot and "spark" in dot


def test_bm25_batch_route(app, spark, tmp_root):
    """POST /:db/bm25_batch (north-rule extension): per-query rows equal
    the direct bm25_batch_topk call; unknown-term query present but
    empty."""
    from veloci_spark.bm25 import bm25_batch_topk
    from veloci_spark.index import Index

    body = {
        "field": "text",
        "queries": {"qa": ["spark", "join"], "qb": ["zz_nothing"]},
        "top": 5,
    }
    status, res = app.handle("POST", "/docs/bm25_batch", body=body)
    assert status == 200
    assert set(res) == {"qa", "qb"} and res["qb"] == []
    idx = Index(spark, os.path.join(tmp_root, "server_idx"))
    want = [
        [int(r["doc_id"]), int(r["score_e4"])]
        for r in bm25_batch_topk(idx, "text", body["queries"], 5).collect()
    ]
    assert res["qa"] == want and len(want) == 5


def test_bm25_batch_route_rejects_bad_queries(app):
    status, res = app.handle(
        "POST", "/docs/bm25_batch", body={"field": "text", "queries": [1, 2]}
    )
    assert status == 400


def test_bm25_batch_route_rejects_string_terms(app):
    # a string would be iterated per CHARACTER; must 400, not 200
    status, res = app.handle(
        "POST",
        "/docs/bm25_batch",
        body={"field": "text", "queries": {"q": "spark join"}},
    )
    assert status == 400


# ---- malformed-body fuzz: the shim's error envelope never leaks ----

from hypothesis import given, settings, strategies as st

_json_scalars = st.one_of(
    st.none(), st.booleans(), st.integers(), st.text(max_size=8)
)
_json_values = st.recursive(
    _json_scalars,
    lambda kids: st.one_of(
        st.lists(kids, max_size=3),
        st.dictionaries(st.text(max_size=8), kids, max_size=3),
    ),
    max_leaves=8,
)
_routes = st.sampled_from(
    [
        ("POST", "/docs/search"),
        ("POST", "/docs/search_query_params"),
        ("POST", "/docs/suggest"),
        ("POST", "/docs/highlight"),
        ("POST", "/docs/bm25_batch"),
        ("POST", "/docs/bm25"),
        ("POST", "/docs/mlt"),
        ("POST", "/docs/prf"),
        ("POST", "/docs/regex"),
    ]
)


@settings(max_examples=40, deadline=None)
@given(_routes, st.dictionaries(st.text(max_size=10), _json_values, max_size=4))
def test_malformed_bodies_never_escape(app, route, body):
    """Any JSON-shaped body yields an HTTP status (200 or 4xx), never an
    exception escaping handle() — a dropped connection to the client."""
    method, path = route
    status, _res = app.handle(method, path, body=body)
    assert status in (200, 400)


@settings(max_examples=40, deadline=None)
@given(
    st.text(max_size=24),
    st.dictionaries(
        st.sampled_from(
            ["query", "top", "skip", "levenshtein", "fields", "boost_fields",
             "facets", "why_found", "select", "filter"]
        ),
        st.text(max_size=12),
        max_size=4,
    ),
)
def test_random_query_params_never_escape(app, term, extra):
    """GET /:db/search with arbitrary query strings and junk parameter
    values always answers 200/400 — the DSL parser and the generator
    param coercion never leak an exception to the HTTP wrapper."""
    q = {"query": term, **extra}
    status, _res = app.handle("GET", "/docs/search", query=q)
    assert status in (200, 400)


def test_bm25_route_modes(app, spark, tmp_root):
    """POST /:db/bm25 (north-rule extension): mode dispatch equals the
    direct bm25 calls; the forced-plan modes are gone."""
    from veloci_spark.bm25 import bm25_topk, bm25f_topk
    from veloci_spark.index import Index

    idx = Index(spark, os.path.join(tmp_root, "server_idx"))
    body = {"field": "text", "terms": ["spark", "join"], "top": 5}
    status, res = app.handle("POST", "/docs/bm25", body=body)
    assert status == 200
    want = [
        [int(r["doc_id"]), int(r["score_e4"])]
        for r in bm25_topk(idx, "text", body["terms"], 5).collect()
    ]
    assert res == want and len(res) == 5
    # the plan is the posting-volume rule's, never a mode
    for forced in ("or-wand", "or-scan", "and-wand"):
        status, res_forced = app.handle(
            "POST", "/docs/bm25", body={**body, "mode": forced}
        )
        assert status == 400 and "unknown bm25 mode" in str(res_forced)
    # weights combine with mode or: the BM25F entry (filter + or is
    # test_bm25_route_filtered)
    weights = {"text": 2}
    status, res_f = app.handle("POST", "/docs/bm25", body={**body, "weights": weights})
    assert status == 200 and res_f == [
        [int(r["doc_id"]), int(r["score_e4"])]
        for r in bm25f_topk(idx, weights, body["terms"], 5).collect()
    ]
    for extra in ({"weights": weights}, {"filter": {"lang": "de"}}):
        status, _ = app.handle(
            "POST", "/docs/bm25", body={**body, **extra, "mode": "or-wand"}
        )
        assert status == 400
    # AND mode returns docs containing every term
    status, res_and = app.handle(
        "POST", "/docs/bm25", body={**body, "mode": "and"}
    )
    assert status == 200 and 0 < len(res_and) <= 5
    # explain returns per-term provenance dicts
    status, res_ex = app.handle(
        "POST", "/docs/bm25", body={**body, "mode": "explain"}
    )
    assert status == 200 and all("term" in r for r in res_ex)


def test_bm25_route_filtered(app, spark, tmp_root):
    from pyspark.sql import functions as F

    from veloci_spark.bm25 import bm25_filtered_topk
    from veloci_spark.index import Index

    idx = Index(spark, os.path.join(tmp_root, "server_idx"))
    body = {
        "field": "text",
        "terms": ["spark", "join"],
        "top": 5,
        "filter": {"lang": "de"},
    }
    status, res = app.handle("POST", "/docs/bm25", body=body)
    assert status == 200
    want = [
        [int(r["doc_id"]), int(r["score_e4"])]
        for r in bm25_filtered_topk(
            idx, "text", body["terms"], 5, F.col("lang") == "de"
        ).collect()
    ]
    assert res == want and len(res) > 0


def test_bm25_route_rejections(app):
    # terms must be a list of strings (not a string, not ints)
    for bad_terms in ("spark join", [1, 2], None):
        status, _ = app.handle(
            "POST", "/docs/bm25", body={"field": "text", "terms": bad_terms}
        )
        assert status == 400
    # unknown mode
    status, _ = app.handle(
        "POST",
        "/docs/bm25",
        body={"field": "text", "terms": ["spark"], "mode": "nope"},
    )
    assert status == 400
    # unknown filter column must be rejected, not silently scored
    status, res = app.handle(
        "POST",
        "/docs/bm25",
        body={
            "field": "text",
            "terms": ["spark"],
            "filter": {"no_such_col": "x"},
        },
    )
    assert status == 400 and "no_such_col" in str(res)
    # filter+weights exclusive; weights need mode or
    status, _ = app.handle(
        "POST",
        "/docs/bm25",
        body={
            "field": "text",
            "terms": ["spark"],
            "filter": {"lang": "de"},
            "weights": {"text": 1},
        },
    )
    assert status == 400
    status, _ = app.handle(
        "POST",
        "/docs/bm25",
        body={
            "field": "text",
            "terms": ["spark"],
            "mode": "and",
            "weights": {"text": 1},
        },
    )
    assert status == 400


def test_bm25_route_cursor_pagination(app):
    body = {"field": "text", "terms": ["spark", "join"], "top": 4}
    _, p1 = app.handle("POST", "/docs/bm25", body=body)
    _, full = app.handle("POST", "/docs/bm25", body={**body, "top": 8})
    assert p1 == full[:4]
    cur = [p1[-1][1], p1[-1][0]]  # [score_e4, doc_id]
    status, p2 = app.handle("POST", "/docs/bm25", body={**body, "after": cur})
    assert status == 200 and p2 == full[4:8]
    # cursor validation: wrong shape / wrong mode must 400
    for bad in ({"after": "x"}, {"after": [1]}, {"after": [1, 2], "mode": "and"}):
        status, _ = app.handle("POST", "/docs/bm25", body={**body, **bad})
        assert status == 400


def test_bm25_route_top_validation(app):
    base = {"field": "text", "terms": ["spark"]}
    for bad in (-1, 0, 10**10, "5", True, None):
        status, _ = app.handle(
            "POST", "/docs/bm25", body={**base, "top": bad}
        )
        assert status == 400, bad
    status, _ = app.handle(
        "POST", "/docs/bm25_batch",
        body={"field": "text", "queries": {"q": ["spark"]}, "top": -2},
    )
    assert status == 400


def test_bm25_route_cursor_excludes_filter_and_weights(app):
    # silently serving page 1 again would loop a paginating client
    base = {"field": "text", "terms": ["spark"], "after": [100, 5]}
    status, _ = app.handle(
        "POST", "/docs/bm25", body={**base, "filter": {"lang": "de"}}
    )
    assert status == 400
    status, _ = app.handle(
        "POST", "/docs/bm25", body={**base, "weights": {"text": 1}}
    )
    assert status == 400


def test_bm25_route_collapse(app, spark, tmp_root):
    """mode=collapse equals the direct bm25_collapse_topk call and
    honors the per-group cap."""
    from collections import Counter

    from veloci_spark.bm25 import bm25_collapse_topk
    from veloci_spark.index import Index

    idx = Index(spark, os.path.join(tmp_root, "server_idx"))
    body = {
        "field": "text",
        "terms": ["spark", "join"],
        "top": 5,
        "mode": "collapse",
        "group_col": "lang",
        "per_group": 1,
    }
    status, res = app.handle("POST", "/docs/bm25", body=body)
    assert status == 200
    want = [
        [int(r["doc_id"]), r["lang"], int(r["score_e4"]), int(r["grp_rank"])]
        for r in bm25_collapse_topk(
            idx, "text", body["terms"], 5, group_col="lang", per_group=1
        ).collect()
    ]
    assert res == want and len(res) > 0
    assert max(Counter(row[1] for row in res).values()) == 1


def test_bm25_route_collapse_rejections(app):
    base = {"field": "text", "terms": ["spark"], "mode": "collapse"}
    # unknown group column
    status, _ = app.handle(
        "POST", "/docs/bm25", body={**base, "group_col": "no_such_col"}
    )
    assert status == 400
    # per_group must be a positive non-bool int
    for bad in (0, -1, True, "2"):
        status, _ = app.handle(
            "POST", "/docs/bm25", body={**base, "per_group": bad}
        )
        assert status == 400
    # a cursor would be silently ignored — reject
    status, _ = app.handle(
        "POST", "/docs/bm25", body={**base, "after": [100, 5]}
    )
    assert status == 400


def test_mlt_route(app, spark, tmp_root):
    """POST /:db/mlt equals the direct bm25_mlt_topk call and never
    returns the source doc."""
    from veloci_spark.bm25 import bm25_mlt_topk
    from veloci_spark.index import Index

    idx = Index(spark, os.path.join(tmp_root, "server_idx"))
    body = {"field": "text", "doc_id": 42, "top": 5}
    status, res = app.handle("POST", "/docs/mlt", body=body)
    assert status == 200
    want = [
        [int(r["doc_id"]), int(r["score_e4"])]
        for r in bm25_mlt_topk(idx, "text", 42, 5).collect()
    ]
    assert res == want and len(res) > 0
    assert all(row[0] != 42 for row in res)


def test_mlt_route_rejections(app):
    # doc_id must be a non-bool integer
    for bad in (None, "42", True, 4.2):
        status, _ = app.handle(
            "POST", "/docs/mlt", body={"field": "text", "doc_id": bad}
        )
        assert status == 400
    # n_terms / min_occ must be positive non-bool ints
    for key in ("n_terms", "min_occ"):
        for bad in (0, True, "3"):
            status, _ = app.handle(
                "POST",
                "/docs/mlt",
                body={"field": "text", "doc_id": 1, key: bad},
            )
            assert status == 400


def test_search_route_histograms(app, spark, tmp_root):
    """POST /:db/search with histograms: buckets computed over the SAME
    hit set as the ranked response (aggs.histogram_over)."""
    body = {
        "search_req": {"search": {"terms": ["spark"], "path": "text"}},
        "top": 3,
        "histograms": [{"field": "n_chars", "width": 100}],
    }
    status, res = app.handle("POST", "/docs/search", body=body)
    assert status == 200
    hist = res["histograms"]["n_chars"]
    assert hist and all(len(row) == 3 for row in hist)
    # bucket counts partition the full hit set, not the top-k page
    assert sum(row[1] for row in hist) == res["num_hits"]
    buckets = [row[0] for row in hist]
    assert buckets == sorted(buckets)


def test_search_route_histogram_rejections(app):
    base = {
        "search_req": {"search": {"terms": ["spark"], "path": "text"}},
        "top": 3,
    }
    for bad in (
        {"histograms": {"field": "n_chars", "width": 100}},  # not a list
        {"histograms": [{"width": 100}]},                    # no field
        {"histograms": [{"field": "text", "width": 100}]},   # non-numeric
        {"histograms": [{"field": "no_col", "width": 100}]},  # unknown
        {"histograms": [{"field": "n_chars", "width": 0}]},  # bad width
        {"histograms": [{"field": "n_chars", "width": True}]},
    ):
        status, _ = app.handle("POST", "/docs/search", body={**base, **bad})
        assert status == 400


def test_prf_route(app, spark, tmp_root):
    """POST /:db/prf equals the direct bm25_prf_topk call."""
    from veloci_spark.bm25 import bm25_prf_topk
    from veloci_spark.index import Index

    idx = Index(spark, os.path.join(tmp_root, "server_idx"))
    body = {"field": "text", "terms": ["spark", "join"], "top": 5,
            "fb_docs": 3, "fb_terms": 2, "min_occ": 2}
    status, res = app.handle("POST", "/docs/prf", body=body)
    assert status == 200
    want = [
        [int(r["doc_id"]), int(r["score_e4"])]
        for r in bm25_prf_topk(
            idx, "text", ["spark", "join"], 5,
            fb_docs=3, fb_terms=2, min_occ=2,
        ).collect()
    ]
    assert res == want and len(res) > 0


def test_prf_route_rejections(app):
    status, _ = app.handle("POST", "/docs/prf", body={"terms": "spark"})
    assert status == 400
    for key in ("fb_docs", "fb_terms", "min_occ"):
        status, _ = app.handle(
            "POST", "/docs/prf",
            body={"field": "text", "terms": ["spark"], key: -1},
        )
        assert status == 400
        status, _ = app.handle(
            "POST", "/docs/prf",
            body={"field": "text", "terms": ["spark"], key: True},
        )
        assert status == 400


def test_regex_route(app, spark, tmp_root):
    """POST /:db/regex: trigram-planned grep equals a direct rlike scan;
    the docs index has no path column so hits are [doc_id] only."""
    from pyspark.sql import functions as F
    from veloci_spark.index import Index

    idx = Index(spark, os.path.join(tmp_root, "server_idx"))
    pattern = r"spark [a-z]+ join"
    status, res = app.handle(
        "POST", "/docs/regex", body={"field": "text", "pattern": pattern}
    )
    assert status == 200 and res["indexable"] is True
    want = [
        [int(r["doc_id"])]
        for r in idx.docstore()
        .where(F.col("text").rlike(pattern))
        .select("doc_id")
        .orderBy("doc_id")
        .collect()
    ]
    assert res["hits"] == want and len(want) > 0
    # top limits to the deterministic doc_id-ordered prefix
    status, res2 = app.handle(
        "POST", "/docs/regex",
        body={"field": "text", "pattern": pattern, "top": 2},
    )
    assert status == 200 and res2["hits"] == want[:2]


def test_regex_route_rejections(app):
    for body in (
        {"field": "text"},                           # no pattern
        {"field": "text", "pattern": ""},            # empty
        {"field": "text", "pattern": "("},           # parse error
        {"field": "nope", "pattern": "abc"},         # unknown field
        {"field": "text", "pattern": "abc", "top": 0},
    ):
        status, _ = app.handle("POST", "/docs/regex", body=body)
        assert status == 400


def test_regex_route_fallback_flagged(app):
    status, res = app.handle(
        "POST", "/docs/regex", body={"field": "text", "pattern": "(spark|qq)"}
    )
    assert status == 200 and res["indexable"] is False
    assert len(res["hits"]) > 0


def test_bm25_route_near_and_snippet(app, spark, tmp_root):
    """POST /:db/bm25 modes near/snippet equal the direct calls; junk
    slop/window values are 400s (incl. the bool-as-int trap)."""
    from veloci_spark.bm25 import bm25_near_topk, bm25_snippet_topk
    from veloci_spark.index import Index

    idx = Index(spark, os.path.join(tmp_root, "server_idx"))
    body = {"field": "text", "terms": ["spark", "join"], "top": 5}
    status, res = app.handle(
        "POST", "/docs/bm25", body={**body, "mode": "near", "slop": 3}
    )
    assert status == 200
    want = [
        [int(r["doc_id"]), int(r["score_e4"])]
        for r in bm25_near_topk(idx, "text", body["terms"], 5, slop=3).collect()
    ]
    assert res == want
    status, res = app.handle(
        "POST", "/docs/bm25", body={**body, "mode": "snippet", "window": 4}
    )
    assert status == 200
    want = [
        [int(r["doc_id"]), int(r["score_e4"]), int(r["n_matched"]), r["snippet"]]
        for r in bm25_snippet_topk(
            idx, "text", body["terms"], 5, window=4
        ).collect()
    ]
    assert res == want and all(isinstance(r[3], str) for r in res)
    # validation: negative slop, bool slop, dup/single terms, bad window
    for bad in (
        {**body, "mode": "near", "slop": -1},
        {**body, "mode": "near", "slop": True},
        {**body, "mode": "near", "terms": ["spark", "spark"]},
        {**body, "mode": "near", "terms": ["spark"]},
        {**body, "mode": "snippet", "window": 0},
        {**body, "mode": "snippet", "window": False},
    ):
        status, _ = app.handle("POST", "/docs/bm25", body=bad)
        assert status == 400, bad


def test_bm25_route_sigterms(app, spark, tmp_root):
    """POST /:db/bm25 mode sigterms equals the direct call; junk
    sample/min_fg values are 400s."""
    from veloci_spark.bm25 import bm25_sigterms
    from veloci_spark.index import Index

    idx = Index(spark, os.path.join(tmp_root, "server_idx"))
    body = {
        "field": "text", "terms": ["spark", "join"], "top": 5,
        "mode": "sigterms", "sample": 20, "min_fg": 2,
    }
    status, res = app.handle("POST", "/docs/bm25", body=body)
    assert status == 200
    want = [
        [r["term"], int(r["fg"]), int(r["bg"]), int(r["jlh_e4"])]
        for r in bm25_sigterms(
            idx, "text", body["terms"], k_sample=20, top_terms=5, min_fg=2
        ).collect()
    ]
    assert res == want and res
    for bad in (
        {**body, "sample": 0},
        {**body, "sample": True},
        {**body, "min_fg": -1},
    ):
        status, _ = app.handle("POST", "/docs/bm25", body=bad)
        assert status == 400, bad


def test_bm25_route_fuzzy(app, spark, tmp_root):
    """POST /:db/bm25 mode fuzzy equals the direct call; junk params 400."""
    from veloci_spark.bm25 import bm25_fuzzy_topk
    from veloci_spark.index import Index

    idx = Index(spark, os.path.join(tmp_root, "server_idx"))
    body = {
        "field": "text", "terms": ["sprk", "join"], "top": 5,
        "mode": "fuzzy", "max_dist": 1,
    }
    status, res = app.handle("POST", "/docs/bm25", body=body)
    assert status == 200
    want = [
        [int(r["doc_id"]), int(r["score_e4"])]
        for r in bm25_fuzzy_topk(
            idx, "text", body["terms"], 5, max_dist=1
        ).collect()
    ]
    assert res == want and res
    for bad in (
        {**body, "max_dist": -1},
        {**body, "max_dist": True},
        {**body, "prefix_len": -2},
    ):
        status, _ = app.handle("POST", "/docs/bm25", body=bad)
        assert status == 400, bad


def test_bm25_route_facets(app, spark, tmp_root):
    from veloci_spark.bm25 import bm25_facets
    from veloci_spark.index import Index

    idx = Index(spark, os.path.join(tmp_root, "server_idx"))
    body = {
        "field": "text", "terms": ["spark", "join"], "top": 3,
        "mode": "facets", "group_cols": ["lang"],
    }
    status, res = app.handle("POST", "/docs/bm25", body=body)
    assert status == 200
    want = [
        [r["col"], r["value"], int(r["n_docs"]), int(r["sum_score_e4"]),
         int(r["n_values"])]
        for r in bm25_facets(idx, "text", body["terms"], ["lang"], top_n=3).collect()
    ]
    assert res == want and res
    for bad in (
        {**body, "group_cols": []},
        {**body, "group_cols": "lang"},
        {**body, "group_cols": ["no_such"]},
    ):
        status, _ = app.handle("POST", "/docs/bm25", body=bad)
        assert status == 400, bad


_bm25_modes = st.sampled_from(
    ["or", "or-scan", "and", "or-wand", "and-wand", "phrase", "near",
     "snippet", "fuzzy", "sigterms", "facets", "explain", "collapse",
     "nope", ""]
)
_bm25_knob_values = st.one_of(
    st.integers(min_value=-3, max_value=30),
    st.booleans(),
    st.text(max_size=6),
    st.none(),
    st.lists(st.integers(), max_size=3),
)


@settings(max_examples=60, deadline=None)
@given(
    _bm25_modes,
    st.lists(st.sampled_from(["spark", "join", "sprk", "a", ""]), max_size=3),
    st.dictionaries(
        st.sampled_from(
            ["top", "slop", "in_order", "window", "max_dist", "prefix_len",
             "sample", "min_fg", "group_cols", "group_col", "per_group",
             "after", "filter", "weights"]
        ),
        _bm25_knob_values,
        max_size=4,
    ),
)
def test_bm25_route_fuzz_never_escapes(app, mode, terms, knobs):
    """POST /:db/bm25 across every mode with junk knob values always
    answers 200/400 — the per-mode validation (incl. the bool-as-int
    traps) never leaks an exception through handle()."""
    body = {"field": "text", "terms": terms, "mode": mode, **knobs}
    status, _res = app.handle("POST", "/docs/bm25", body=body)
    assert status in (200, 400), (mode, terms, knobs)
