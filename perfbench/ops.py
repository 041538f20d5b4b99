"""Calls into the engine, one function per request kind, each wrapped
in spans named after the module and function it times. Every function
returns plain rows the checks in :mod:`perfbench.check` compare.

In a traced run, calls that the engine would make implicitly get their
own span first (the idf probe before a search, the query parser before
a /select), so their time and Spark jobs are not folded into the next
span; their results are cached by the engine, so the work is the same.
"""

from __future__ import annotations

from lucene_solr_spark.query.model import BooleanSpec

from perfbench.oracle import spec_of


def bm25(tr, searcher, req: dict, rid: str) -> list:
    spec = spec_of(req["spec"])
    with tr.span("request.bm25", request=rid, req=req["id"]) as sp:
        if tr.enabled:
            with tr.span("query.executor.global_df"):
                searcher.global_df(list(spec.lookup_terms))
        with tr.span("query.executor.plan"):
            df = searcher.search(spec, round_to=4)
        with tr.span("query.executor.collect"):
            rows = df.collect()
        if sp is not None:
            sp.attrs["rows"] = len(rows)
    return [(r.conv_id, r.turn_idx, r.score) for r in rows]


def facet(tr, searcher, req: dict, rid: str) -> list:
    spec = BooleanSpec(must=tuple(req["terms"])) if req["terms"] else None
    with tr.span("request.facet", request=rid, req=req["id"]):
        with tr.span("query.facets.plan"):
            df = searcher.facet(req["field"], spec=spec, limit=req["limit"])
        with tr.span("query.facets.collect"):
            rows = df.collect()
    return [(r.facet_value, r.cnt) for r in rows]


def _parse_ahead(tr, params: dict) -> None:
    if not tr.enabled:
        return
    from lucene_solr_spark.handler import parse_select_params
    from lucene_solr_spark.query.parser import parse

    with tr.span("query.parser.parse"):
        parse(params["q"], default_op=params.get("q.op", "OR"))
    with tr.span("handler.parse_select_params"):
        parse_select_params(params)


def select(tr, searcher, req: dict, rid: str) -> dict:
    """/select: the page, numFound, the facet.field leg and the
    json.facet leg."""
    from lucene_solr_spark.handler import select as solr_select

    params = req["params"]
    with tr.span("request.select", request=rid, req=req["id"]):
        _parse_ahead(tr, params)
        with tr.span("handler.select_plan"):
            out = solr_select(searcher, params)
        with tr.span("handler.select_collect"):
            page = out["response"].collect()
            facet_rows = out["facet_counts"][params["facet.field"]].collect()
            jf_rows = out["facets"]["by_role"].collect()
            num = int(out["numFound"])
    return {
        "numFound": num,
        "page": [(r.conv_id, r.turn_idx, r.score) for r in page],
        "facet": [(r.facet_value, r.cnt) for r in facet_rows],
        "json_facet": [
            (r.facet_value, r.cnt, float(r.sum_doc_len), float(r.avg_doc_len))
            for r in jf_rows
        ],
    }


RUNNERS = {"bm25": bm25, "facet": facet, "select": select}
