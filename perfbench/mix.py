"""Requests, drawn from the generated corpus.

Every BM25 request takes its terms from a real document of the corpus,
in the document-frequency band it is named for, so it matches at least
that document. The oracle's hit count is kept with each request; a
request that matches nothing is refused unless it is named as an empty
case (``expect_empty``), so a pool whose terms miss the corpus — the
``bench.py`` defect — cannot pass unseen.

The serve pool depends only on the corpus (its seed fixes the pool) so
its oracle answers can be cached; the run seed orders the requests.
"""

from __future__ import annotations

import random

from perfbench.oracle import Oracle, spec_of

SHAPES = ("term", "and", "or_mm", "not", "phrase", "sloppy", "span_near",
          "pf", "filtered")
BANDS = ("head", "mid", "tail")
K = 10


class EmptyRequest(RuntimeError):
    """A request that matches no document and is not named as empty."""


def sample_docs(con, n: int, seed: int, table: str = "corpus") -> list[dict]:
    rows = con.execute(
        f"SELECT conv_id, turn_idx, role, tool, toks FROM {table} "
        f"USING SAMPLE reservoir({int(n)} ROWS) REPEATABLE ({int(seed)}) "
        "ORDER BY conv_id, turn_idx"
    ).fetchall()
    return [dict(zip(("conv_id", "turn_idx", "role", "tool", "toks"), r)) for r in rows]


def shape_spec(shape: str, band: set[str], head: list[str], doc: dict,
               rng: random.Random) -> dict | None:
    """BooleanSpec (JSON form) of ``shape`` whose terms come from
    ``doc`` and lie in ``band``; None when the doc has too few."""
    toks = doc["toks"]
    pos = [i for i, t in enumerate(toks) if t in band]
    uniq = sorted({toks[i] for i in pos})
    if not pos:
        return None
    i = rng.choice(pos)
    a = toks[i]
    nxt = toks[i + 1] if i + 1 < len(toks) else None
    gap2 = toks[i + 2] if i + 2 < len(toks) else None
    if shape == "term":
        return {"must": [a], "k": K}
    if shape == "and":
        return {"must": rng.sample(uniq, 2), "k": K} if len(uniq) >= 2 else None
    if shape == "or_mm":
        if len(uniq) < 3:
            return None
        return {"should": rng.sample(uniq, 3), "min_should_match": 2, "k": K}
    if shape == "not":
        absent = [h for h in head if h not in toks]
        return {"must": [a], "must_not": [rng.choice(absent)], "k": K} if absent else None
    if shape == "phrase":
        return {"phrases": [[a, nxt]], "k": K} if nxt else None
    if shape == "sloppy":
        return {"phrases": [[a, gap2]], "phrase_slop": 1, "k": K} if gap2 else None
    if shape == "span_near":
        return {"span_near": [[a, gap2]], "span_slop": 2, "k": K} if gap2 else None
    if shape == "pf":
        if not nxt or nxt == a:
            return None
        return {"should": [a, nxt], "min_should_match": 1,
                "pf_phrases": [[a, nxt]], "pf_boost": 2.0, "k": K}
    if shape == "filtered":
        if doc["tool"] is not None and rng.random() < 0.5:
            return {"must": [a], "filters": [["tool", doc["tool"]]], "k": K}
        return {"must": [a], "filters": [["role", doc["role"]]], "k": K}
    raise ValueError(shape)


def draw_bm25(oracle: Oracle, docs: list[dict], bands: dict[str, set[str]],
              shape: str, band: str, rng: random.Random) -> dict:
    """One BM25 request of ``shape`` in ``band`` with at least one hit."""
    head = sorted(bands["head"])
    for _ in range(200):
        spec = shape_spec(shape, bands[band], head, rng.choice(docs), rng)
        if spec is None:
            continue
        ans = oracle.bm25(spec_of(spec))
        if ans["hits"]:
            return {"id": f"bm25.{shape}.{band}", "kind": "bm25",
                    "shape": shape, "band": band, "spec": spec,
                    "hits": ans["hits"]}
    raise EmptyRequest(f"no {shape}/{band} request with hits in 200 draws")


def require_hits(req: dict) -> None:
    if req.get("hits", 0) == 0 and not req.get("expect_empty"):
        raise EmptyRequest(f"{req['id']} matches nothing")


#: the serve pool's BM25 requests: every shape, each df band 3-4 times
SERVE_BM25 = (("term", "head"), ("term", "tail"), ("and", "mid"),
              ("or_mm", "head"), ("not", "tail"), ("phrase", "mid"),
              ("sloppy", "head"), ("span_near", "tail"), ("pf", "mid"),
              ("filtered", "head"))
#: /select json.facet leg: role buckets with doc_len metrics
JSON_FACET = ('{"by_role": {"type": "terms", "field": "role", "limit": 5,'
              ' "facet": {"sum_doc_len": "sum(doc_len)",'
              ' "avg_doc_len": "avg(doc_len)"}}}')


def serve_pool(oracle: Oracle, con, bands: dict[str, set[str]], seed: int) -> list[dict]:
    """The fixed set of distinct serve requests for one corpus: 10 BM25,
    3 facet and 1 /select (70/20/10 within rounding)."""
    rng = random.Random(seed)
    docs = sample_docs(con, 400, seed)
    pool = [draw_bm25(oracle, docs, bands, s, b, rng) for s, b in SERVE_BM25]
    head = sorted(bands["head"])
    mid = sorted(bands["mid"])
    h1, h2 = rng.sample(head, 2)
    m1 = rng.choice(mid)
    for field, terms in (("role", [h1]), ("ftok", [m1]), ("tool", [])):
        dom = "matchall" if not terms else "query"
        pool.append({"id": f"facet.{field}.{dom}", "kind": "facet",
                     "field": field, "terms": terms, "limit": K})
    pool.append({
        "id": "select.and.facets", "kind": "select", "terms": [h1, h2],
        "params": {"q": f"{h1} {h2}", "q.op": "AND", "start": 5, "rows": 10,
                   "facet.field": "tool", "facet.limit": 5,
                   "json.facet": JSON_FACET},
    })
    for req in pool:
        req.update(expected(oracle, req))
        require_hits(req)
    return pool


def expected(oracle: Oracle, req: dict) -> dict:
    """The oracle's answer for one request (and its hit count)."""
    kind = req["kind"]
    if kind == "bm25":
        ans = oracle.bm25(spec_of(req["spec"]))
        return {"expected": ans["rows"], "hits": ans["hits"]}
    if kind == "facet":
        rows = oracle.facet(req["field"], req["terms"], req["limit"])
        return {"expected": rows, "hits": sum(r[1] for r in rows)}
    p = req["params"]
    start = int(p.get("start", 0))
    ans = oracle.bm25(spec_of({"must": req["terms"], "k": start + int(p["rows"])}))
    return {"expected": {
        "numFound": ans["hits"],
        "page": ans["rows"][start:],
        "facet": oracle.facet(p["facet.field"], req["terms"], int(p["facet.limit"])),
        "json_facet": oracle.doc_len_buckets("role", req["terms"], 5),
    }, "hits": ans["hits"]}


def decks(pool: list[dict], seed: int):
    """The serve request sequence: passes over the whole pool, each in
    a new seeded order. The client runs whole passes, so every run
    sends the same mix of requests."""
    rng = random.Random(seed)
    while True:
        deck = list(pool)
        rng.shuffle(deck)
        yield deck
