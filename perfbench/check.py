"""Answer checks: the engine's output against the oracle's expected
answer. Each function returns ``None`` when the answers agree and a
short description of the first difference otherwise.

BM25 answers compare doc keys in rank order and scores at the oracle's
4-decimal rounding; facet answers compare (value, count) buckets in
order; json.facet buckets add their metric columns.
"""

from __future__ import annotations

ROUND = 4


def _key(row) -> tuple[str, int]:
    return (str(row[0]), int(row[1]))


def ranked(got: list, expected: list) -> str | None:
    """``got``/``expected``: rows of (conv_id, turn_idx, score)."""
    if len(got) != len(expected):
        return f"{len(got)} rows, expected {len(expected)}"
    for i, (g, e) in enumerate(zip(got, expected)):
        if _key(g) != _key(e):
            return f"rank {i}: doc {_key(g)}, expected {_key(e)}"
        if round(float(g[2]), ROUND) != round(float(e[2]), ROUND):
            return f"rank {i}: score {g[2]}, expected {e[2]}"
    return None


def buckets(got: list, expected: list) -> str | None:
    """Facet buckets: rows of (value, count, *metrics), in order.
    Float metrics compare at 4 decimals."""
    if len(got) != len(expected):
        return f"{len(got)} buckets, expected {len(expected)}"
    for i, (g, e) in enumerate(zip(got, expected)):
        if len(g) != len(e):
            return f"bucket {i}: {len(g)} columns, expected {len(e)}"
        for a, b in zip(g, e):
            if isinstance(b, float) or isinstance(a, float):
                same = round(float(a), ROUND) == round(float(b), ROUND)
            else:
                same = a == b
            if not same:
                return f"bucket {i}: {tuple(g)}, expected {tuple(e)}"
    return None


def select(got: dict, expected: dict) -> str | None:
    """A /select answer: the page, numFound, the facet.field leg and
    the json.facet leg."""
    if got["numFound"] != expected["numFound"]:
        return f"numFound {got['numFound']}, expected {expected['numFound']}"
    bad = ranked(got["page"], expected["page"])
    if bad:
        return "page: " + bad
    bad = buckets(got["facet"], expected["facet"])
    if bad:
        return "facet: " + bad
    bad = buckets(got["json_facet"], expected["json_facet"])
    return "json.facet: " + bad if bad else None


def absent(got: list, deleted: set) -> str | None:
    """Deleted keys must not come back."""
    back = [_key(r) for r in got if _key(r) in deleted]
    return f"deleted docs returned: {back}" if back else None
