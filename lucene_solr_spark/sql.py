"""/sql — the Parallel SQL handler over the index engine.

Solr's SQLHandler (``solr/core/src/java/org/apache/solr/handler/
SQLHandler.java``) accepts a SQL subset, plans it with Calcite and
compiles the plan to streaming expressions: search predicates push
into Lucene queries, GROUP BY aggregates ride the facet engine
("facet mode") or a map-reduce rollup, plain selects ride /select or
/export. This module is the Spark-first equivalent: one
recursive-descent parser over the same subset, compiled DIRECTLY to
the engine's bounded primitives —

- ``WHERE`` becomes ONE :class:`BooleanSpec` (text predicates →
  analyzed term/phrase queries, docvalues predicates → the fq mask
  family: filters / not_filters / in_filters / range_filters), so
  every mode shares the engine's term-pruned segment scan.
- ``GROUP BY field`` + aggregates ride :func:`facet_metrics` — the
  sparse per-segment pass with algebraic partial merge (Solr's facet
  mode; buckets are dict-bounded, so HAVING / ORDER BY / LIMIT apply
  on the bounded bucket frame).
- bare aggregates (no GROUP BY) are one partial-aggregating job over
  the DocSet domain; a lone ``COUNT(*)`` is the docset_count fast
  path (a driver popcount on a queryResultCache hit — zero jobs).
- plain ``SELECT`` with ``LIMIT`` is a distributed TakeOrdered off
  the pruned docmap columns (never a global sort); without LIMIT it
  is the /export contract — the engine's one sanctioned
  range-partitioned total sort.

Like Solr, malformed or unsupported SQL raises (the 400 analog) —
nothing silently degrades. The subset: single table, AND-conjunction
WHERE (with =, !=, <>, <, <=, >, >=, IN, and parenthesized OR groups
in the two BooleanSpec-exact shapes — see :func:`_parse_where`), one
GROUP BY field over the facetable docvalues columns, aggregates
COUNT(*) / COUNT(col) / COUNT(DISTINCT col) / SUM / AVG / MIN / MAX
with mandatory AS aliases, HAVING over the aliased aggregates,
ORDER BY one key (``score DESC`` + LIMIT plans the engine's ranked
BM25 top-k instead of a docvalues sort), LIMIT.

Deterministic order contract: every ORDER BY appends the engine's
pinned (conv_id, turn_idx) tiebreak (doclists) or the bucket value
(aggregates) so LIMIT boundaries are total-ordered cross-engine.
"""

from __future__ import annotations

import re
from dataclasses import replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lucene_solr_spark.analyzer import tokenize_one
from lucene_solr_spark.query.model import BooleanSpec
from lucene_solr_spark.session import local_frame

#: selectable / sortable docvalues columns (everything else is 400)
_DV_COLS = ("conv_id", "turn_idx", "role", "tool", "ftok", "ts", "doc_len")
_NUM_COLS = {"turn_idx", "doc_len"}
#: GROUP BY keys: the ord-indexed facet fields (facet-mode contract)
_GROUPABLE = {"role", "tool", "ftok"}
#: the indexed full-text field — predicates on it become QUERIES
_TEXT_FIELD = "text"

_AGG_KINDS = {"SUM": "sum", "AVG": "avg", "MIN": "min", "MAX": "max"}

_TOKEN_RE = re.compile(
    r"\s*(?:(?P<str>'(?:[^']|'')*')"
    r"|(?P<num>-?\d+(?:\.\d+)?)"
    r"|(?P<op><=|>=|<>|!=|=|<|>|\(|\)|,|\*)"
    r"|(?P<word>[A-Za-z_][A-Za-z_0-9.]*))"
)


def _tokenize(stmt: str) -> list[str]:
    toks, pos = [], 0
    s = stmt.strip().rstrip(";")
    while pos < len(s):
        m = _TOKEN_RE.match(s, pos)
        if not m or m.end() == pos:
            raise ValueError(f"SQL: cannot tokenize at {s[pos:pos+20]!r}")
        toks.append(m.group(0).strip())
        pos = m.end()
    return toks


class _P:
    """Tiny recursive-descent cursor; raises like Solr's 400s."""

    def __init__(self, toks: list[str]):
        self.toks, self.i = toks, 0

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> str:
        if self.i >= len(self.toks):
            raise ValueError("SQL: unexpected end of statement")
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, kw: str) -> None:
        t = self.next()
        if t.upper() != kw:
            raise ValueError(f"SQL: expected {kw}, got {t!r}")

    def accept(self, kw: str) -> bool:
        if self.peek() and self.peek().upper() == kw:
            self.i += 1
            return True
        return False


def _unq(tok: str) -> str:
    if not (tok.startswith("'") and tok.endswith("'")):
        raise ValueError(f"SQL: expected a quoted string, got {tok!r}")
    return tok[1:-1].replace("''", "'")


def _parse_where(p: _P) -> BooleanSpec:
    """AND-conjunction of predicates → ONE BooleanSpec. Text-field
    equality analyzes the literal (one token → TermQuery, several →
    exact PhraseQuery — the field-qparser contract); docvalues
    predicates ride the fq mask family.

    Parenthesized OR groups join the conjunction in the two shapes the
    engine's one-BooleanSpec model expresses exactly (Calcite's plans
    normalize the same way before hitting Lucene):

    - ``(text = 'a' OR text = 'b')`` → SHOULD clauses with
      min_should_match=1 (MinShouldMatchSumScorer semantics — the OR
      disjuncts also SCORE, like Solr SQL's text disjunctions). At
      most ONE text OR group per statement: a second group's disjuncts
      would blur into the same SHOULD bucket and change semantics, so
      it raises instead.
    - ``(f = 'v1' OR f = 'v2')`` over ONE docvalues field → an
      in_filters entry (TermInSetQuery — exactly IN's mask).

    Anything else inside parens (mixed fields, nested AND, ranges)
    is outside the subset and raises."""
    spec = BooleanSpec(k=10)
    while True:
        if p.peek() == "(":
            p.next()
            spec = _parse_or_group(p, spec)
            if not p.accept("AND"):
                break
            continue
        field = p.next()
        if field.upper() in ("GROUP", "HAVING", "ORDER", "LIMIT"):
            raise ValueError("SQL: empty WHERE predicate")
        op = p.next().upper()
        if field == _TEXT_FIELD:
            if op != "=":
                raise ValueError(
                    f"SQL: text predicates support only '=', got {op}")
            toks = tokenize_one(_unq(p.next()))
            if not toks:
                raise ValueError("SQL: text predicate analyzes to nothing")
            if len(toks) == 1:
                spec = replace(spec, must=spec.must + (toks[0],))
            else:
                spec = replace(
                    spec,
                    must=spec.must + tuple(toks),
                    phrases=spec.phrases + (tuple(toks),),
                )
        elif op == "IN":
            p.expect("(")
            vals = []
            while True:
                vals.append(_unq(p.next()))
                t = p.next()
                if t == ")":
                    break
                if t != ",":
                    raise ValueError(f"SQL: bad IN list near {t!r}")
            _check_dv(field)
            spec = replace(
                spec, in_filters=spec.in_filters + ((field, tuple(vals)),))
        else:
            _check_dv(field)
            raw = p.next()
            val = _unq(raw) if raw.startswith("'") else raw
            if op == "=":
                spec = replace(spec, filters=spec.filters + ((field, val),))
            elif op in ("!=", "<>"):
                spec = replace(
                    spec, not_filters=spec.not_filters + ((field, val),))
            else:
                lo, hi = _range_bound(field, op, val)
                spec = replace(
                    spec,
                    range_filters=spec.range_filters + ((field, lo, hi),),
                )
        if not p.accept("AND"):
            break
    return spec


def _parse_or_group(p: _P, spec: BooleanSpec) -> BooleanSpec:
    """Parse ``( pred OR pred ... )`` after the opening paren (see
    _parse_where for the two pinned shapes)."""
    disjuncts: list[tuple[str, str]] = []  # (field, value)
    while True:
        field = p.next()
        op = p.next().upper()
        if op != "=":
            raise ValueError(
                f"SQL: OR-group predicates support only '=', got {op}")
        disjuncts.append((field, _unq(p.next())))
        t = p.next()
        if t == ")":
            break
        if t.upper() != "OR":
            raise ValueError(
                f"SQL: parenthesized groups are OR-only, got {t!r}")
    fields = {f for f, _ in disjuncts}
    if fields == {_TEXT_FIELD}:
        if spec.should:
            raise ValueError(
                "SQL: at most one text OR group per statement (a "
                "second group would share the SHOULD bucket and "
                "change semantics)")
        toks: list[str] = []
        for _, val in disjuncts:
            vt = tokenize_one(val)
            if len(vt) != 1:
                raise ValueError(
                    "SQL: text OR disjuncts must each analyze to one "
                    f"term, got {val!r}")
            toks.append(vt[0])
        return replace(
            spec, should=spec.should + tuple(toks), min_should_match=1)
    if len(fields) == 1:
        (field,) = fields
        _check_dv(field)
        return replace(
            spec,
            in_filters=spec.in_filters
            + ((field, tuple(v for _, v in disjuncts)),),
        )
    raise ValueError(
        f"SQL: an OR group must stay on one field, got {sorted(fields)}")


def _check_dv(field: str) -> None:
    if field not in _DV_COLS:
        raise ValueError(
            f"SQL: unknown column {field!r} (docvalues: {_DV_COLS}, "
            f"text search: {_TEXT_FIELD} = '...')")


def _range_bound(field: str, op: str, val: str):
    """Comparison → the engine's INCLUSIVE range_filters bounds.
    Integer columns adjust strict bounds by ±1; other types accept
    only the inclusive operators (Solr SQL's Calcite plans do the
    same normalization for point types)."""
    if op in ("<", ">") and field not in _NUM_COLS:
        raise ValueError(
            f"SQL: strict {op} needs an integer column, got {field!r} "
            f"(use {op}= )")
    if field in _NUM_COLS:
        n = int(val)
        if op == "<":
            return (None, str(n - 1))
        if op == "<=":
            return (None, str(n))
        if op == ">":
            return (str(n + 1), None)
        return (str(n), None)
    return (None, val) if op == "<=" else (val, None)


def parse_sql(stmt: str) -> dict:
    """Parse the SQL subset → a plan dict. Raises ValueError on
    anything outside the subset (Solr's SQLHandler 400 contract)."""
    p = _P(_tokenize(stmt))
    p.expect("SELECT")
    items: list[tuple] = []  # ("col", name) | ("agg", kind, col, alias)
    while True:
        t = p.next()
        up = t.upper()
        if up in ("COUNT", "SUM", "AVG", "MIN", "MAX"):
            p.expect("(")
            arg = p.next()
            distinct = False
            if arg.upper() == "DISTINCT":
                distinct = True
                arg = p.next()
            p.expect(")")
            if up == "COUNT":
                if arg == "*":
                    if distinct:
                        raise ValueError("SQL: COUNT(DISTINCT *)")
                    kind, col = "count", "*"
                else:
                    _check_dv(arg)
                    kind, col = ("unique" if distinct else "countvals"), arg
            else:
                if distinct:
                    raise ValueError(f"SQL: DISTINCT inside {up}")
                if arg not in _NUM_COLS:
                    raise ValueError(
                        f"SQL: {up} needs a numeric column, got {arg!r}")
                kind, col = _AGG_KINDS[up], arg
            if not p.accept("AS"):
                raise ValueError(
                    f"SQL: aggregate {up}({arg}) needs AS <alias> — the "
                    "engine names output columns explicitly")
            items.append(("agg", kind, col, p.next()))
        else:
            if t != "score":  # score: ranked-mode pseudo-column
                _check_dv(t)
            name = t
            if p.accept("AS"):
                name_alias = p.next()
                if name_alias != name:
                    raise ValueError(
                        "SQL: plain columns keep their own name")
            items.append(("col", name))
        if not p.accept(","):
            break
    p.expect("FROM")
    table = p.next()
    spec = BooleanSpec(k=10)
    group_by = None
    having: list[tuple[str, str, float]] = []
    order_by = None
    limit = None
    if p.accept("WHERE"):
        spec = _parse_where(p)
    if p.accept("GROUP"):
        p.expect("BY")
        group_by = p.next()
        if group_by not in _GROUPABLE:
            raise ValueError(
                f"SQL: GROUP BY supports the facet fields "
                f"{sorted(_GROUPABLE)}, got {group_by!r}")
    if p.accept("HAVING"):
        if group_by is None:
            raise ValueError("SQL: HAVING needs GROUP BY")
        while True:
            col = p.next()
            op = p.next()
            if op not in ("=", "!=", "<>", "<", "<=", ">", ">="):
                raise ValueError(f"SQL: bad HAVING operator {op!r}")
            having.append((col, op, float(p.next())))
            if not p.accept("AND"):
                break
    if p.accept("ORDER"):
        p.expect("BY")
        key = p.next()
        desc = False
        if p.accept("DESC"):
            desc = True
        else:
            p.accept("ASC")
        order_by = (key, desc)
    if p.accept("LIMIT"):
        limit = int(p.next())
        if limit < 1:
            raise ValueError("SQL: LIMIT must be >= 1")
    if p.peek() is not None:
        raise ValueError(f"SQL: trailing tokens at {p.peek()!r}")
    aggs = [it for it in items if it[0] == "agg"]
    cols = [it[1] for it in items if it[0] == "col"]
    if group_by is not None:
        if not aggs:
            raise ValueError("SQL: GROUP BY needs at least one aggregate")
        if cols != [group_by]:
            raise ValueError(
                "SQL: GROUP BY selects the group key plus aggregates")
    elif aggs and cols:
        raise ValueError("SQL: aggregates without GROUP BY cannot mix "
                         "with plain columns")
    elif not aggs and not cols:
        raise ValueError("SQL: empty select list")
    if having and group_by is None:
        raise ValueError("SQL: HAVING needs GROUP BY")
    return {
        "items": items, "aggs": aggs, "cols": cols, "table": table,
        "spec": spec, "group_by": group_by, "having": having,
        "order_by": order_by, "limit": limit,
    }


_CMP = {
    "=": lambda c, v: c == v,
    "!=": lambda c, v: c != v,
    "<>": lambda c, v: c != v,
    "<": lambda c, v: c < v,
    "<=": lambda c, v: c <= v,
    ">": lambda c, v: c > v,
    ">=": lambda c, v: c >= v,
}


def sql_query(searcher, stmt: str) -> DataFrame:
    """Execute a /sql statement against the index. Returns the result
    DataFrame (one row for bare aggregates). See the module docstring
    for the mode → engine-primitive mapping."""
    q = parse_sql(stmt)
    spec = q["spec"]

    if q["group_by"] is not None:
        # facet mode: the sparse per-segment metric pass; buckets are
        # dict-bounded so HAVING/ORDER/LIMIT run on the bucket frame
        from lucene_solr_spark.query.facets import facet_metrics

        kinds = tuple(
            (k, c) for _, k, c, _ in q["aggs"] if k != "count")
        if kinds:
            buckets = facet_metrics(
                searcher, q["group_by"],
                spec=spec if _nonempty(spec) else None,
                limit=1_000_000, aggs=kinds,
            )
        else:
            # COUNT(*)-only GROUP BY: the plain sparse facet pass
            buckets = searcher.facet(
                q["group_by"],
                spec=spec if _nonempty(spec) else None,
                limit=1_000_000,
            )
        sel = [F.col("facet_value").alias(q["group_by"])]
        for _, k, c, alias in q["aggs"]:
            src = "cnt" if k == "count" else f"{k}_{c}"
            sel.append(F.col(src).alias(alias))
        out = buckets.select(*sel)
        for col, op, val in q["having"]:
            if col not in [a for _, _, _, a in q["aggs"]]:
                raise ValueError(f"SQL: HAVING on unselected {col!r}")
            out = out.filter(_CMP[op](F.col(col), F.lit(val)))
        key, desc = q["order_by"] or (q["aggs"][0][3], True)
        if key not in out.columns:
            raise ValueError(f"SQL: ORDER BY unselected column {key!r}")
        order = [F.desc(key) if desc else F.asc(key),
                 F.asc(q["group_by"])]
        out = out.orderBy(*order)
        return out.limit(q["limit"]) if q["limit"] else out

    if q["aggs"]:
        # bare aggregates: one partial-aggregating job over the
        # DocSet domain; a lone COUNT(*) is the docset_count fast path
        if len(q["aggs"]) == 1 and q["aggs"][0][1] == "count":
            alias = q["aggs"][0][3]
            n = (searcher.docset_count(spec) if _nonempty(spec)
                 else searcher.docmap().count())
            return local_frame(
                searcher.spark,
                [(n,)], f"{alias} long")
        need = sorted({c for _, k, c, _ in q["aggs"] if k != "count"})
        dm = searcher.docmap().select("conv_id", "turn_idx", *need)
        dom = (dm.join(searcher.docset(spec), ["conv_id", "turn_idx"])
               if _nonempty(spec) else dm)
        exprs = []
        for _, k, c, alias in q["aggs"]:
            e = {
                "count": lambda c: F.count(F.lit(1)),
                "countvals": F.count,
                "unique": F.countDistinct,
                "sum": F.sum,
                "avg": F.avg,
                "min": F.min,
                "max": F.max,
            }[k](c)
            # int columns: SUM/MIN/MAX stay integral (cast long, the
            # pinned int32-product rule); AVG rounds 4dp
            e = F.round(e, 4) if k == "avg" else e.cast("long")
            exprs.append(e.alias(alias))
        return dom.agg(*exprs)

    # plain SELECT: DocSet keys joined to the PRUNED docvalues
    # columns; LIMIT → distributed TakeOrdered, no LIMIT → the
    # /export full-sort contract (ORDER BY required either way so
    # the stream order is defined)
    if q["order_by"] is None:
        raise ValueError("SQL: plain SELECT needs ORDER BY (the "
                         "/export sorted-stream contract)")
    key, desc = q["order_by"]
    if key == "score":
        # ranked mode — Solr SQL's ``ORDER BY score DESC`` plans a
        # ranked Lucene query instead of an /export sort; here it is
        # the engine's BM25 top-k (per-segment heaps + TakeOrdered,
        # never a global sort). ref: solr/core/src/java/org/apache/
        # solr/handler/sql/SolrTableScan → limit-pushed ranked search.
        if not desc:
            raise ValueError("SQL: ORDER BY score supports DESC only")
        if not (spec.must or spec.should or spec.phrases):
            raise ValueError("SQL: ORDER BY score needs a scoring "
                             "text predicate")
        if q["limit"] is None:
            raise ValueError("SQL: ORDER BY score needs LIMIT "
                             "(the ranked top-k contract)")
        hits = searcher.search(replace(spec, k=q["limit"]), round_to=4)
        extra = [c for c in q["cols"]
                 if c not in ("conv_id", "turn_idx", "score")]
        if extra:
            # page-bounded hydration: ≤ LIMIT keys broadcast against
            # the pruned docvalues columns (the /select fl contract)
            vals = (
                searcher.docmap()
                .select("conv_id", "turn_idx", *extra)
                .join(F.broadcast(hits.select("conv_id", "turn_idx")),
                      ["conv_id", "turn_idx"])
            )
            hits = hits.join(F.broadcast(vals),
                             ["conv_id", "turn_idx"], "left")
        return (
            hits.orderBy(F.desc("score"), F.asc("conv_id"),
                         F.asc("turn_idx"))
            .select(*q["cols"])
        )
    if "score" in q["cols"]:
        raise ValueError("SQL: the score column requires "
                         "ORDER BY score DESC")
    _check_dv(key)
    need = list(dict.fromkeys(
        q["cols"] + [key, "conv_id", "turn_idx"]))
    dm_cols = [c for c in need if c not in ("conv_id", "turn_idx")]
    dm = searcher.docmap().select("conv_id", "turn_idx", *dm_cols)
    out = (dm.join(searcher.docset(spec), ["conv_id", "turn_idx"])
           if _nonempty(spec) else dm)
    order = [F.desc(key) if desc else F.asc(key),
             F.asc("conv_id"), F.asc("turn_idx")]
    out = out.orderBy(*order).select(*q["cols"])
    return out.limit(q["limit"]) if q["limit"] else out


def _nonempty(spec: BooleanSpec) -> bool:
    return spec != BooleanSpec(k=spec.k)
