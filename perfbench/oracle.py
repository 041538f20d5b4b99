"""Expected answers from DuckDB.

BM25 answers come from the repository's own oracle,
:func:`lucene_solr_spark.query.oracle.bm25_oracle_sql`, with its
``transcripts`` CTE pointed at the generated Parquet and its analyzer
spelling pre-computed once per corpus (the ``toks`` column of
:func:`perfbench.corpus.duck`). Facet answers are DuckDB group-bys over
the same documents. Tombstoned keys leave the hit list and the facet
counts but, as in the engine, stay in N and df.

Answers are memoised per (document set, tombstones, SQL); the serve
pool stores its answers with its requests.
"""

from __future__ import annotations

from lucene_solr_spark.query.model import BooleanSpec


def spec_of(d: dict) -> BooleanSpec:
    """BooleanSpec from its JSON form (lists back to tuples)."""

    def tup(v):
        return tuple(tup(x) for x in v) if isinstance(v, list) else v

    return BooleanSpec(**{k: tup(v) for k, v in d.items()})


def _sql_list(terms) -> str:
    return ", ".join("'" + t.replace("'", "''") + "'" for t in terms)


class Oracle:
    def __init__(self, con):
        self.con = con
        #: names the document set ``corpus`` currently holds; part of
        #: every answer's key (ingest grows the corpus each cycle)
        self.scope = ""
        self._memo: dict = {}
        self._deleted: frozenset = frozenset()
        con.execute("CREATE TABLE deleted (conv_id VARCHAR, turn_idx INTEGER)")

    # -- plumbing -------------------------------------------------------
    def set_deleted(self, keys) -> None:
        keys = frozenset((str(c), int(t)) for c, t in keys)
        if keys == self._deleted:
            return
        self.con.execute("DELETE FROM deleted")
        if keys:
            self.con.executemany("INSERT INTO deleted VALUES (?, ?)", sorted(keys))
        self._deleted = keys

    def _run(self, sql: str):
        key = (self.scope, self._deleted, sql)
        if key not in self._memo:
            self._memo[key] = [list(r) for r in self.con.execute(sql).fetchall()]
        return self._memo[key]

    # -- answers --------------------------------------------------------
    def bm25(self, spec: BooleanSpec) -> dict:
        """Top-k rows (conv_id, turn_idx, 4-dp score) and the total hit
        count, tombstones excluded."""
        from lucene_solr_spark.query.oracle import bm25_oracle_sql
        from lucene_solr_spark.transcripts import TRANSCRIPTS_ORACLE_CTE

        sql = bm25_oracle_sql(spec, toks_sql="toks").replace(
            TRANSCRIPTS_ORACLE_CTE, "transcripts AS (SELECT * FROM corpus)"
        )
        body, limit = sql.rstrip().rsplit("LIMIT", 1)
        if int(limit) != spec.k:
            raise ValueError(f"unexpected oracle SQL tail: LIMIT {limit}")
        sql = (
            f"SELECT o.*, count(*) OVER () AS hits FROM ({body}) o "
            "WHERE NOT EXISTS (SELECT 1 FROM deleted d WHERE "
            "d.conv_id = o.conv_id AND d.turn_idx = o.turn_idx) "
            f"ORDER BY o.score DESC, o.conv_id, o.turn_idx LIMIT {spec.k}"
        )
        rows = self._run(sql)
        hits = int(rows[0][3]) if rows else 0
        return {"rows": [r[:3] for r in rows], "hits": hits}

    def _domain(self, terms) -> str:
        live = (
            "NOT EXISTS (SELECT 1 FROM deleted d WHERE d.conv_id = "
            "corpus.conv_id AND d.turn_idx = corpus.turn_idx)"
        )
        if not terms:
            return live
        return f"list_has_all(toks, [{_sql_list(terms)}]) AND {live}"

    @staticmethod
    def _value_expr(field: str) -> str:
        return "toks[1]" if field == "ftok" else field

    def facet(self, field: str, terms, limit: int) -> list:
        """Top ``limit`` (value, count) over the docs holding every term
        in ``terms`` (all docs when empty), nulls excluded."""
        v = self._value_expr(field)
        return self._run(
            f"SELECT {v} AS value, count(*) AS cnt FROM corpus "
            f"WHERE {self._domain(terms)} AND {v} IS NOT NULL "
            f"GROUP BY 1 ORDER BY cnt DESC, value LIMIT {int(limit)}"
        )

    def doc_len_buckets(self, field: str, terms, limit: int) -> list:
        """(value, count, sum(doc_len), avg(doc_len)) buckets — the
        json.facet terms leg with doc_len metrics."""
        v = self._value_expr(field)
        return self._run(
            f"SELECT {v} AS value, count(*) AS cnt, "
            "CAST(sum(len(toks)) AS DOUBLE), round(avg(len(toks)), 4) "
            f"FROM corpus WHERE {self._domain(terms)} AND {v} IS NOT NULL "
            f"GROUP BY 1 ORDER BY cnt DESC, value LIMIT {int(limit)}"
        )
