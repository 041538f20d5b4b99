"""Frames built from driver rows: ``session.local_frame`` must give the
same rows and schema as ``createDataFrame(<rows>, schema)`` while
planning a ``LocalTableScan`` instead of a ``Scan ExistingRDD`` over a
PythonRDD (which costs a Python worker task per job that reads it)."""

from __future__ import annotations

import ast
import datetime as dt
from pathlib import Path

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from lucene_solr_spark.index.build import build_index
from lucene_solr_spark.query.executor import RESULT_SCHEMA, IndexSearcher
from lucene_solr_spark.query.model import BooleanSpec
from lucene_solr_spark.session import local_frame
from lucene_solr_spark.transcripts import transcripts_from_documents

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "lucene_solr_spark"

#: the serving paths whose driver-row frames go through local_frame
#: (registry.py and operators/ hold battery and pipeline code)
CONVERTED = [PKG / "query", PKG / "index", PKG / "streaming",
             PKG / "handler.py", PKG / "sql.py"]

_TS = dt.datetime(2024, 1, 2, 3, 4, 5, 678000)

#: (schema, rows) — the shapes the converted call sites build
CASES = [
    ("seg_id int", [(3,), (1,), (2,)]),
    ("conv_id string, turn_idx int", []),
    ("conv_id string, turn_idx int", [("c1", 0), ("c2", None)]),
    (RESULT_SCHEMA, [("c1", 2, 1.5), (None, 3, None)]),
    ("term string, df long, boost double, idf double",
     [("merge", 12, 1.0, 2.25), ('"a b"', 0, 2.0, 0.5)]),
    ("seg_id int, shard string, doc_base long",
     [(0, "seg-00000", 0), (1, "seg-00001", 1 << 40)]),
    ("lo timestamp, hi timestamp", [(_TS, _TS + dt.timedelta(days=1))]),
    ("conv_id string, turn_idx int, role string, text string, "
     "tool string, ts timestamp",
     [("c9", 1, "user", "hello", None, _TS)]),
    ("part string, stage_idx long, stage string, pos long, "
     "token string, match boolean",
     [("index", 0, "tokenizer", 0, "merge", True),
      ("query", 1, "stop", 2, "x", False)]),
    ("conv_id string, turn_idx int, snippets array<string>, "
     "ords array<long>",
     [("c1", 0, ["<em>a</em>", "b"], [1, 2]), ("c2", 1, [], None),
      ("c3", 2, None, [])]),
    ("k string, kids array<struct<a:int,b:string>>",
     [("x", [Row(a=1, b="u"), Row(a=None, b=None)])]),
]


@pytest.mark.parametrize("schema,rows", CASES)
def test_roundtrip_matches_create_dataframe(spark, schema, rows):
    old = spark.createDataFrame(rows, schema)
    new = local_frame(spark, rows, schema)
    assert new.schema == old.schema
    assert new.collect() == old.collect()


def test_roundtrip_struct_schema_from_collected_rows(spark):
    """The facet and /select sites re-frame collected rows under the
    source frame's own StructType (non-nullable fields included)."""
    schema = T.StructType([
        T.StructField("facet_value", T.StringType(), True),
        T.StructField("cnt", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), True),
    ])
    rows = spark.createDataFrame(
        [("a", 3, _TS), (None, 1, None)], schema).collect()
    new = local_frame(spark, rows, schema)
    assert new.schema == schema
    assert new.collect() == rows


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def searcher(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("lfidx"))
    t = transcripts_from_documents(spark, sf_dir)
    build_index(spark, t, root, num_parts=4, lineage_source=sf_dir)
    return IndexSearcher(spark, root)


def test_seg_driver_is_local_scan(searcher):
    plan = _plan(searcher.seg_driver())
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan


def test_unsatisfiable_mm_is_local_scan(searcher):
    hits = searcher.score_hits(
        BooleanSpec(should=("merge",), min_should_match=2))
    assert hits.collect() == []
    assert "ExistingRDD" not in _plan(hits)


def test_refined_facet_result_is_local_scan(searcher):
    out = searcher.facet(
        "role", spec=BooleanSpec(must=("merge",)), limit=5,
        method="refine")
    assert out.count() > 0
    plan = _plan(out)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan


def _create_dataframe_calls(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    return [
        f"{path.relative_to(REPO)}:{node.lineno}"
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    ]


def test_no_create_dataframe_on_serving_paths():
    """Frames built from driver rows go through local_frame; a
    ``createDataFrame(<list>)`` on these paths plans a PythonRDD scan."""
    files = []
    for p in CONVERTED:
        files += sorted(p.rglob("*.py")) if p.is_dir() else [p]
    assert files
    found = [c for f in files for c in _create_dataframe_calls(f)]
    assert found == [], f"use session.local_frame: {found}"
