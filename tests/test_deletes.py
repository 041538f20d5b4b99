"""deleteByQuery / liveDocs tombstones.

Pinned semantics (Lucene parity): deletes mask every read path
(search, docset, facets, docvalues) but do NOT change scoring stats
until the data is rewritten — surviving docs keep their exact
pre-delete scores. Tombstones survive merges (business keys need no
ord remap) and accumulate across deleteByQuery calls.
"""

from __future__ import annotations

import pytest

from lucene_solr_spark.index.build import build_index
from lucene_solr_spark.index.deletes import clear_tombstones, delete_by_query
from lucene_solr_spark.index.merge import merge_segments
from lucene_solr_spark.query.executor import IndexSearcher
from lucene_solr_spark.query.facets import FacetRequest, facet_field
from lucene_solr_spark.query.model import BooleanSpec
from lucene_solr_spark.transcripts import transcripts_from_documents

Q_MERGE = BooleanSpec(must=("merge",), k=1000)


@pytest.fixture()
def idx(spark, sf_dir, tmp_path):
    root = str(tmp_path / "idx")
    t = transcripts_from_documents(spark, sf_dir)
    build_index(spark, t, root, num_parts=3, lineage_source=sf_dir)
    return root


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_delete_masks_search_but_keeps_scores(spark, idx):
    before = IndexSearcher(spark, idx)
    pre = {(r.conv_id, r.turn_idx): r.score
           for r in before.search(Q_MERGE, round_to=4).collect()}
    assert pre

    # delete the 'merge' docs authored by users
    spec = BooleanSpec(must=("merge",), filters=(("role", "user"),))
    n = delete_by_query(spark, idx, spec)
    assert n > 0

    after = IndexSearcher(spark, idx)
    post = {(r.conv_id, r.turn_idx): r.score
            for r in after.search(Q_MERGE, round_to=4).collect()}
    assert post and set(post) < set(pre)
    # Lucene parity: stats unchanged → surviving scores are identical
    for k, v in post.items():
        assert v == pre[k]
    # the deleted docs are exactly the user-role merge docs
    deleted = set(pre) - set(post)
    assert len(deleted) == n
    assert after.docset(spec).count() == 0


def test_delete_masks_docset_facets_docvalues(spark, idx):
    n_all = IndexSearcher(spark, idx).docmap().count()
    spec = BooleanSpec(filters=(("role", "tool"),))  # filter-only spec
    n = delete_by_query(spark, idx, spec)
    s = IndexSearcher(spark, idx)
    # docvalues view shrinks by exactly n
    assert s.docmap().count() == n_all - n
    # facet over MatchAll domain: the deleted bucket vanishes
    counts = {
        r["facet_value"]: r["cnt"]
        for r in facet_field(s, FacetRequest("role", limit=10), spec=None).collect()
    }
    assert "tool" not in counts
    # pure-negative docset honors deletes too
    got = s.docset(BooleanSpec(must_not=("zzzznotaterm",)))
    assert got.count() == n_all - n


def test_deletes_accumulate_and_survive_merge(spark, idx):
    n1 = delete_by_query(spark, idx, BooleanSpec(filters=(("tool", "tool_7"),)))
    n2 = delete_by_query(spark, idx, BooleanSpec(filters=(("tool", "tool_6"),)))
    assert n2 > n1  # cumulative count
    hits_pre = _rows(IndexSearcher(spark, idx).search(Q_MERGE, round_to=4))

    merge_segments(spark, idx, merge_factor=8)
    s = IndexSearcher(spark, idx)
    assert len(s.deleted_keys) == n2  # tombstones carried through merge
    assert _rows(s.search(Q_MERGE, round_to=4)) == hits_pre

    clear_tombstones(idx)
    s2 = IndexSearcher(spark, idx)
    assert not s2.deleted_keys
    assert s2.docset(BooleanSpec(filters=(("tool", "tool_7"),))).count() > 0


def test_delete_is_atomic_snapshot(spark, idx):
    from lucene_solr_spark.index.manifest import Manifest

    sid = Manifest.load(idx).snapshot_id
    delete_by_query(spark, idx, BooleanSpec(must=("merge",)))
    m = Manifest.load(idx)
    assert m.snapshot_id == sid + 1
    assert m.lineage[-1]["op"] == "delete_by_query"
    assert m.tombstones["n"] > 0


# ---------------------------------------------------------------------------
# randomized duel: deleted index == brute oracle minus deleted keys
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def del_env(spark, sf_dir, tmp_path_factory):
    import pyspark.sql.functions as F

    root = str(tmp_path_factory.mktemp("delduel"))
    t = transcripts_from_documents(spark, sf_dir)
    build_index(spark, t, root, num_parts=4, lineage_source=sf_dir)
    delete_by_query(spark, root, BooleanSpec(filters=(("role", "tool"),)))
    s = IndexSearcher(spark, root)
    assert s.deleted_keys
    vocab = (
        s.postings().groupBy("term").agg(F.sum("df").alias("df"))
        .orderBy(F.desc("df"), "term").toPandas()
    )
    return s, t, vocab, s.deleted_keys


@pytest.mark.parametrize("seed", range(8))
def test_random_duel_with_deletes(del_env, seed):
    """Deleted-index search == brute full-corpus scoring with deleted
    keys dropped BEFORE the top-k cut (full-corpus stats, pinned
    tiebreak) — rank and float64-score identical."""
    import dataclasses

    import numpy as np

    from lucene_solr_spark.query import bm25_df
    from tests.test_random_duel import random_spec

    s, t, vocab, deleted = del_env
    rng = np.random.default_rng(10_000 + seed)
    spec = random_spec(rng, vocab)
    a = s.search(spec).toPandas()

    big = dataclasses.replace(spec, k=1_000_000)
    brute = bm25_df.search(t, big).toPandas()
    keep = ~brute.apply(lambda r: (r.conv_id, r.turn_idx) in deleted, axis=1) \
        if len(brute) else brute.index == brute.index
    brute = brute[keep].head(spec.k)

    assert list(zip(a.conv_id, a.turn_idx)) == list(
        zip(brute.conv_id, brute.turn_idx)
    ), spec
    assert np.allclose(a.score.to_numpy(), brute.score.to_numpy(), atol=1e-9), spec


def test_query_domain_facet_honors_deletes(spark, idx):
    """facet.field over a query domain (not just MatchAll) must count
    only live docs — duel vs a brute recount on the surviving corpus."""
    delete_by_query(spark, idx, BooleanSpec(filters=(("role", "user"),)))
    s = IndexSearcher(spark, idx)
    spec = BooleanSpec(must=("merge",))
    got = {
        r["facet_value"]: r["cnt"]
        for r in facet_field(s, FacetRequest("role", limit=10), spec=spec).collect()
    }
    assert "user" not in got
    hits = {(r.conv_id, r.turn_idx) for r in s.docset(spec).collect()}
    t = transcripts_from_documents(spark, "/root/testdata/sf0.001").collect()
    want: dict = {}
    for r in t:
        if (r.conv_id, r.turn_idx) in hits:
            want[r.role] = want.get(r.role, 0) + 1
    assert got == want


def test_tombstone_cap_refuses_without_committing(spark, idx):
    """VERDICT r2 item 8: a delete that would exceed the driver-mask
    cap raises BEFORE committing anything — snapshot id and tombstone
    set are untouched, and the clear message points at rebuild."""
    from lucene_solr_spark.index.manifest import Manifest

    before = Manifest.load(idx).snapshot_id
    with pytest.raises(ValueError, match="rebuild"):
        delete_by_query(
            spark, idx, BooleanSpec(filters=(("role", "assistant"),)),
            max_tombstones=1,
        )
    m = Manifest.load(idx)
    assert m.snapshot_id == before and m.tombstones is None
    # under the cap the same delete commits fine
    n = delete_by_query(
        spark, idx, BooleanSpec(filters=(("role", "assistant"),))
    )
    assert n > 1


def test_r4_read_paths_honor_tombstones(spark, idx):
    """Every round-4 docmap read path applies the liveDocs mask
    (pinned invariant in the working notes: any NEW docmap read site must): early_topk,
    relatedness (fg AND bg domains), uniqueBlock, blockChildren
    widening."""
    from lucene_solr_spark.query.facets import (
        facet_block_domain,
        facet_relatedness,
        facet_unique_block,
    )

    before = IndexSearcher(spark, idx)
    et_pre = [tuple(r)[:2] for r in before.early_topk(10).collect()]
    rel_pre = {r.facet_value: (r.fg_count, r.bg_count)
               for r in facet_relatedness(
                   before, "role", BooleanSpec(must=("merge",)), limit=20
               ).collect()}
    ub_pre = {r.facet_value: (r.cnt, r.unique_convs)
              for r in facet_unique_block(
                  before, "role", BooleanSpec(must=("merge",)), limit=20
              ).collect()}

    # delete the first early_topk doc's whole neighborhood: all turns
    # of user role (broad enough to hit every path's domain)
    delete_by_query(spark, idx, BooleanSpec(filters=(("role", "user"),)))
    after = IndexSearcher(spark, idx)

    et_post = after.early_topk(10, fields=("role",)).collect()
    assert len(et_post) == 10
    assert all(r.role != "user" for r in et_post)
    assert [tuple(r)[:2] for r in et_post] != et_pre

    rel_post = {r.facet_value: (r.fg_count, r.bg_count)
                for r in facet_relatedness(
                    after, "role", BooleanSpec(must=("merge",)), limit=20
                ).collect()}
    assert "user" not in rel_post  # bg domain masked too
    assert rel_post != rel_pre

    ub_post = {r.facet_value: (r.cnt, r.unique_convs)
               for r in facet_unique_block(
                   after, "role", BooleanSpec(must=("merge",)), limit=20
               ).collect()}
    assert "user" not in ub_post
    assert ub_pre["assistant"] == ub_post["assistant"]  # untouched bucket

    wide = facet_block_domain(
        after, "role", BooleanSpec(must=("merge",)), limit=20
    ).collect()
    assert all(r.facet_value != "user" for r in wide)


def _entry_points(s, spec):
    """Every segment_domain entry point over ``spec`` as sorted rows."""
    from lucene_solr_spark.query import facets as fc

    calls = {
        "docset": lambda: s.docset(spec),
        "docset_matchall": lambda: s.docset(None),
        "facet_field": lambda: s.facet("tool", spec=spec, limit=50),
        "facet_field_matchall": lambda: s.facet("tool", limit=50),
        "facet_metrics": lambda: fc.facet_metrics(
            s, "role", spec=spec,
            aggs=(("avg", "doc_len"), ("max", "doc_len"))),
        "facet_pivot": lambda: fc.facet_pivot(
            s, "role", "tool", spec=spec, limit1=4, limit2=50),
        "facet_pivot3": lambda: fc.facet_pivot3(
            s, "role", "tool", "ftok", spec=spec, limit1=4, limit2=5,
            limit3=5),
        "facet_nested": lambda: fc.facet_nested(
            s, "role", "tool", spec=spec, limit1=4, limit2=50),
        "facet_relatedness": lambda: fc.facet_relatedness(
            s, "tool", spec, limit=50),
        "facet_block_domain": lambda: fc.facet_block_domain(
            s, "tool", spec, limit=50),
        "facet_unique_block": lambda: fc.facet_unique_block(
            s, "tool", spec, limit=50),
        "facet_block_parent": lambda: fc.facet_block_parent(
            s, "tool", spec, limit=50),
    }
    return {n: sorted(tuple(r) for r in f().collect())
            for n, f in calls.items()}


def test_segment_domain_tombstone_parity(spark, sf_dir, idx, tmp_path):
    """Tombstoned docs are invisible to every per-segment match/facet
    entry point: after delete_by_query(role:user) each one answers
    exactly like an index built without those rows — cold, and on a
    queryResultCache hit."""
    from pyspark.sql import functions as F

    user = BooleanSpec(filters=(("role", "user"),))
    assert delete_by_query(spark, idx, user) > 0
    deleted = IndexSearcher(spark, idx)
    root = str(tmp_path / "without_user")
    t = transcripts_from_documents(spark, sf_dir)
    build_index(spark, t.filter(~F.col("role").eqNullSafe("user")), root,
                num_parts=3, lineage_source=sf_dir)
    rebuilt = IndexSearcher(spark, root)
    assert rebuilt.docmap().count() == deleted.docmap().count()

    for spec in (Q_MERGE, BooleanSpec(must_not=("merge",))):
        want = _entry_points(rebuilt, spec)
        assert all(want.values()), spec
        assert _entry_points(deleted, spec) == want, spec
    deleted.cache_docset(Q_MERGE)  # hits served from the cached bits
    assert _entry_points(deleted, Q_MERGE) == _entry_points(rebuilt, Q_MERGE)


def _calls_by_function(path) -> list[tuple[str, tuple[str, ...]]]:
    """(called name, enclosing function names) for every call."""
    import ast

    out = []

    def walk(node, scope):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            scope = scope + (node.name,)
        if isinstance(node, ast.Call):
            fn = node.func
            name = fn.attr if isinstance(fn, ast.Attribute) else getattr(
                fn, "id", None)
            if isinstance(fn, ast.Attribute) and isinstance(
                    fn.value, ast.Name) and fn.value.id == "pq":
                name = f"pq.{fn.attr}"
            out.append((name, scope))
        for child in ast.iter_child_nodes(node):
            walk(child, scope)

    walk(ast.parse(path.read_text(), filename=str(path)), ())
    return out


def test_segment_reads_go_through_segment_domain():
    """The liveDocs rule is enforced by code: facets never read a
    docmap, apply a mask or match a segment themselves, and the
    executor matches segments only inside segment_domain (and
    significant_terms, whose kernel needs every term row)."""
    from pathlib import Path

    query = Path(__file__).resolve().parents[1] / "lucene_solr_spark" / "query"
    banned = {"pq.read_table", "apply_deletes", "filter_mask",
              "match_segment"}
    facets = [n for n, _ in _calls_by_function(query / "facets.py")
              if n in banned]
    assert facets == [], f"facets.py must go through segment_domain: {facets}"
    stray = [
        scope for n, scope in _calls_by_function(query / "executor.py")
        if n == "match_segment"
        and not {"segment_domain", "significant_terms"} & set(scope)
    ]
    assert stray == [], f"match_segment outside segment_domain: {stray}"
