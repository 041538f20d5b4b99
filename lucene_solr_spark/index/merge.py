"""Shuffle-based segment merge keyed by term, with explicit salting
(SURVEY §2.1 S8; north rule). ``SegmentMerger`` / ``TieredMergePolicy``
re-expressed Spark-first.

Merge policy: the committed segments are ordered and grouped into
``merge_factor``-sized tiers; each tier becomes ONE destination segment
(Lucene never merges everything into a single segment either — that is
what keeps per-term merged posting lists bounded at 10^12-doc scale).
Within a tier, destination doc ordinals are source-major:
``dst_ord = doc_base(src) + src_ord`` where ``doc_base`` is the running
sum of source doc counts — exactly Lucene's ``MergeState.DocMap``.

The codec makes the posting merge **metadata-only**: block payload
bytes delta-encode against the block's own ``first_docs`` entry
(``codec.pack_all_postings``), so remapping a whole source run is
``first_docs += doc_base`` — no varint re-encode, no decode. What
remains is concatenating per-source runs in source order and rebasing
the per-block byte offsets.

Skew (north rule): a Zipf-head term has a posting run in EVERY source
segment, so a naive ``groupBy(term)`` sends all of its bytes to one
reducer. The merge therefore shuffles on the **salted key
(dst, term, salt)** with ``salt = src_pos // salt_span`` — stage 1
concatenates bounded contiguous sub-ranges of sources (per-task bytes ≤
salt_span × max-per-segment-run), stage 2 concatenates the ≤
merge_factor/salt_span partial runs per (dst, term). Rare terms occupy
one salt group and pass through unchanged; only high-DF terms fan out —
salting that is explicit and deterministic, not AQE-dependent.

Doc-values merge: facet ordinals are segment-local, so destination
segments re-derive ``*_ord`` columns + dictionaries from the merged
string columns (Lucene's ``OrdinalMap`` analog, done by refactorize).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from lucene_solr_spark.index.build import (
    METRICS_SCHEMA,
    _list_arr_from,
    _ordinals,
)
from lucene_solr_spark.index.manifest import Manifest
from lucene_solr_spark.session import local_frame

STAGE_SCHEMA = (
    "dst int, term string, salt int, bucket int, df long, cf long, "
    "first_docs array<long>, doc_offs array<long>, tf_offs array<long>, "
    "pos_offs array<long>, max_tfs array<int>, min_dls array<int>, "
    "doc_bytes binary, tf_bytes binary, pos_bytes binary, src_pos int"
)


def plan_merge(manifest: Manifest, merge_factor: int) -> dict[int, tuple[int, int, int]]:
    """Tier assignment: src seg_id → (dst, doc_base, src_pos).

    Sources are taken in committed-name order (stable); contiguous
    groups of `merge_factor` collapse into one destination segment.
    """
    plan: dict[int, tuple[int, int, int]] = {}
    names = sorted(manifest.segments)
    for i, name in enumerate(names):
        seg = manifest.segments[name]
        dst = i // merge_factor
        pos = i % merge_factor
        plan[seg["part"]] = (dst, 0, pos)  # doc_base filled below
    base: dict[int, int] = {}
    for name in names:
        seg = manifest.segments[name]
        dst, _, pos = plan[seg["part"]]
        plan[seg["part"]] = (dst, base.get(dst, 0), pos)
        base[dst] = base.get(dst, 0) + seg["n_docs"]
    return plan


def _concat_runs(g: pd.DataFrame) -> dict:
    """Concatenate posting runs (already doc-base-rebased, sorted by
    src order) into one run. Metadata-only: offsets rebase by the
    cumulative byte length of earlier runs."""
    fd = [np.asarray(a, np.int64) for a in g["first_docs"]]
    do = [np.asarray(a, np.int64) for a in g["doc_offs"]]
    to = [np.asarray(a, np.int64) for a in g["tf_offs"]]
    po = [np.asarray(a, np.int64) for a in g["pos_offs"]]
    db, tb, pb = list(g["doc_bytes"]), list(g["tf_bytes"]), list(g["pos_bytes"])
    d_base = np.cumsum([0] + [len(b) for b in db[:-1]])
    t_base = np.cumsum([0] + [len(b) for b in tb[:-1]])
    p_base = np.cumsum([0] + [len(b) for b in pb[:-1]])
    return {
        "first_docs": np.concatenate(fd),
        "doc_offs": np.concatenate([a + b for a, b in zip(do, d_base)]),
        "tf_offs": np.concatenate([a + b for a, b in zip(to, t_base)]),
        "pos_offs": np.concatenate([a + b for a, b in zip(po, p_base)]),
        "max_tfs": np.concatenate([np.asarray(a, np.int64) for a in g["max_tfs"]]),
        "min_dls": np.concatenate([np.asarray(a, np.int64) for a in g["min_dls"]]),
        "doc_bytes": b"".join(db),
        "tf_bytes": b"".join(tb),
        "pos_bytes": b"".join(pb),
        "df": int(g["df"].sum()),
        "cf": int(g["cf"].sum()),
    }


def _merge_group(g: pd.DataFrame, order_col: str) -> pd.DataFrame:
    g = g.sort_values(order_col, kind="mergesort")
    m = _concat_runs(g)
    first = g.iloc[0]
    return pd.DataFrame(
        [
            {
                "dst": first["dst"],
                "term": first["term"],
                "salt": int(first["salt"]) if "salt" in g else 0,
                "bucket": first["bucket"],
                "df": m["df"],
                "cf": m["cf"],
                "first_docs": m["first_docs"],
                "doc_offs": m["doc_offs"],
                "tf_offs": m["tf_offs"],
                "pos_offs": m["pos_offs"],
                "max_tfs": m["max_tfs"].astype(np.int32),
                "min_dls": m["min_dls"].astype(np.int32),
                "doc_bytes": m["doc_bytes"],
                "tf_bytes": m["tf_bytes"],
                "pos_bytes": m["pos_bytes"],
                "src_pos": int(g[order_col].iloc[0]),
            }
        ]
    )


def merge_segments(
    spark: SparkSession,
    index_root: str,
    merge_factor: int = 8,
    salt_span: int = 2,
) -> Manifest:
    """Compact the committed segment set by tiers of `merge_factor`,
    publishing a new snapshot (ConcurrentMergeScheduler analog, run as
    a batch job). Returns the new manifest."""
    manifest = Manifest.load(index_root)
    plan = plan_merge(manifest, merge_factor)
    seg_root = os.path.join(index_root, "segments")

    plan_rows = [
        (int(src), int(dst), int(base), int(pos))
        for src, (dst, base, pos) in plan.items()
    ]
    plan_df = local_frame(
        spark,
        plan_rows, "seg_id int, dst int, doc_base long, src_pos int"
    )

    dirs = manifest.seg_dirs()
    post = spark.read.parquet(*[f"{d}/postings.parquet" for d in dirs])
    dm = spark.read.parquet(*[f"{d}/docmap.parquet" for d in dirs])

    # ---- postings: salted two-stage term-keyed merge -----------------
    post = post.join(F.broadcast(plan_df), "seg_id").withColumn(
        "salt", (F.col("src_pos") / F.lit(salt_span)).cast("int")
    )

    # Rebase first_docs by doc_base (the whole docID remap) JVM-side.
    post = post.withColumn(
        "first_docs", F.transform("first_docs", lambda x: x + F.col("doc_base"))
    )

    def stage1(key, g):
        return _merge_group(g, "src_pos")

    def stage2(key, g):
        return _merge_group(g, "salt")

    partials = (
        post.select(
            "dst", "term", "salt", "bucket", "df", "cf", "first_docs",
            "doc_offs", "tf_offs", "pos_offs", "max_tfs", "min_dls",
            "doc_bytes", "tf_bytes", "pos_bytes", "src_pos",
        )
        .groupBy("dst", "term", "salt")
        .applyInPandas(stage1, STAGE_SCHEMA)
    )
    merged_post = partials.groupBy("dst", "term").applyInPandas(stage2, STAGE_SCHEMA)

    # ---- docmap + docvalues: remap ords, refactorize dictionaries ----
    dm = (
        dm.join(F.broadcast(plan_df), "seg_id")
        .withColumn("doc_ord", (F.col("doc_ord") + F.col("doc_base")).cast("int"))
        .select("dst", "doc_ord", "conv_id", "turn_idx", "doc_len",
                "role", "tool", "ftok", "ts")
    )

    def write_dst(post_pdf: pd.DataFrame, dm_pdf: pd.DataFrame) -> pd.DataFrame:
        dst = int(post_pdf["dst"].iloc[0]) if len(post_pdf) else int(dm_pdf["dst"].iloc[0])
        seg_name = f"merged_{dst:05d}"
        dmp = dm_pdf.sort_values("doc_ord").reset_index(drop=True)
        ords: dict[str, np.ndarray] = {}
        dict_rows: list[pd.DataFrame] = []
        for fld in ("role", "tool", "ftok"):
            o, uq = _ordinals(dmp[fld])
            ords[fld] = o
            dict_rows.append(pd.DataFrame({
                "field": fld,
                "term_ord": np.arange(len(uq), dtype=np.int32),
                "term": uq.astype(str) if len(uq) else np.array([], object),
            }))
        dict_pdf = pd.concat(dict_rows, ignore_index=True)
        dict_pdf.insert(0, "seg_id", np.int32(dst))

        n_docs = len(dmp)
        docmap = pa.table({
            "seg_id": pa.array(np.full(n_docs, dst, np.int32)),
            "doc_ord": pa.array(dmp["doc_ord"].to_numpy(np.int32)),
            "conv_id": pa.array(dmp["conv_id"].astype(str)),
            "turn_idx": pa.array(dmp["turn_idx"].to_numpy(np.int32)),
            "doc_len": pa.array(dmp["doc_len"].to_numpy(np.int32)),
            "role": pa.array(dmp["role"], pa.string()),
            "tool": pa.array(dmp["tool"], pa.string()),
            "ftok": pa.array(dmp["ftok"], pa.string()),
            "ts": pa.array(pd.to_datetime(dmp["ts"])).cast(pa.timestamp("us")),
            "role_ord": pa.array(ords["role"]),
            "tool_ord": pa.array(ords["tool"]),
            "ftok_ord": pa.array(ords["ftok"]),
        })

        pp = post_pdf.sort_values("term", kind="mergesort")
        postings = pa.table({
            "seg_id": pa.array(np.full(len(pp), dst, np.int32)),
            "bucket": pa.array(pp["bucket"].to_numpy(np.int32)),
            "term": pa.array(pp["term"].astype(str), pa.string()),
            "df": pa.array(pp["df"].to_numpy(np.int64).astype(np.int32)),
            "cf": pa.array(pp["cf"].to_numpy(np.int64)),
            "first_docs": _list_arr_from(pp["first_docs"]),
            "doc_offs": _list_arr_from(pp["doc_offs"]),
            "tf_offs": _list_arr_from(pp["tf_offs"]),
            "pos_offs": _list_arr_from(pp["pos_offs"]),
            "max_tfs": _list_arr_from(pp["max_tfs"]),
            "min_dls": _list_arr_from(pp["min_dls"]),
            "doc_bytes": pa.array(list(pp["doc_bytes"]), pa.binary()),
            "tf_bytes": pa.array(list(pp["tf_bytes"]), pa.binary()),
            "pos_bytes": pa.array(list(pp["pos_bytes"]), pa.binary()),
        })

        from lucene_solr_spark.index.build import write_segment

        dicts = pa.Table.from_pandas(dict_pdf, preserve_index=False)
        seg = {"postings": postings, "docmap": docmap, "dicts": dicts}
        write_segment(seg, os.path.join(seg_root, seg_name))
        n_bytes = int(
            sum(len(b) for b in pp["doc_bytes"])
            + sum(len(b) for b in pp["tf_bytes"])
            + sum(len(b) for b in pp["pos_bytes"])
        )
        return pd.DataFrame([{
            "part": dst,
            "seg_name": seg_name,
            "n_docs": n_docs,
            "sum_dl": int(dmp["doc_len"].sum()),
            "max_dl": int(dmp["doc_len"].max()) if n_docs else 0,
            "n_terms": len(pp),
            "n_postings": int(pp["df"].sum()),
            "n_tokens": int(pp["cf"].sum()),
            "bytes": n_bytes,
        }])

    rows = (
        merged_post.groupby("dst")
        .cogroup(dm.groupby("dst"))
        .applyInPandas(write_dst, schema=METRICS_SCHEMA)
        .collect()
    )
    new_segments = {
        r.seg_name: {
            "part": r.part, "n_docs": r.n_docs, "sum_dl": r.sum_dl,
            "max_dl": r.max_dl,
            "n_terms": r.n_terms, "n_postings": r.n_postings,
            "n_tokens": r.n_tokens, "bytes": r.bytes,
        }
        for r in rows
    }
    manifest.commit_replace(
        new_segments,
        {
            "op": "merge",
            "merge_factor": merge_factor,
            "salt_span": salt_span,
            "sources": sorted(manifest.segments),
            "rows": int(sum(r.n_docs for r in rows)),
        },
    )
    return manifest
