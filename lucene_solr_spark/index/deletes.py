"""deleteByQuery (liveDocs tombstones) — SURVEY §2.1 S7 delete side.

ref: solr/core/src/java/org/apache/solr/update/DirectUpdateHandler2.java
     #deleteByQuery and lucene/core .../index/LiveDocs (Bits liveDocs):
     a delete never rewrites segment data — it records which docs are
     dead, and every reader masks them out. Pinned Lucene parity:
     **deleted docs still affect scoring statistics** (docFreq, N,
     avgdl include them) until the data is physically rewritten — the
     documented Lucene behavior ("deleted documents ... still affect
     scoring until segments are merged"). Here the physical rewrite is
     a periodic rebuild from the source-of-truth table (the Spark-first
     compaction story: segment files are immutable, copy-on-write).

Representation: tombstones are BUSINESS KEYS (conv_id, turn_idx) in a
per-snapshot parquet referenced from the manifest. Key-based (not
doc-ord) tombstones survive merges and docID remaps untouched, so
``merge_segments`` needs zero delete-awareness. Each deleteByQuery
unions with the previous tombstone set and publishes a new snapshot —
the same atomic two-phase commit as every other index mutation.

Scale: the mask ships to scorer tasks as a driver-held key set (the
in-heap liveDocs bitset analog; Lucene holds it per-reader the same
way). Masking is a vectorized MultiIndex.isin per segment, not
per-row Python. For delete volumes beyond driver memory, rebuild —
exactly when Lucene would want a merge anyway.

Caveat (documented, matches key-tombstone semantics): re-adding a
previously deleted key stays masked until :func:`clear_tombstones`;
Lucene's update-by-id has the same delete-then-add shape with the add
winning because it lands in a NEWER segment — our upsert story lives
in the versioned-upsert / realtime-get layer instead.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from lucene_solr_spark.index.manifest import Manifest
from lucene_solr_spark.query.model import BooleanSpec
from lucene_solr_spark.session import local_frame


#: Hard ceiling on cumulative tombstones (VERDICT r2 item 8). The mask
#: is driver-held + broadcast ('conv|turn' sorted numpy bytes, ~24 B/
#: key → ~120 MB at the cap); past this a runaway deleteByQuery would
#: OOM the driver, and the index wants a physical rebuild anyway —
#: the same point Lucene would schedule a merge to reclaim deletes.
MAX_TOMBSTONES = 5_000_000


def delete_by_query(
    spark: SparkSession,
    index_root: str,
    spec: BooleanSpec,
    max_tombstones: int = MAX_TOMBSTONES,
) -> int:
    """Tombstone every doc matching ``spec``; returns the TOTAL
    tombstone count after the commit (cumulative, deduped). Raises
    (without committing) when the cumulative count would exceed
    ``max_tombstones`` — rebuild the index from the source of truth
    instead (then :func:`clear_tombstones`)."""
    from lucene_solr_spark.query.executor import IndexSearcher

    s = IndexSearcher(spark, index_root)
    keys = s.docset(spec).select("conv_id", "turn_idx")
    if s.deleted_keys:
        prev = local_frame(
            spark,
            sorted(s.deleted_keys), "conv_id string, turn_idx int"
        )
        keys = keys.unionByName(prev)
    keys = keys.distinct()
    n = keys.count()
    if n > max_tombstones:
        raise ValueError(
            f"deleteByQuery would leave {n} tombstones "
            f"(cap {max_tombstones}): the driver-held liveDocs mask "
            "would not be safe to broadcast — rebuild the index from "
            "the source table and clear_tombstones() instead"
        )

    m = Manifest.load(index_root)
    rel = f"deletes/del-{m.snapshot_id + 1}.parquet"
    out = os.path.join(index_root, rel)
    keys.coalesce(1).write.mode("overwrite").parquet(out)
    m.tombstones = {"path": rel, "n": int(n)}
    m.commit({}, {"op": "delete_by_query", "spec": repr(spec), "n_total": int(n)})
    return int(n)


def delete_by_ids(
    spark: SparkSession,
    index_root: str,
    ids: list[tuple[str, int]],
    max_tombstones: int = MAX_TOMBSTONES,
) -> int:
    """deleteById (UpdateRequestHandler delete-by-id): tombstone the
    listed business keys directly — no docset query, the id list is
    request-bounded. Same cumulative cap + manifest commit as
    :func:`delete_by_query`; unknown keys are harmless (a tombstone
    for an absent key masks nothing, exactly Lucene's behavior).
    ref: solr/core/src/java/org/apache/solr/update/
    DirectUpdateHandler2.java (delete(DeleteUpdateCommand) by id)."""
    from lucene_solr_spark.query.executor import IndexSearcher

    s = IndexSearcher(spark, index_root)
    merged = set(s.deleted_keys) | {(str(c), int(t)) for c, t in ids}
    n = len(merged)
    if n > max_tombstones:
        raise ValueError(
            f"deleteById would leave {n} tombstones "
            f"(cap {max_tombstones}): rebuild instead")
    keys = local_frame(
        spark,
        sorted(merged), "conv_id string, turn_idx int")

    m = Manifest.load(index_root)
    rel = f"deletes/del-{m.snapshot_id + 1}.parquet"
    out = os.path.join(index_root, rel)
    keys.coalesce(1).write.mode("overwrite").parquet(out)
    m.tombstones = {"path": rel, "n": int(n)}
    m.commit({}, {"op": "delete_by_ids", "n_ids": len(ids),
                  "n_total": int(n)})
    return int(n)


def clear_tombstones(index_root: str) -> None:
    """Drop all tombstones (post-rebuild housekeeping)."""
    m = Manifest.load(index_root)
    m.tombstones = None
    m.commit({}, {"op": "clear_tombstones"})
