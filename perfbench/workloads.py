"""The three workloads: ``build``, ``serve`` and ``ingest``.

Each function sets up (session, corpus, base index), computes the
oracle's answers outside the timed region, then runs one closed-loop
client for ``seconds`` and checks every answer. It returns a
:class:`Outcome` with the timed samples; :mod:`perfbench.run` turns it
into metrics.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import traceback
from dataclasses import dataclass, field

from perfbench import check, mix, ops
from perfbench.corpus import (CorpusSpec, df_bands, duck, materialize, split_files,
                              stats, stats_path)
from perfbench.env import now
from perfbench.oracle import Oracle, spec_of

#: corpus of the build workload
MAIN_TURNS = 200_000
#: serve corpus and its segments per core
SERVE_TURNS = 50_000
SERVE_SEGS_PER_CORE = 4
#: ingest: base corpus, micro-batch size and the most cycles one run
#: makes (on the 4-core host one append/append+delete pair already
#: outlasts ``run_seconds``; the second pair is planned for faster hosts)
INGEST_BASE_TURNS = 20_000
INGEST_BATCH_TURNS = 2_000
INGEST_MAX_CYCLES = 4
#: ingest deletes this many returned keys every DELETE_EVERY cycles
DELETE_KEYS = 2
DELETE_EVERY = 2


@dataclass
class Outcome:
    setup_s: float
    loop_s: float
    #: latency samples (ms) by operation kind
    samples: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    #: work the loop completed: turns (build, ingest) or requests (serve)
    items: int = 0
    index_bytes_per_text_byte: float = 0.0
    #: per-request report lines (id, hits, latencies)
    requests: list[dict] = field(default_factory=list)
    #: the index the workload leaves behind, for the traced layer tour
    index_root: str = ""
    corpus: str = ""
    extra: dict = field(default_factory=dict)

    def add(self, kind: str, ms: float) -> None:
        self.samples.setdefault(kind, []).append(ms)


class Client:
    """Closed-loop client bookkeeping: attempts, failures, samples, and
    a peak-memory sample after every operation."""

    def __init__(self, out: Outcome, rss):
        self.out = out
        self.rss = rss

    def attempt(self, kind: str, label: str, call, verify):
        """Run ``call``, time it, check its result with ``verify``.
        Exceptions and wrong answers count as failed operations; a wrong
        answer still did the work, so its latency is kept."""
        self.out.attempted += 1
        t = now()
        try:
            got = call()
            ms = (now() - t) * 1000.0
            bad = verify(got)
        except Exception:  # an engine error is a failed operation
            traceback.print_exc(file=sys.stderr)
            got, ms, bad = None, None, "raised"
        self.rss.sample()
        if kind and ms is not None:
            self.out.add(kind, ms)
        if bad:
            self.out.failed += 1
            print(f"perfbench: FAILED {label}: {bad}", file=sys.stderr)
            return None, ms
        return got, ms


# -- shared set-up --------------------------------------------------------------


def main_corpus(ctx) -> CorpusSpec:
    return CorpusSpec("main", MAIN_TURNS, ctx.corpus_seed, splits=4 * ctx.cores)


def serve_corpus(ctx) -> CorpusSpec:
    return CorpusSpec("serve", SERVE_TURNS, ctx.corpus_seed, splits=SERVE_SEGS_PER_CORE * ctx.cores)


def one_split_per_file(spark, files: list[str]) -> None:
    """Make each corpus file one input split: the build then writes one
    segment per file (about four per core)."""
    spark.conf.set(
        "spark.sql.files.maxPartitionBytes", str(max(os.path.getsize(f) for f in files))
    )
    spark.conf.set("spark.sql.files.openCostInBytes", "0")


def default_splits(spark) -> None:
    spark.conf.unset("spark.sql.files.maxPartitionBytes")
    spark.conf.unset("spark.sql.files.openCostInBytes")


def build(ctx, spark, corpus_path: str, out_root: str, files=None):
    """One traced ``build_index_prepartitioned`` call."""
    from lucene_solr_spark.index.build import build_index_prepartitioned

    files = files or split_files(corpus_path)
    one_split_per_file(spark, files)
    try:
        df = spark.read.parquet(*files)
        with ctx.tracer.span("index.build", splits=len(files)) as sp:
            m = build_index_prepartitioned(spark, df, out_root, lineage_source=corpus_path)
        if sp is not None:
            sp.attrs.update(segment_stats(m, out_root))
    finally:
        default_splits(spark)
    return m


def segment_stats(manifest, root: str) -> dict:
    seg_bytes = 0
    for d in manifest.seg_dirs():
        for f in os.listdir(d):
            seg_bytes += os.path.getsize(os.path.join(d, f))
    return {
        "docs": manifest.n_docs,
        "segments": len(manifest.segments),
        "postings": sum(s["n_postings"] for s in manifest.segments.values()),
        "postings_bytes": sum(s["bytes"] for s in manifest.segments.values()),
        "disk_bytes": seg_bytes,
    }


def open_searcher(ctx, spark, root: str, persist: bool):
    from lucene_solr_spark.index.manifest import Manifest
    from lucene_solr_spark.query.executor import IndexSearcher

    if ctx.tracer.enabled:
        with ctx.tracer.span("index.manifest.load") as sp:
            m = Manifest.load(root)
        sp.attrs["segments"] = len(m.segments)
        sp.attrs["tombstones"] = (m.tombstones or {}).get("n", 0)
        sp.attrs["snapshot_bytes"] = os.path.getsize(
            os.path.join(root, "manifest", f"snapshot-{m.snapshot_id}.json"))
    with ctx.tracer.span("query.executor.open"):
        s = IndexSearcher(spark, root)
    if persist:
        with ctx.tracer.span("query.executor.persist"):
            s.persist()
    return s


# -- build ----------------------------------------------------------------------


def run_build(ctx, spark) -> Outcome:
    """Timed op: ``build_index_prepartitioned`` of the 200k-turn corpus
    into a fresh directory, repeated."""
    corpus = materialize(spark, ctx.dirs.cache, main_corpus(ctx), ctx.tracer)
    st = stats(corpus)
    files = split_files(corpus)
    # warm-up: one untimed build (JIT, Python workers); a first build in
    # a fresh JVM runs about 10% slower than the next
    build(ctx, spark, corpus, ctx.dirs.scratch("warm"))
    out = Outcome(setup_s=now() - ctx.t0 - ctx.prep_s, loop_s=0.0, corpus=corpus)
    client = Client(out, ctx.rss)
    expected = (st["n_docs"], st["n_tokens"], st["n_postings"], len(files))
    out.extra["turns_per_build"] = st["n_docs"]
    t_loop = now()
    i = 0
    while now() - t_loop < ctx.seconds or i == 0:
        root = ctx.dirs.scratch(f"build{i % 2}")

        def verify(m, root=root):
            got = (m.n_docs, m.sum_dl,
                   sum(s["n_postings"] for s in m.segments.values()),
                   len(m.segments))
            if got != expected:
                return f"(docs, tokens, postings, segments) {got}, expected {expected}"
            out.index_bytes_per_text_byte = (
                segment_stats(m, root)["disk_bytes"] / st["text_bytes"])
            return None

        m, _ = client.attempt("build", f"build {i}", lambda root=root: build(ctx, spark, corpus, root), verify)
        if m is not None:
            out.items += st["n_docs"]
            out.index_root = root
        i += 1
    out.loop_s = now() - t_loop
    return out


# -- serve ----------------------------------------------------------------------


def serve_pool(ctx, corpus: str) -> list[dict]:
    """The cached request pool with its expected answers."""
    path = os.path.join(corpus, f"_pool-{ctx.corpus_seed}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    st = stats(corpus)
    con = duck([corpus])
    try:
        pool = mix.serve_pool(Oracle(con), con, df_bands(st["df"], st["n_docs"]),
                              ctx.corpus_seed)
    finally:
        con.close()
    with open(path + ".tmp", "w") as f:
        json.dump(pool, f)
    os.replace(path + ".tmp", path)
    return pool


def prepare_caches(ctx, spark) -> float:
    """Make sure every cached input exists — the three workloads'
    corpora, their statistics and the serve pool with its expected
    answers — so that only the first run in a checkout pays for them.
    Returns the seconds spent, which no workload counts as set-up."""
    t = now()
    base, batches = ingest_corpora(ctx)
    for spec in (main_corpus(ctx), serve_corpus(ctx), base, *batches):
        path = materialize(spark, ctx.dirs.cache, spec)
        if not os.path.exists(stats_path(path)):
            stats(path)
    serve_pool(ctx, materialize(spark, ctx.dirs.cache, serve_corpus(ctx)))
    return now() - t


def verifier(req: dict):
    kind = req["kind"]
    if kind == "bm25":
        return lambda got: check.ranked(got, req["expected"])
    if kind == "facet":
        return lambda got: check.buckets(got, req["expected"])
    return lambda got: check.select(got, req["expected"])


def run_serve(ctx, spark) -> Outcome:
    """Timed op: one request of the 70/20/10 BM25/facet/select mix on a
    warm, persisted 16-segment searcher."""
    corpus = materialize(spark, ctx.dirs.cache, serve_corpus(ctx), ctx.tracer)
    root = ctx.dirs.scratch("serve-index")
    build(ctx, spark, corpus, root)
    searcher = open_searcher(ctx, spark, root, persist=True)
    t_oracle = now()
    pool = serve_pool(ctx, corpus)
    oracle_s = now() - t_oracle
    for req in pool:
        mix.require_hits(req)
    passes = mix.decks(pool, ctx.seed)
    first = next(passes)
    # warm-up: the first BM25 and facet request of the pass (JIT, worker
    # imports). The /select is not warmed: its first call costs about
    # 4 s more than later ones, and each pass has one /select, so
    # warming it would cost more set-up than it takes off the pass.
    for kind in ("bm25", "facet"):
        req = next(r for r in first if r["kind"] == kind)
        ops.RUNNERS[kind](ctx.tracer, searcher, req, "warmup")
    out = Outcome(setup_s=now() - ctx.t0 - ctx.prep_s - oracle_s, loop_s=0.0,
                  corpus=corpus, index_root=root)
    out.extra["oracle_s"] = oracle_s
    client = Client(out, ctx.rss)
    per_req: dict[str, list[float]] = {}
    t_loop = now()
    deck, n = first, 0
    while True:
        for req in deck:
            run = ops.RUNNERS[req["kind"]]
            got, ms = client.attempt(
                req["kind"], req["id"],
                lambda run=run, req=req, n=n: run(ctx.tracer, searcher, req, f"r{n}"),
                verifier(req))
            n += 1
            if got is not None:
                out.items += 1
            if ms is not None:
                per_req.setdefault(req["id"], []).append(ms)
        if now() - t_loop >= ctx.seconds:
            break
        deck = next(passes)
    out.loop_s = now() - t_loop
    for req in pool:
        lat = sorted(per_req.get(req["id"], []))
        out.requests.append({
            "id": req["id"], "hits": req["hits"], "runs": len(lat),
            "median_ms": lat[len(lat) // 2] if lat else None,
        })
    st = stats(corpus)
    out.index_bytes_per_text_byte = segment_stats(searcher.manifest, root)["disk_bytes"] / st["text_bytes"]
    return out


# -- ingest ---------------------------------------------------------------------


def ingest_corpora(ctx) -> tuple[CorpusSpec, list[CorpusSpec]]:
    base = CorpusSpec("ingest-base", INGEST_BASE_TURNS, ctx.corpus_seed + 1, splits=ctx.cores)
    batches = [
        CorpusSpec(f"ingest-batch{c}", INGEST_BATCH_TURNS, ctx.corpus_seed + 100 + c,
                   splits=ctx.cores, conv_prefix=f"b{c}_")
        for c in range(INGEST_MAX_CYCLES)
    ]
    return base, batches


def ingest_plan(base: str, batches: list[str], seed: int) -> list[dict]:
    """Per cycle: the requests and their expected answers. ``q_new``
    is an AND of two terms of a document of the new batch (its answer
    must include a new doc); ``q_mid`` a term query on a mid-band term
    of the base; every DELETE_EVERY-th cycle deletes returned keys of
    ``q_new``, re-runs it and facets its first term's domain."""
    rng = random.Random(seed)
    con = duck([base] + batches, table="corpus_all")
    con.execute(
        "ALTER TABLE corpus_all ADD COLUMN batch INTEGER DEFAULT -1;"
        "UPDATE corpus_all SET batch = CAST(split_part(substr(conv_id, 2), '_', 1)"
        " AS INTEGER) WHERE conv_id LIKE 'b%\\_%' ESCAPE '\\'"
    )
    oracle = Oracle(con)
    st = stats(base)
    mid = sorted(df_bands(st["df"], st["n_docs"])["mid"])
    deleted: set = set()
    plan = []
    try:
        for c in range(len(batches)):
            con.execute(f"CREATE OR REPLACE VIEW corpus AS SELECT * FROM corpus_all WHERE batch <= {c}")
            oracle.scope = f"cycle{c}"
            oracle.set_deleted(deleted)
            docs = mix.sample_docs(con, 50, seed + c, table=f"(SELECT * FROM corpus WHERE batch = {c})")
            cyc = {"batch": c}
            for _ in range(200):
                doc = rng.choice(docs)
                terms = sorted(set(doc["toks"]), key=lambda t: (st["df"].get(t, 0), t))[:2]
                spec = {"must": terms, "k": mix.K}
                ans = oracle.bm25(spec_of(spec))
                if any(str(r[0]).startswith(f"b{c}_") for r in ans["rows"]):
                    break
            else:
                raise mix.EmptyRequest(f"cycle {c}: no query whose answer holds a new doc")
            cyc["q_new"] = {"id": f"ingest.new.c{c}", "kind": "bm25", "spec": spec,
                            "expected": ans["rows"], "hits": ans["hits"]}
            spec = {"must": [rng.choice(mid)], "k": mix.K}
            ans = oracle.bm25(spec_of(spec))
            cyc["q_mid"] = {"id": f"ingest.mid.c{c}", "kind": "bm25", "spec": spec,
                            "expected": ans["rows"], "hits": ans["hits"]}
            if c % DELETE_EVERY == DELETE_EVERY - 1:
                keys = [tuple(r[:2]) for r in cyc["q_new"]["expected"][:DELETE_KEYS]]
                deleted |= set(keys)
                oracle.set_deleted(deleted)
                spec = cyc["q_new"]["spec"]
                ans = oracle.bm25(spec_of(spec))
                cyc["delete"] = [list(k) for k in keys]
                cyc["q_after"] = {"id": f"ingest.after_delete.c{c}", "kind": "bm25",
                                  "spec": spec, "expected": ans["rows"],
                                  "hits": ans["hits"], "expect_empty": True}
                term = spec["must"][0]
                rows = oracle.facet("role", [term], mix.K)
                cyc["facet"] = {"id": f"ingest.facet.c{c}", "kind": "facet",
                                "field": "role", "terms": [term], "limit": mix.K,
                                "expected": rows, "hits": sum(r[1] for r in rows),
                                "expect_empty": True}
            for key in ("q_new", "q_mid"):
                mix.require_hits(cyc[key])
            plan.append(cyc)
    finally:
        con.close()
    return plan


def run_ingest(ctx, spark) -> Outcome:
    """Timed op: one cycle — append a 2k-turn micro-batch, open a new
    unpersisted searcher, run checked BM25 requests on it; every second
    cycle also delete returned keys and confirm they are gone."""
    from lucene_solr_spark.index.deletes import delete_by_ids
    from lucene_solr_spark.streaming.incremental import IncrementalIndexer

    base_spec, batch_specs = ingest_corpora(ctx)
    base = materialize(spark, ctx.dirs.cache, base_spec, ctx.tracer)
    batches = [materialize(spark, ctx.dirs.cache, b, ctx.tracer) for b in batch_specs]
    root = ctx.dirs.scratch("ingest-index")
    build(ctx, spark, base, root)
    # warm-up: the append and cold-query path on a throwaway index
    warm = ctx.dirs.scratch("ingest-warm")
    build(ctx, spark, base, warm, split_files(base)[:1])
    IncrementalIndexer(spark, warm).process_batch(
        spark.read.parquet(batches[-1]).limit(200), 0)
    ws = open_searcher(ctx, spark, warm, persist=False)
    ops.bm25(ctx.tracer, ws, {"id": "warmup", "spec": {"must": ["w1"], "k": 10}}, "warmup")
    t_oracle = now()
    plan = ingest_plan(base, batches, ctx.seed)
    oracle_s = now() - t_oracle
    out = Outcome(setup_s=now() - ctx.t0 - ctx.prep_s - oracle_s, loop_s=0.0,
                  corpus=base, index_root=root)
    out.extra["oracle_s"] = oracle_s
    client = Client(out, ctx.rss)
    indexer = IncrementalIndexer(spark, root)
    tr = ctx.tracer

    def reopen(label: str):
        return client.attempt("reopen", label,
                              lambda: open_searcher(ctx, spark, root, False),
                              lambda _: None)[0]

    def query(kind: str, searcher, req: dict, rid: str, verify=None) -> float | None:
        run = ops.RUNNERS[req["kind"]]
        _, ms = client.attempt(kind, req["id"], lambda: run(tr, searcher, req, rid),
                               verify or verifier(req))
        out.requests.append({"id": req["id"], "hits": req["hits"], "ms": ms})
        return ms

    appended = []
    t_loop = now()
    for cyc in plan:
        c = cyc["batch"]
        # whole append/append+delete pairs, so every run does the same mix
        if c % DELETE_EVERY == 0 and now() - t_loop >= ctx.seconds:
            break
        t_cycle = now()

        def append(c=c):
            with tr.span("streaming.incremental.process_batch", batch=c):
                indexer.process_batch(spark.read.parquet(batches[c]), c)
            return c

        if client.attempt("append", f"append {c}", append, lambda _: None)[0] is not None:
            appended.append(batches[c])
            out.items += INGEST_BATCH_TURNS
        searcher = reopen(f"reopen {c}")
        if searcher is None:
            continue
        if query("nrt_query", searcher, cyc["q_new"], f"c{c}.new") is not None:
            out.add("visible", (now() - t_cycle) * 1000.0)
        query("nrt_query", searcher, cyc["q_mid"], f"c{c}.mid")
        if "delete" not in cyc:
            continue
        gone = {tuple(k) for k in cyc["delete"]}

        def delete(keys=sorted(gone)):
            with tr.span("index.deletes.delete_by_ids", n=len(keys)):
                return delete_by_ids(spark, root, keys)

        client.attempt("delete", f"delete {c}", delete, lambda _: None)
        searcher = reopen(f"reopen after delete {c}")
        if searcher is None:
            continue
        req = cyc["q_after"]
        query("nrt_query", searcher, req, f"c{c}.after",
              lambda got, req=req: check.absent(got, gone) or check.ranked(got, req["expected"]))
        query("facet", searcher, cyc["facet"], f"c{c}.facet")
    out.loop_s = now() - t_loop
    from lucene_solr_spark.index.manifest import Manifest

    m = Manifest.load(root)
    text_bytes = sum(stats(p)["text_bytes"] for p in [base] + appended)
    out.index_bytes_per_text_byte = segment_stats(m, root)["disk_bytes"] / text_bytes
    out.extra["segments"] = len(m.segments)
    shutil.rmtree(warm, ignore_errors=True)
    return out


WORKLOADS = {"build": run_build, "serve": run_serve, "ingest": run_ingest}
