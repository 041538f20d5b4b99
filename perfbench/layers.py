"""Per-layer metrics of the traced run.

Three sources, all recorded from the benchmark's own files:

- the workload's spans, with Spark jobs, stages, tasks, executor run
  time and bytes attributed to them from the event log;
- a *tour* after the workload that calls, once, every layer the
  workload itself does not call (so every traced run reports every
  layer; the workload's own spans win where both exist);
- *probes*: in-process calls into the kernels the Spark tasks run
  (analyzer, segment build and write, postings decode, segment scorer)
  on one input split, and one ``merge_segments`` call on a small index.
"""

from __future__ import annotations

import os
import statistics

import pyarrow.parquet as pq

from perfbench import mix, ops
from perfbench.corpus import df_bands, split_files, stats
from perfbench.env import now
from perfbench.spans import spark_total, subtree

#: the small index the merge probe compacts: turns, vocabulary, segments
MERGE_TURNS, MERGE_VOCAB, MERGE_SEGMENTS = 64, 200, 2
#: each scorer probe is repeated this many times (median kept)
SCORER_REPEATS = 3
#: the span every tour call runs under
TOUR = "tour"

_BASE_UNITS = {
    "session.get_spark_ms": "ms",
    "transcripts.generate_ms": "ms",
    "analyzer.tokenize_pandas_ms_per_10k_turns": "ms",
    "index.build.build_segment_pdf_ms_per_10k_turns": "ms",
    "index.build.write_segment_ms_per_segment": "ms",
    "index.build.call_ms": "ms",
    "index.build.jobs": "count",
    "index.build.stages": "count",
    "index.build.tasks": "count",
    "index.build.executor_run_ms": "ms",
    "index.build.input_bytes": "B",
    "index.build.output_bytes": "B",
    "index.build.spark_overhead_share": "share",
    "index.build.segments": "count",
    "index.build.postings": "count",
    "index.build.postings_bytes": "B",
    "index.codec.unpack_postings_mb_per_s": "MB/s",
    "index.manifest.load_ms": "ms",
    "index.manifest.snapshot_bytes": "B",
    "index.manifest.segments": "count",
    "streaming.incremental.process_batch_ms": "ms",
    "streaming.incremental.jobs": "count",
    "streaming.incremental.tasks": "count",
    "index.deletes.delete_by_ids_ms": "ms",
    "index.deletes.tombstones": "count",
    "query.executor.open_ms": "ms",
    "query.executor.persist_ms": "ms",
    "query.executor.global_df_ms": "ms",
    "query.executor.plan_ms": "ms",
    "query.executor.collect_ms": "ms",
    "query.executor.jobs": "count",
    "query.executor.stages": "count",
    "query.executor.tasks": "count",
    "query.executor.postings_stage_ms": "ms",
    "query.executor.scorer_stage_ms": "ms",
    "query.executor.executor_run_ms": "ms",
    "query.executor.input_bytes": "B",
    "query.executor.shuffle_bytes": "B",
    "query.executor.postings_rows_per_hit": "ratio",
    "query.facets.plan_ms": "ms",
    "query.facets.collect_ms": "ms",
    "query.facets.jobs": "count",
    "query.facets.tasks": "count",
    "query.facets.shuffle_bytes": "B",
    "query.parser.parse_ms": "ms",
    "handler.parse_select_params_ms": "ms",
    "handler.select_plan_ms": "ms",
    "handler.select_collect_ms": "ms",
    "handler.select_tasks": "count",
    "index.merge.call_ms": "ms",
    "index.merge.postings_rows_in": "count",
    "index.merge.segments_in": "count",
    "index.merge.segments_out": "count",
    "index.merge.bytes_rewritten": "B",
    "spark.failed_tasks": "count",
    "trace.overhead_share": "share",
}
UNITS = dict(_BASE_UNITS)
for _shape in mix.SHAPES:
    for _band in mix.BANDS:
        UNITS[f"query.scorer.score_segment_ms.{_shape}.{_band}"] = "ms"


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


# -- tour -----------------------------------------------------------------------


def _band_terms(corpus: str) -> dict[str, str]:
    st = stats(corpus)
    bands = df_bands(st["df"], st["n_docs"])
    return {b: min(bands[b]) for b in mix.BANDS}


def _tour(ctx, spark, out) -> None:
    """Call once every layer the workload did not call."""
    from lucene_solr_spark.index.deletes import delete_by_ids
    from lucene_solr_spark.streaming.incremental import IncrementalIndexer

    from perfbench import workloads

    tr, wl = ctx.tracer, ctx.workload
    terms = _band_terms(out.corpus)
    root = out.index_root
    if wl in ("build", "ingest"):
        searcher = workloads.open_searcher(ctx, spark, root, persist=True)
    if wl == "build":
        for band, t in terms.items():
            ops.bm25(tr, searcher, {"id": f"tour.{band}", "spec": {"must": [t], "k": 10}},
                     f"tour.bm25.{band}")
    if wl in ("build", "ingest"):
        ops.facet(tr, searcher, {"id": "tour.facet", "field": "role",
                                 "terms": [terms["head"]], "limit": 10}, "tour.facet")
        ops.select(tr, searcher, {"id": "tour.select", "params": {
            "q": terms["head"], "start": 0, "rows": 10, "facet.field": "tool",
            "facet.limit": 5, "json.facet": mix.JSON_FACET}}, "tour.select")
    if wl in ("build", "serve"):
        from perfbench.corpus import materialize

        batch = materialize(spark, ctx.dirs.cache, workloads.ingest_corpora(ctx)[1][0])
        with tr.span("streaming.incremental.process_batch", batch=0):
            IncrementalIndexer(spark, root).process_batch(spark.read.parquet(batch), 0)
        s = workloads.open_searcher(ctx, spark, root, persist=False)
        rows = ops.bm25(tr, s, {"id": "tour.delete", "spec": {"must": [terms["mid"]], "k": 10}},
                        "tour.delete")
        with tr.span("index.deletes.delete_by_ids", n=2):
            delete_by_ids(spark, root, [tuple(r[:2]) for r in rows[:2]])
        workloads.open_searcher(ctx, spark, root, persist=False)


# -- probes ---------------------------------------------------------------------


def _timed(fn, repeats: int = 1):
    best = []
    out = None
    for _ in range(repeats):
        t = now()
        out = fn()
        best.append((now() - t) * 1000.0)
    return out, _med(best)


def _kernel_probes(ctx, out, probes: dict) -> None:
    from lucene_solr_spark.analyzer import tokenize_pandas
    from lucene_solr_spark.index import codec
    from lucene_solr_spark.index.build import build_segment_pdf, write_segment
    from lucene_solr_spark.query.executor import filter_mask
    from lucene_solr_spark.query.scorer import score_segment

    from perfbench.oracle import spec_of

    pdf = pq.read_table(split_files(out.corpus)[0]).to_pandas()
    per10k = 10_000 / len(pdf)
    toks, ms = _timed(lambda: tokenize_pandas(pdf["text"]))
    probes["analyzer.tokenize_pandas_ms_per_10k_turns"] = ms * per10k
    seg, ms = _timed(lambda: build_segment_pdf(pdf, seg_id=0))
    probes["index.build.build_segment_pdf_ms_per_10k_turns"] = ms * per10k
    seg_dir = os.path.join(ctx.dirs.scratch("probe-segment"), "seg_00000000")
    _, ms = _timed(lambda: write_segment(seg, seg_dir))
    probes["index.build.write_segment_ms_per_segment"] = ms

    post = seg["postings"].to_pandas()
    dfs = dict(zip(post["term"], post["df"]))
    n_docs = len(pdf)
    bands = df_bands(dfs, n_docs)
    head = post[post["term"].isin(bands["head"])]
    nbytes = sum(len(a) + len(b) for a, b in zip(head["doc_bytes"], head["tf_bytes"]))

    def unpack_all():
        for r in head.itertuples():
            codec.unpack_postings(
                r.first_docs, r.doc_offs, r.tf_offs, r.doc_bytes, r.tf_bytes)

    _, ms = _timed(unpack_all, SCORER_REPEATS)
    probes["index.codec.unpack_postings_mb_per_s"] = nbytes / 1e6 / (ms / 1000.0)

    import math
    import random

    dm = seg["docmap"].to_pandas()
    doc_len = dm["doc_len"].to_numpy()
    avgdl = float(doc_len.mean())
    rows = {r["term"]: r for r in post.to_dict("records")}
    docs = [{"toks": list(t), "role": r, "tool": tl}
            for t, r, tl in zip(toks, pdf["role"], pdf["tool"])]
    rng = random.Random(ctx.seed)
    hb = sorted(bands["head"])
    for shape in mix.SHAPES:
        for band in mix.BANDS:
            spec = None
            for _ in range(200):
                spec = mix.shape_spec(shape, bands[band], hb, rng.choice(docs), rng)
                if spec is not None:
                    break
            spec = spec_of(spec)
            terms = list(spec.lookup_terms)
            idf = {t: math.log(1.0 + (n_docs - dfs.get(t, 0) + 0.5) / (dfs.get(t, 0) + 0.5))
                   for t in terms}
            term_rows = {t: rows[t] for t in terms if t in rows}
            allowed = filter_mask(dm, spec) if spec.filters else None
            _, ms = _timed(lambda: score_segment(spec, term_rows, idf, avgdl, doc_len,
                                                 allowed, spec.k), SCORER_REPEATS)
            probes[f"query.scorer.score_segment_ms.{shape}.{band}"] = ms


def _generate_probe(ctx, spark, probes: dict) -> None:
    from lucene_solr_spark.transcripts import generate_transcripts

    path = os.path.join(ctx.dirs.scratch("probe-generate"), "t")
    with ctx.tracer.span("transcripts.generate", turns=10_000) as sp:
        generate_transcripts(spark, 10_000, seed=ctx.seed, partitions=ctx.cores) \
            .write.parquet(path)
    probes["transcripts.generate_ms"] = sp.ms


def _merge_probe(ctx, spark, probes: dict) -> None:
    from lucene_solr_spark.index.build import build_index_prepartitioned
    from lucene_solr_spark.index.merge import merge_segments
    from lucene_solr_spark.transcripts import generate_transcripts

    from perfbench.workloads import segment_stats

    base = ctx.dirs.scratch("probe-merge")
    root = os.path.join(base, "index")
    t = generate_transcripts(spark, MERGE_TURNS, seed=ctx.seed, vocab_size=MERGE_VOCAB,
                             partitions=MERGE_SEGMENTS)
    t.write.parquet(os.path.join(base, "corpus"))
    m = build_index_prepartitioned(spark, spark.read.parquet(os.path.join(base, "corpus"))
                                   .repartition(MERGE_SEGMENTS), root)
    rows_in = sum(s["n_terms"] for s in m.segments.values())
    segs_in = len(m.segments)
    with ctx.tracer.span("index.merge", turns=MERGE_TURNS) as sp:
        m2 = merge_segments(spark, root)
    probes.update({
        "index.merge.call_ms": sp.ms,
        "index.merge.postings_rows_in": rows_in,
        "index.merge.segments_in": segs_in,
        "index.merge.segments_out": len(m2.segments),
        "index.merge.bytes_rewritten": segment_stats(m2, root)["disk_bytes"],
    })


def tour_and_probes(ctx, spark, out) -> dict:
    probes: dict = {}
    with ctx.tracer.span(TOUR):
        _tour(ctx, spark, out)
    _generate_probe(ctx, spark, probes)
    _merge_probe(ctx, spark, probes)
    _kernel_probes(ctx, out, probes)
    return probes


# -- assembly -------------------------------------------------------------------


def per_layer(ctx, out, probes: dict, log, overhead_share: float) -> dict:
    tr = ctx.tracer
    m: dict[str, float] = dict(probes)
    in_tour = {s.id for t in tr.by_name(TOUR) for s in subtree(tr, t)}

    def spans(name):
        """The workload's own spans of ``name`` (warm-ups excluded);
        the tour's only when the workload made none."""
        found = [s for s in tr.by_name(name) if s.request != "warmup"]
        own = [s for s in found if s.id not in in_tour]
        return own or found

    def ms_of(name):
        return _med(s.ms for s in spans(name))

    m["session.get_spark_ms"] = ms_of("session.get_spark")

    builds = spans("index.build")
    widest = max(s.attrs["splits"] for s in builds)
    builds = [s for s in builds if s.attrs["splits"] == widest]
    call_ms = _med(s.ms for s in builds)
    m["index.build.call_ms"] = call_ms
    for key, src in (("jobs", "jobs"), ("stages", "stages"), ("tasks", "tasks"),
                     ("executor_run_ms", "run_ms"), ("input_bytes", "input_bytes")):
        m[f"index.build.{key}"] = _med(spark_total(tr, s, src) for s in builds)
    for key, src in (("output_bytes", "disk_bytes"), ("segments", "segments"),
                     ("postings", "postings"), ("postings_bytes", "postings_bytes")):
        m[f"index.build.{key}"] = _med(s.attrs[src] for s in builds)
    docs = _med(s.attrs["docs"] for s in builds)
    kernel_ms = (probes["index.build.build_segment_pdf_ms_per_10k_turns"] * docs / widest / 1e4
                 + probes["index.build.write_segment_ms_per_segment"])
    m["index.build.spark_overhead_share"] = 1.0 - kernel_ms * widest / ctx.cores / call_ms

    loads = spans("index.manifest.load")
    m["index.manifest.load_ms"] = _med(s.ms for s in loads)
    m["index.manifest.snapshot_bytes"] = _med(s.attrs["snapshot_bytes"] for s in loads)
    m["index.manifest.segments"] = _med(s.attrs["segments"] for s in loads)
    # after the run's last delete, wherever it was made (workload or tour)
    m["index.deletes.tombstones"] = max(
        s.attrs["tombstones"] for s in tr.by_name("index.manifest.load"))

    pb = spans("streaming.incremental.process_batch")
    m["streaming.incremental.process_batch_ms"] = _med(s.ms for s in pb)
    m["streaming.incremental.jobs"] = _med(spark_total(tr, s, "jobs") for s in pb)
    m["streaming.incremental.tasks"] = _med(spark_total(tr, s, "tasks") for s in pb)
    m["index.deletes.delete_by_ids_ms"] = ms_of("index.deletes.delete_by_ids")
    m["query.executor.open_ms"] = ms_of("query.executor.open")
    m["query.executor.persist_ms"] = ms_of("query.executor.persist")
    m["query.executor.global_df_ms"] = ms_of("query.executor.global_df")

    reqs = spans("request.bm25")

    def child_ms(s, name):
        return sum(c.ms for c in subtree(tr, s) if c.name == name)

    m["query.executor.plan_ms"] = _med(child_ms(s, "query.executor.plan") for s in reqs)
    m["query.executor.collect_ms"] = _med(child_ms(s, "query.executor.collect") for s in reqs)
    for key, src in (("jobs", "jobs"), ("stages", "stages"), ("tasks", "tasks"),
                     ("postings_stage_ms", "scan_wall_ms"),
                     ("scorer_stage_ms", "python_wall_ms"),
                     ("executor_run_ms", "run_ms"), ("input_bytes", "input_bytes"),
                     ("shuffle_bytes", "shuffle_bytes")):
        m[f"query.executor.{key}"] = _med(spark_total(tr, s, src) for s in reqs)
    m["query.executor.postings_rows_per_hit"] = _med(
        spark_total(tr, s, "scan_input_records") / max(s.attrs.get("rows", 0), 1)
        for s in reqs)

    facets = spans("request.facet")
    m["query.facets.plan_ms"] = _med(child_ms(s, "query.facets.plan") for s in facets)
    m["query.facets.collect_ms"] = _med(child_ms(s, "query.facets.collect") for s in facets)
    for key, src in (("jobs", "jobs"), ("tasks", "tasks"), ("shuffle_bytes", "shuffle_bytes")):
        m[f"query.facets.{key}"] = _med(spark_total(tr, s, src) for s in facets)

    m["query.parser.parse_ms"] = ms_of("query.parser.parse")
    m["handler.parse_select_params_ms"] = ms_of("handler.parse_select_params")
    m["handler.select_plan_ms"] = ms_of("handler.select_plan")
    m["handler.select_collect_ms"] = ms_of("handler.select_collect")
    m["handler.select_tasks"] = _med(
        spark_total(tr, s, "tasks") for s in spans("request.select"))

    m["spark.failed_tasks"] = log.failed_tasks()
    m["trace.overhead_share"] = overhead_share
    return {k: float(m[k]) for k in UNITS}
