"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload {build,serve,ingest} --seed N \\
        [--seconds S] [--trace 0|1] [--corpus-seed N]

Run it from the repository root. ``--seed`` orders the requests and
picks the ingest queries; ``--corpus-seed`` fixes the generated corpora
and the serve request pool. The session uses every core this process
may run on (``nproc``).

Standard output: one line per request group, then a ``detail`` line
with every workload-specific figure, then — as the last line — one
JSON object with exactly ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end metrics
of ``BENCHMARK.json``; with ``--trace 1`` the per-layer metrics, from
spans and the Spark event log (see ``perfbench/README.md``).
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

#: end-to-end metric units (names as in BENCHMARK.json)
E2E_UNITS = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
    "index_bytes_per_text_byte": "B/B",
}

#: the samples ``op_*`` metrics are taken over, per workload
OP_KINDS = {"build": ("build",), "serve": ("bm25", "facet", "select"),
            "ingest": ("visible",)}


def pct(values: list[float] | None, q: float) -> float | None:
    """Linear-interpolated percentile (``q`` in [0, 1]); None without
    samples."""
    v = sorted(values or [])
    if not v:
        return None
    x = q * (len(v) - 1)
    lo = int(x)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (x - lo)


def end_to_end(workload: str, out, rss_mb: float) -> dict | None:
    """The end-to-end metrics; None when no timed operation returned."""
    ops = [ms for k in OP_KINDS[workload] for ms in out.samples.get(k, [])]
    if not ops:
        return None
    if workload == "build":
        items_per_s = out.extra["turns_per_build"] / (statistics.median(ops) / 1000.0)
    else:
        items_per_s = out.items / out.loop_s
    return {
        "setup_s": out.setup_s,
        "op_p50_ms": pct(ops, 0.5),
        "items_per_s": items_per_s,
        "peak_rss_mb": rss_mb,
        "index_bytes_per_text_byte": out.index_bytes_per_text_byte,
    }


def detail(workload: str, out, e2e: dict) -> dict:
    """The workload-specific figures, printed before the result line."""
    s = out.samples
    d = {"workload": workload,
         "failed_op_share": out.failed / max(out.attempted, 1),
         "samples": {k: len(v) for k, v in s.items()},
         "op_ms": [ms for k in OP_KINDS[workload] for ms in s.get(k, [])],
         "op_p95_ms": pct([ms for k in OP_KINDS[workload] for ms in s.get(k, [])], 0.95),
         "loop_s": out.loop_s, **out.extra}
    if workload == "build":
        d["build_turns_per_s"] = e2e["items_per_s"]
        d["index_bytes_per_text_byte"] = out.index_bytes_per_text_byte
    elif workload == "serve":
        d.update({
            "bm25_p50_ms": pct(s.get("bm25"), 0.5),
            "bm25_p95_ms": pct(s.get("bm25"), 0.95),
            "facet_p50_ms": pct(s.get("facet"), 0.5),
            "select_p50_ms": pct(s.get("select"), 0.5),
            "serve_req_per_s": e2e["items_per_s"],
        })
    else:
        d.update({
            "visible_p50_ms": e2e["op_p50_ms"],
            "nrt_query_p50_ms": pct(s.get("nrt_query"), 0.5),
            "ingest_turns_per_s": e2e["items_per_s"],
        })
    return d


class Ctx:
    def __init__(self, args, dirs, cores: int, tracer):
        self.workload = args.workload
        self.seed = args.seed
        self.corpus_seed = args.corpus_seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.dirs = dirs
        self.cores = cores
        self.tracer = tracer
        self.t0 = T0
        self.rss = None
        #: seconds spent filling the checkout's input caches (first run)
        self.prep_s = 0.0


def untraced_reference(ctx, argv_seed: int) -> float:
    """``op_p50_ms`` of untraced runs of this workload in this checkout;
    when there are none, one untraced run is made first."""
    path = os.path.join(ctx.dirs.results, f"{ctx.workload}.jsonl")
    if not os.path.exists(path):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", ctx.workload,
               "--seed", str(argv_seed), "--seconds", str(ctx.seconds), "--trace", "0",
               "--corpus-seed", str(ctx.corpus_seed)]
        subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, timeout=170)
    with open(path) as f:
        rows = [json.loads(line) for line in f if line.strip()]
    same = [r["op_p50_ms"] for r in rows if r.get("seconds") == ctx.seconds]
    return statistics.median(same or [r["op_p50_ms"] for r in rows])


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("build", "serve", "ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=5.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--corpus-seed", type=int, default=42)
    args = p.parse_args(argv)

    root = os.getcwd()
    # this file's directory must not shadow stdlib modules (sys.path[0])
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [x for x in sys.path if os.path.abspath(x or ".") != here]
    if not os.path.isfile(os.path.join(root, "lucene_solr_spark", "__init__.py")):
        print("perfbench: lucene_solr_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    if root not in sys.path:
        sys.path.insert(0, root)

    from perfbench import env

    dirs = env.Workdirs(root)
    try:
        return run(args, dirs)
    finally:
        dirs.cleanup()  # this run's private directory, on every exit path


def run(args, dirs) -> int:
    """One workload run: set up, measure, print, return the exit code."""
    from perfbench import env, layers, workloads
    from perfbench.spans import Tracer

    env.prepare_process_env(dirs)
    cores = env.host_cores()
    tracer = Tracer(bool(args.trace))
    ctx = Ctx(args, dirs, cores, tracer)
    rss = ctx.rss = env.PeakRss()
    spark = None
    try:
        with tracer.span("session.get_spark"):
            spark = env.start_spark(dirs, cores, event_log=ctx.traced)
        if ctx.traced:
            tracer.sc = spark.sparkContext
        ctx.prep_s = workloads.prepare_caches(ctx, spark)
        out = workloads.WORKLOADS[args.workload](ctx, spark)
        rss.sample()
        for line in out.requests:
            print(json.dumps({"request": line}))
        if ctx.traced:
            probes = layers.tour_and_probes(ctx, spark, out)
            rss.sample()
        e2e = end_to_end(args.workload, out, rss.mb())
        if e2e is not None:
            print(json.dumps({"detail": detail(args.workload, out, e2e)}))
    finally:
        if spark is not None:
            env.stop_spark(spark)
    if e2e is None:
        print(f"perfbench: no {args.workload} operation completed", file=sys.stderr)
        return 1
    if ctx.traced:
        from perfbench.spans import attribute, parse_event_log

        log = parse_event_log(env.event_log_files(dirs))
        attribute(tracer, log)
        ref = untraced_reference(ctx, args.seed)
        metrics = layers.per_layer(ctx, out, probes, log, e2e["op_p50_ms"] / ref - 1.0)
        tracer.dump(os.path.join(dirs.traces, f"{args.workload}-seed{args.seed}.json"))
        units = layers.UNITS
    else:
        metrics = e2e
        with open(os.path.join(dirs.results, f"{args.workload}.jsonl"), "a") as f:
            f.write(json.dumps({"seed": args.seed, "seconds": args.seconds, **e2e}) + "\n")
        units = E2E_UNITS
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
