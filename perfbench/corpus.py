"""Benchmark corpora: generated by the engine's own synthetic generator
(:func:`lucene_solr_spark.transcripts.generate_transcripts`), written
to Parquet once and cached under ``.bench_work/cache``.

The cache key hashes the generator's *output* — the first rows its
per-batch kernel produces for the corpus's seed and vocabulary — with
the generator module's source and the corpus shape, so a changed
generator never serves a stale corpus (``bench.py`` keys its ``/tmp``
corpus by row count alone).

Corpus statistics the requests and the checks need (document
frequencies per term, text bytes, postings count) come from DuckDB
over the same Parquet files, using the oracle's spelling of the
analyzer, and are cached beside the corpus.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass

#: rows of generator output hashed into the cache key
_KEY_ROWS = 256


@dataclass(frozen=True)
class CorpusSpec:
    name: str
    n_turns: int
    seed: int
    splits: int
    vocab_size: int = 50_000
    #: prepended to conv_id (ingest micro-batches stay disjoint from
    #: the base corpus)
    conv_prefix: str = ""


def _generate(spark, spec: CorpusSpec, n_turns: int, partitions: int):
    from pyspark.sql import functions as F

    from lucene_solr_spark.transcripts import generate_transcripts

    df = generate_transcripts(
        spark, n_turns, seed=spec.seed, vocab_size=spec.vocab_size,
        partitions=partitions,
    )
    if spec.conv_prefix:
        df = df.withColumn("conv_id", F.concat(F.lit(spec.conv_prefix), "conv_id"))
    return df


def cache_key(spec: CorpusSpec) -> str:
    """Hash of the corpus shape, the generator module's source and the
    rows its per-batch kernel produces for the first row ids."""
    import inspect

    import numpy as np

    from lucene_solr_spark import transcripts

    head = transcripts._gen_batch(
        np.arange(min(_KEY_ROWS, spec.n_turns), dtype=np.uint64),
        spec.seed, spec.vocab_size, 16)
    h = hashlib.sha256(json.dumps(asdict(spec), sort_keys=True).encode())
    h.update(inspect.getsource(transcripts).encode())
    h.update(head.astype(str).to_csv(index=False).encode())
    return h.hexdigest()[:16]


def materialize(spark, cache_dir: str, spec: CorpusSpec, tracer=None) -> str:
    """Path of the corpus Parquet directory, generating it on a miss."""
    path = os.path.join(cache_dir, f"corpus-{spec.name}-{cache_key(spec)}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    from contextlib import nullcontext

    ctx = tracer.span("transcripts.generate", turns=spec.n_turns) if tracer else nullcontext()
    with ctx:
        _generate(spark, spec, spec.n_turns, spec.splits).write.parquet(tmp)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def parquet_glob(path: str) -> str:
    return os.path.join(path, "*.parquet")


def split_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )


# -- DuckDB views -------------------------------------------------------------


def duck(paths: list[str], table: str = "corpus"):
    """A DuckDB connection with one table (default ``corpus``): the
    given corpora with a pre-tokenized ``toks`` column in the oracle's
    analyzer spelling."""
    import duckdb

    from lucene_solr_spark.query.oracle import DEFAULT_TOKS_SQL

    con = duckdb.connect()
    con.execute("SET threads = 4")
    files = ", ".join(f"'{parquet_glob(p)}'" for p in paths)
    con.execute(
        f"CREATE TABLE {table} AS SELECT *, {DEFAULT_TOKS_SQL} AS toks "
        f"FROM read_parquet([{files}])"
    )
    return con


def stats_path(path: str) -> str:
    # a leading underscore keeps Spark's Parquet reader away from it
    return os.path.join(path, "_stats.json")


def stats(path: str) -> dict:
    """Cached corpus statistics: rows, text bytes, tokens, postings
    (distinct doc-term pairs) and document frequency per term."""
    out = stats_path(path)
    if os.path.exists(out):
        with open(out) as f:
            return json.load(f)
    con = duck([path])
    n_docs, text_bytes, n_tokens = con.execute(
        "SELECT count(*), sum(strlen(text)), sum(len(toks)) FROM corpus"
    ).fetchone()
    dfs = con.execute(
        "SELECT term, count(*) FROM (SELECT DISTINCT rowid AS d, unnest(toks) "
        "AS term FROM corpus) GROUP BY term"
    ).fetchall()
    con.close()
    st = {
        "n_docs": int(n_docs),
        "text_bytes": int(text_bytes),
        "n_tokens": int(n_tokens),
        "n_postings": int(sum(df for _, df in dfs)),
        "df": {t: int(df) for t, df in dfs},
    }
    with open(out + ".tmp", "w") as f:
        json.dump(st, f)
    os.replace(out + ".tmp", out)
    return st


def df_bands(df: dict[str, int], n_docs: int) -> dict[str, set[str]]:
    """Terms by document-frequency band: ``head`` in at least 5% of
    documents, ``mid`` in 0.2%-2%, ``tail`` in 3 documents up to
    0.05%."""
    tail_hi = max(3, n_docs // 2000)
    return {
        "head": {t for t, d in df.items() if d >= n_docs * 0.05},
        "mid": {t for t, d in df.items() if n_docs * 0.002 <= d <= n_docs * 0.02},
        "tail": {t for t, d in df.items() if 3 <= d <= tail_hi},
    }
