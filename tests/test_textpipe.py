"""Training-data pipeline op tests: planted-duplicate recovery, LSH
recall vs the exact inverted-join path, IVF recall vs brute force,
hot-shingle skew safety, no-cartesian plan shapes, multimodal
plumbing (schema, batch shapes, media-column pruning)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from lucene_solr_spark.operators import multimodal, textpipe


def test_exact_dedup_finds_planted(spark, sf_dir):
    got = textpipe.q_dedup_exact(spark, sf_dir).toPandas()
    # every doc_id % 7 == 0 doc has an exact copy planted
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    uniq_texts = (
        docs.filter(F.col("doc_id") % 7 == 0)
        .select(F.md5("text")).distinct().count()
    )
    assert len(got) == uniq_texts
    assert (got.n_dups >= 2).all()


def test_minhash_equals_exact_ngram(spark, sf_dir):
    """LSH candidates + exact verify must reproduce the exact
    inverted-join result (recall check at J >= 0.7)."""
    a = textpipe.q_dedup_minhash_lsh(spark, sf_dir).toPandas()
    b = textpipe.q_dedup_ngram_jaccard(spark, sf_dir).toPandas()
    assert list(zip(a.a, a.b, a.jac)) == list(zip(b.a, b.b, b.jac))
    assert len(a) > 0


def test_neardup_cosine_no_cartesian(spark, sf_dir):
    """The near-dup plan must be LSH-chunk-blocked — no CartesianProduct
    / nested-loop join anywhere (the round-1 all-pairs scale hole)."""
    q = textpipe.q_neardup_cosine(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ngram_jaccard_hot_shingle_skew(spark, sf_dir):
    """Planted ubiquitous trigram (Zipf head, df == corpus size): the
    capped candidate join must stay bounded AND lose no true pair —
    hot-only-overlap pairs ride the minhash-LSH union."""
    base = textpipe.corpus_df(spark, sf_dir)
    # append the same trigram to EVERY doc: its shingles hit df=n_docs
    hot = base.withColumn(
        "text", F.concat("text", F.lit(" zz hot shingle zz end"))
    )
    # shingles of the hot corpus, Catalyst spelling (mirror shingles_df)
    c = hot.withColumn(
        "toks", F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
    )
    sh = (
        c.filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 3),"
                    " i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))"
                )
            ).alias("sh"),
        )
        .distinct()
    )
    got = textpipe.ngram_jaccard_pairs(spark, hot, sh, 0.7).toPandas()

    # brute-force reference: full inverted join, no cap (small corpus)
    sa = sh.select(F.col("doc_id").alias("a"), "sh")
    sb = sh.select(F.col("doc_id").alias("b"), F.col("sh").alias("sh_b"))
    cand_all = (
        sa.join(sb, (F.col("sh") == F.col("sh_b")) & (F.col("a") < F.col("b")))
        .select("a", "b").distinct()
    )
    want = textpipe._pair_jaccard(cand_all, sh, 0.7).toPandas()
    pd.testing.assert_frame_equal(got, want)
    assert len(got) > 0


def test_minhash_vectorized_batch_invariance(spark, sf_dir):
    """Signatures are per-doc minima — identical whatever the Arrow
    batching/partitioning (reduceat path vs per-doc path guard)."""
    a = (
        textpipe._minhash_bands_from(textpipe.corpus_df(spark, sf_dir))
        .toPandas().sort_values(["doc_id", "band"]).reset_index(drop=True)
    )
    b = (
        textpipe._minhash_bands_from(
            textpipe.corpus_df(spark, sf_dir).repartition(13)
        )
        .toPandas().sort_values(["doc_id", "band"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_simhash_planted_exact_pairs(spark, sf_dir):
    got = textpipe.q_dedup_simhash(spark, sf_dir).toPandas()
    # exact dups (same text) have identical simhash → hamming 0 rows exist
    assert (got.hamming == 0).any()
    assert (got.hamming <= 3).all()


def test_ann_lsh_recall(spark, sf_dir):
    brute = textpipe.q_ann_topk_brute(spark, sf_dir).toPandas()
    lsh = textpipe.q_ann_lsh(spark, sf_dir).toPandas()
    recall = len(set(lsh.vec_id) & set(brute.vec_id)) / len(brute)
    assert recall >= 0.5, f"LSH recall@10 too low: {recall}"
    assert 100000 in set(lsh.vec_id)  # planted near-identical vector


def test_ann_ivf_recall(spark, sf_dir):
    brute = textpipe.q_ann_topk_brute(spark, sf_dir).toPandas()
    ivf = textpipe.q_ann_ivf(spark, sf_dir).toPandas()
    recall = len(set(ivf.vec_id) & set(brute.vec_id)) / len(brute)
    assert recall >= 0.5, f"IVF recall@10 too low: {recall}"
    # the planted near-identical vector of the query must be found
    assert 100000 in set(ivf.vec_id)


def test_ann_pq_recall(spark, sf_dir):
    """PQ ADC scan + exact re-rank clears the same recall floor as the
    LSH/IVF paths (measured 0.5 at sf0.001/0.01 with the deterministic
    first-16 codebooks), and every returned cos is the EXACT rounded
    cosine (the re-rank contract: approximation chooses candidates,
    never the published score)."""
    from pyspark.sql import functions as F

    e = textpipe.emb_df(spark, sf_dir)
    q = e.filter(F.col("vec_id") == 2).select(F.col("e").alias("qe"))
    brute = (
        e.filter(F.col("vec_id") != 2)
        .join(F.broadcast(q))
        .select("vec_id", F.round(textpipe._cos("e", "qe"), 4).alias("cos"))
        .orderBy(F.desc("cos"), "vec_id")
        .limit(10)
        .toPandas()
    )
    pq = textpipe.q_ann_pq(spark, sf_dir).toPandas()
    recall = len(set(pq.vec_id) & set(brute.vec_id)) / len(brute)
    assert recall >= 0.5, f"PQ recall@10 too low: {recall}"
    exact = dict(zip(brute.vec_id, brute.cos))
    for vid, c in zip(pq.vec_id, pq.cos):
        if vid in exact:
            assert c == exact[vid], (vid, c, exact[vid])


def test_ann_sq8_recall(spark, sf_dir):
    """SQ8 quantized scan + exact re-rank must reproduce the exact
    brute-force top-10 for its query (vec_id=1): int8 rank order is a
    tight cosine approximation and the 50-candidate refine absorbs any
    quantization inversions near the boundary."""
    from pyspark.sql import functions as F

    e = textpipe.emb_df(spark, sf_dir)
    q = e.filter(F.col("vec_id") == 1).select(F.col("e").alias("qe"))
    brute = (
        e.filter(F.col("vec_id") != 1)
        .join(F.broadcast(q))
        .select("vec_id", F.round(textpipe._cos("e", "qe"), 4).alias("cos"))
        .orderBy(F.desc("cos"), "vec_id")
        .limit(10)
        .toPandas()
    )
    sq8 = textpipe.q_ann_sq8(spark, sf_dir).toPandas()
    assert list(sq8.vec_id) == list(brute.vec_id)
    assert list(sq8.cos) == list(brute.cos)


def test_bpe_train_hand_example(spark):
    """Three merge rounds over a 2-doc corpus, fully hand-computed:
    word freqs aa:3 ab:1 b:1; round-1 pairs (a,a):3 (a,</w>):3
    (a,b):1 (b,</w>):2 — tie broken on rhs asc ('<' sorts before
    'a'), so (a,</w>) merges first; round 2 merges (a, a</w>); round
    3's only repeated pair left is (b, </w>)."""
    d = spark.createDataFrame([("aa ab",), ("aa aa b",)], "text string")
    assert textpipe.bpe_train(d, 3) == [
        (1, "a", "</w>", "a</w>", 3),
        (2, "a", "a</w>", "aa</w>", 3),
        (3, "b", "</w>", "b</w>", 2),
    ]


def test_multimodal_features_schema_and_determinism(spark, sf_dir):
    a = multimodal.q_multimodal_features(spark, sf_dir).toPandas()
    b = multimodal.q_multimodal_features(spark, sf_dir).toPandas()
    assert list(a.columns) == ["doc_id", "kind", "n_bytes", "f_mean", "f_head", "f_crc"]
    assert a.equals(b)  # deterministic fake decode
    assert set(a.kind) == {"image", "audio", "video"}
    assert (a.n_bytes > 0).all()


def test_multimodal_frame_sample_shapes(spark, sf_dir):
    f = multimodal.q_multimodal_frame_sample(spark, sf_dir).toPandas()
    assert (f.frame_idx % 4 == 0).all()
    assert (f.frame_bytes.between(1, 64)).all()


def test_bmp_synth_decode_roundtrip():
    """The two BMP format traps, pinned without Spark: 4-byte row
    padding (doc ids below cover pad 0,1,2,3) and bottom-up row
    storage (top-left pixel must survive the flip)."""
    import struct

    for doc_id in (0, 3, 6, 9, 12):  # w = 7,16,13,10,19 → pad 3,0,1,2,3
        raw = multimodal._synth_bmp(doc_id)
        w, h = multimodal._bmp_dims(doc_id)
        want = multimodal._bmp_pixels(doc_id, w, h)
        magic, _sz, _r1, _r2, off = struct.unpack_from("<2sIHHI", raw, 0)
        assert magic == b"BM" and off == 54
        pad = (-w * 3) % 4
        stride = w * 3 + pad
        import numpy as np

        body = np.frombuffer(raw, np.uint8, count=h * stride, offset=off)
        got = body.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
        got = got[::-1, :, ::-1]  # bottom-up rows, BGR channels
        assert (got == want).all()
        # orientation witness: the FIRST stored row is the image's
        # BOTTOM row — a decoder that skips the flip reads the wrong
        # top-left pixel (pixel fields vary with y, so rows differ)
        first_stored = body.reshape(h, stride)[0, : w * 3].reshape(w, 3)[:, ::-1]
        assert (first_stored == want[h - 1]).all()
        assert not (first_stored == want[0]).all()


def test_multimodal_meta_prunes_media(spark, sf_dir):
    """Metadata-only aggregate over n_chars must not read the media
    payload column from parquet (column pruning at 100 TB)."""
    m = multimodal.media_df(spark, sf_dir)
    plan = m.groupBy("kind").agg(F.avg("meta.n_chars")).explain
    q = m.groupBy("kind").agg(F.round(F.avg("meta.n_chars"), 4).alias("a"))
    optimized = q._jdf.queryExecution().optimizedPlan().toString()
    assert "text#" not in optimized.split("Relation")[0], optimized
    _ = plan

def test_dedup_clusters_planted_components(spark, sf_dir):
    """Docs divisible by 77 have BOTH planted dups (exact at +100000,
    near at +200000): all three must land in one cluster labeled by
    the base doc_id. Plan hygiene: no cartesian anywhere."""
    q = textpipe.q_dedup_clusters(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    got = {r["doc_id"]: r["cluster_id"] for r in q.collect()}
    base77 = sorted(
        d for d, c in got.items() if d % 77 == 0 and d < 100000
    )
    assert base77, "expected at least one doc divisible by 77"
    for d in base77:
        assert got[d] == d
        assert got.get(d + 100000) == d
        assert got.get(d + 200000) == d
    # keep-one stage invariant: every cluster label is a member of it
    assert all(got[c] == c for c in set(got.values()))


def test_pack_sequences_matches_driver_cumsum(spark, sf_dir):
    """Distributed prefix-sum packing vs a single-threaded pandas
    cumsum of the same corpus — bin boundaries must agree exactly
    (partition-count independence is the whole point of the op)."""
    import pandas as pd

    got = textpipe.q_pack_sequences(spark, sf_dir).toPandas()
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            "doc_id",
            F.size(
                F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
            ).alias("n_tok"),
        )
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    docs["start"] = docs.n_tok.cumsum() - docs.n_tok
    docs["bin_id"] = docs.start // textpipe._PACK_BUDGET
    want = (
        docs.groupby("bin_id")
        .agg(
            n_docs=("doc_id", "size"),
            n_tokens=("n_tok", "sum"),
            first_doc=("doc_id", "min"),
            last_doc=("doc_id", "max"),
        )
        .reset_index()
    )
    pd.testing.assert_frame_equal(
        got.astype("int64"), want.astype("int64"), check_like=True
    )


def test_sample_stratified_is_shuffle_free(spark, sf_dir):
    """The sampling filter itself is a narrow pass: the only exchange
    in the plan is the presentation orderBy for the oracle compare."""
    q = textpipe.q_sample_stratified(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    # per-stratum keep rates land near the configured targets
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tot = {r["source"]: r["n"] for r in
           d.groupBy("source").agg(F.count("*").alias("n")).collect()}
    kept = {r["source"]: r["n"] for r in
            q.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert 0.3 < kept.get("src0", 0) / tot["src0"] < 0.7
    assert kept.get("src1", 0) / tot["src1"] < 0.45


# --- exact-substring window dedup (r4) --------------------------------

def test_substring_dedup_catches_planted_pairs(spark, sf_dir):
    """Every planted duplicate long enough to contain a full window
    must surface: exact dups (doc, doc+100000) share ALL windows;
    near dups (doc, doc+200000, 3 extra tail tokens) share the prefix
    windows. The strided-window guarantee: any shared verbatim span of
    >= W + S - 1 tokens aligns on at least one window."""
    from lucene_solr_spark.operators.textpipe import (
        _SUB_S,
        _SUB_W,
        q_dedup_substring,
    )

    rows = q_dedup_substring(spark, sf_dir).collect()
    pairs = {(r.a, r.b): r.n_shared for r in rows}
    docs = {
        r.doc_id: r.n
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .selectExpr(
            "doc_id",
            "size(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) AS n",
        )
        .collect()
    }
    for d, n in docs.items():
        n_wins = (n - _SUB_W) // _SUB_S + 1 if n >= _SUB_W else 0
        if d % 7 == 0 and n_wins > 0:
            assert pairs.get((d, d + 100000)) == n_wins, (d, n)
        if d % 11 == 0 and n_wins > 0:
            assert (d, d + 200000) in pairs, (d, n)
    # no self-pairs, ordered keys
    assert all(a < b for (a, b) in pairs)


def test_substring_dedup_duel_vs_python_reference(spark, sf_dir):
    """Independent duel: the Spark window join must equal a
    dict-based pure-python implementation of the same pinned contract
    (stride-5 20-token windows, df-cap 64, distinct windows per doc,
    pairs a<b with shared-window counts)."""
    import re
    from collections import defaultdict

    from lucene_solr_spark.operators.textpipe import (
        _SUB_DFCAP,
        _SUB_S,
        _SUB_W,
        corpus_df,
        q_dedup_substring,
    )

    pdf = corpus_df(spark, sf_dir).toPandas()
    tok = re.compile(r"[a-z0-9]+")
    by_win: dict[str, set[int]] = defaultdict(set)
    for r in pdf.itertuples():
        toks = tok.findall(r.text.lower())
        if len(toks) < _SUB_W:
            continue
        for p in range((len(toks) - _SUB_W) // _SUB_S + 1):
            w = " ".join(toks[p * _SUB_S : p * _SUB_S + _SUB_W])
            by_win[w].add(int(r.doc_id))
    want: dict[tuple[int, int], int] = defaultdict(int)
    for w, docs in by_win.items():
        if len(docs) > _SUB_DFCAP:
            continue
        ds = sorted(docs)
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                want[(ds[i], ds[j])] += 1
    got = {
        (int(r.a), int(r.b)): int(r.n_shared)
        for r in q_dedup_substring(spark, sf_dir).collect()
    }
    assert got == dict(want)
    assert got  # planted dups guarantee pairs exist


def test_semantic_dedup_contract(spark, sf_dir):
    """SemDeDup pinned contract: (1) no CartesianProduct — clustering
    is an equi-join on cluster id; (2) every planted +0.02 twin pair
    (vec_id, vec_id+100000) loses EXACTLY its closer-to-centroid
    member (cos ~1 >= tau); (3) kept set is per-cluster greedy in
    (csim asc, vec_id) order."""
    q = textpipe.q_dedup_semantic(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    # nested-loop joins may appear ONLY as the bounded 16-row centroid
    # broadcast (vec_id < 16 build side, one per subtree reuse); the
    # within-cluster pair generation must be an EQUI-join on cluster id
    import re

    assert re.search(
        r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)[^\n]*ucid", plan
    ), plan
    # every nested-loop line must be a BuildRight broadcast (the
    # bounded side) — a streaming-side nested loop would be the
    # all-pairs scale hole
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "BuildRight" in line, line

    rows = {r.vec_id: r for r in q.collect()}
    twins = [(v, v + 100000) for v in rows if v + 100000 in rows]
    assert twins
    same_cluster = [p for p in twins if rows[p[0]].cid == rows[p[1]].cid]
    assert same_cluster  # the shifted twin lands in the same cluster
    for a, b in same_cluster:
        ra, rb = rows[a], rows[b]
        # exactly one survivor per twin pair, and it is the one with
        # LOWER centroid similarity (kept-farthest-from-centroid),
        # unless a third neighbor already removed both
        assert not (ra.kept and rb.kept), (a, b)
        if ra.kept or rb.kept:
            keeper = ra if ra.kept else rb
            loser = rb if ra.kept else ra
            assert (keeper.csim, keeper.vec_id) <= (loser.csim, loser.vec_id)


def test_png_unfilter_is_warning_free():
    """Sub, Average and Paeth unfiltering wrap mod 256 without numpy
    scalar-overflow warnings, and decode to the same bytes as the
    uint8-scalar arithmetic they replaced (digest pinned from it)."""
    import hashlib
    import warnings

    import numpy as np

    rng = np.random.RandomState(11)
    h = hashlib.md5()
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        for f in (1, 3, 4):
            for _ in range(4):
                prev = rng.randint(0, 256, 48).astype(np.uint8)
                enc = rng.randint(0, 256, 48).astype(np.uint8)
                h.update(multimodal._unfilter_row(f, enc, prev).tobytes())
    assert h.hexdigest() == "68b3a69dba08fd4ceec836fcb4731199"


def test_png_filters_roundtrip_and_crc():
    """PNG codec pins, no Spark: (a) every filter type 0-4 round-trips
    filter→unfilter on random rows; (b) the synthesized file decodes
    back to the exact pixel field through DEFLATE + the full filter
    chain; (c) a corrupted IDAT byte fails the CRC check (the decoder
    validates chunk integrity, it doesn't just trust the stream)."""
    import struct
    import zlib

    import numpy as np

    rng = np.random.RandomState(7)
    for f in range(5):
        prev = rng.randint(0, 256, 30).astype(np.uint8)
        raw = rng.randint(0, 256, 30).astype(np.uint8)
        enc = multimodal._filter_row(f, raw, prev)
        assert (multimodal._unfilter_row(f, enc, prev) == raw).all()
    for doc_id in (0, 3, 6, 9, 12):
        raw = multimodal._synth_png(doc_id)
        w, h = multimodal._png_dims(doc_id)
        assert h >= 5  # every filter type appears (row % 5)
        want = multimodal._png_pixels(doc_id, w, h)
        # decode inline (the same logic the Arrow stage runs)
        pos, idat = 8, bytearray()
        while pos < len(raw):
            (ln,) = struct.unpack_from(">I", raw, pos)
            tag = raw[pos + 4:pos + 8]
            body = raw[pos + 8:pos + 8 + ln]
            (crc,) = struct.unpack_from(">I", raw, pos + 8 + ln)
            assert zlib.crc32(tag + body) & 0xFFFFFFFF == crc
            if tag == b"IDAT":
                idat += body
            pos += 12 + ln
        stream = zlib.decompress(bytes(idat))
        stride = w * 3
        prev = np.zeros(stride, np.uint8)
        out = []
        for yy in range(h):
            off = yy * (stride + 1)
            row = multimodal._unfilter_row(
                stream[off],
                np.frombuffer(stream, np.uint8, count=stride,
                              offset=off + 1),
                prev)
            out.append(row)
            prev = row
        got = np.stack(out).reshape(h, w, 3)
        assert (got == want).all()
    # CRC rejection: flip one byte inside the first IDAT body
    raw = bytearray(multimodal._synth_png(3))
    i = raw.index(b"IDAT") + 4
    raw[i] ^= 0xFF
    (ln,) = struct.unpack_from(">I", bytes(raw), i - 8)
    tag = bytes(raw[i - 4:i])
    body = bytes(raw[i:i - 4 + 4 + ln])
    (crc,) = struct.unpack_from(">I", bytes(raw), i + ln)
    assert zlib.crc32(tag + body) & 0xFFFFFFFF != crc
