"""Multimodal column plumbing (task brief): image/audio/video as opaque
``binary`` columns with typed metadata, processed by Arrow-batched
``mapInPandas`` stages.

All four modalities now carry a REAL codec round-trip in pure
python/stdlib — no ffmpeg/PIL needed: WAV (RIFF PCM16 via stdlib
``wave``), BMP (24-bit uncompressed), PNG (zlib DEFLATE + the full
scanline filter family + CRC validation) and VIDEO as Y4M/YUV4MPEG2
(stream-header + FRAME framing + raw plane reads,
``q_multimodal_video_decode`` — closing the last r4 stub). The one
remaining ``NotImplementedError`` guards the generic feature-extract
path's real-library branch (PIL/librosa are absent by design; the
deterministic byte-statistics fake keeps that plumbing — schema,
partitioning, UDF signature, Arrow batch shape — real and tested).

The media bytes here are derived deterministically from ``documents``
(utf-8 payload + a modality tag by ``doc_id % 3``), which keeps the
metadata query oracle-checkable in DuckDB while the binary pipeline
exercises true binary-column Spark plumbing.
"""

from __future__ import annotations

import zlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucene_solr_spark.session import cpu_scaled

QueryFn = Callable[[SparkSession, str], DataFrame]

OPS: list[tuple[str, QueryFn, str | None]] = []


def op(name: str, oracle: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        OPS.append((name, fn, oracle))
        return fn

    return deco


KINDS = ["image", "audio", "video"]

#: real decoders would live here; the container has none of these libs
_DECODERS_AVAILABLE = False
try:  # pragma: no cover - never true in this container
    import PIL.Image  # noqa: F401

    _DECODERS_AVAILABLE = True
except ImportError:
    pass


def media_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal table: (doc_id, kind, media binary, meta struct).

    At production scale this is the parquet/Iceberg layout we'd use:
    binary payload column + typed metadata struct; Catalyst prunes the
    (large) media column away for metadata-only queries.
    """
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kind = F.element_at(
        F.array(*[F.lit(k) for k in KINDS]), (F.col("doc_id") % 3 + 1).cast("int")
    )
    return d.select(
        "doc_id",
        kind.alias("kind"),
        F.encode("text", "utf-8").alias("media"),
        F.struct(
            F.col("n_chars").alias("n_chars"),
            F.col("lang").alias("lang"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )


def _decode_features(media: bytes, kind: str) -> np.ndarray:
    """STUB decode + feature-extract for one payload.

    Real path (PIL/librosa/ffmpeg) is unavailable in this container;
    the deterministic fake derives 4 features from byte statistics so
    the distributed plumbing is testable end-to-end.
    """
    if _DECODERS_AVAILABLE:  # pragma: no cover
        raise NotImplementedError("real media decode not wired in this sandbox")
    b = np.frombuffer(media, np.uint8)
    return np.array(
        [
            float(len(b)),
            float(b.mean()) if len(b) else 0.0,
            float(b[:16].sum()) if len(b) else 0.0,
            float(zlib.crc32(media) % 1000),
        ]
    )


# ref plumbing pattern: iterator-of-batches mapInPandas (UDTF analog,
# SURVEY §2.9) — one Arrow batch in, one out, no per-row Python beyond
# the stubbed decoder call (a real decoder is inherently per-payload).
@op("q_multimodal_features", None)  # rows-only check: stubbed decode
def q_multimodal_features(spark, sf_dir):
    schema = "doc_id long, kind string, n_bytes long, f_mean double, f_head double, f_crc double"

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = np.stack(
                [
                    _decode_features(m, k)
                    for m, k in zip(pdf["media"], pdf["kind"])
                ]
            ) if len(pdf) else np.zeros((0, 4))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "kind": pdf["kind"],
                    "n_bytes": feats[:, 0].astype(np.int64),
                    "f_mean": np.round(feats[:, 1], 4),
                    "f_head": feats[:, 2],
                    "f_crc": feats[:, 3],
                }
            )

    return (
        cpu_scaled(media_df(spark, sf_dir), "doc_id")
        .mapInPandas(extract, schema)
        .orderBy("doc_id")
    )


# The stub decode is deterministic byte math over the utf-8 payload,
# so its exact-integer core IS oracle-expressible: DuckDB recomputes
# byte length, byte sum and head-16 sum from the text characters
# (ASCII corpus: octet == codepoint). f_mean/f_crc stay in the
# rows-only op above (no crc32 in DuckDB; float mean rounding differs).
@op(
    "q_multimodal_features_check",
    """WITH chars AS (
  SELECT doc_id, strlen(text) AS n_bytes,
         unnest(string_split_regex(text, '')) AS ch,
         generate_subscripts(string_split_regex(text, ''), 1) AS pos
  FROM documents)
SELECT doc_id,
  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
       WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
  CAST(any_value(n_bytes) AS BIGINT) AS n_bytes,
  CAST(sum(ascii(ch)) AS BIGINT) AS b_sum,
  CAST(sum(CASE WHEN pos <= 16 THEN ascii(ch) ELSE 0 END) AS BIGINT)
    AS f_head
FROM chars GROUP BY doc_id ORDER BY doc_id""",
)
def q_multimodal_features_check(spark, sf_dir):
    """Driver-attestable twin of the feature-extract plumbing: the
    exact-integer byte statistics (length / byte sum / head-16 sum)
    through the SAME iterator-mapInPandas decode stage."""
    schema = "doc_id long, kind string, n_bytes long, b_sum long, f_head long"

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [np.frombuffer(m, np.uint8) for m in pdf["media"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "kind": pdf["kind"],
                    "n_bytes": np.array([len(b) for b in rows], np.int64),
                    "b_sum": np.array(
                        [int(b.sum()) for b in rows], np.int64
                    ),
                    "f_head": np.array(
                        [int(b[:16].sum()) for b in rows], np.int64
                    ),
                }
            )

    return (
        cpu_scaled(media_df(spark, sf_dir), "doc_id")
        .mapInPandas(extract, schema)
        .orderBy("doc_id")
    )


@op(
    "q_multimodal_frame_sample",
    """WITH v AS (
  SELECT doc_id, strlen(text) AS L FROM documents WHERE doc_id % 3 = 2),
f AS (
  SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
         CAST(least(64, L - i * 64) AS BIGINT) AS frame_bytes
  FROM v, unnest(range(0, CAST(ceil(L / 64.0) AS BIGINT), 4)) AS u(i))
SELECT doc_id, frame_idx, frame_bytes FROM f
ORDER BY doc_id, frame_idx""",
)
def q_multimodal_frame_sample(spark, sf_dir):
    """Frame sampling stub for 'video' payloads: every k-th 64-byte
    chunk becomes one 'frame' row (explode pattern — the shape a real
    ffmpeg-based sampler would produce)."""
    schema = "doc_id long, frame_idx int, frame_bytes long"

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fidx, fbytes = [], [], []
            for doc_id, media in zip(pdf["doc_id"], pdf["media"]):
                n_chunks = (len(media) + 63) // 64
                for i in range(0, n_chunks, 4):  # sample every 4th frame
                    ids.append(doc_id)
                    fidx.append(i)
                    fbytes.append(min(64, len(media) - i * 64))
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": fidx, "frame_bytes": fbytes}
            )

    return (
        media_df(spark, sf_dir)
        .filter(F.col("kind") == "video")
        .mapInPandas(sample, schema)
        .orderBy("doc_id", "frame_idx")
    )


# ---------------------------------------------------------------------------
# REAL audio decode: WAV (RIFF PCM16) needs only the stdlib `wave`
# module — no ffmpeg — so the audio modality gets a genuine
# encode→binary-column→decode→features pipeline, not a stub. The
# signal is integer arithmetic (sawtooth) so every feature is
# integer-exact and the DuckDB twin replicates it bit-for-bit.
# ---------------------------------------------------------------------------

_WAV_SR = 8000


def _synth_wav(doc_id: int) -> bytes:
    """A real RIFF/WAVE PCM16 mono file: deterministic integer
    sawtooth — n = 800 + (id%5)*400 samples, s_i = (i*step + id) %
    2001 − 1000 with step = 3 + id%7."""
    import io
    import wave

    n = 800 + (doc_id % 5) * 400
    step = 3 + doc_id % 7
    i = np.arange(n, dtype=np.int64)
    s = ((i * step + doc_id) % 2001 - 1000).astype(np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(_WAV_SR)
        w.writeframes(s.tobytes())
    return buf.getvalue()


@op(
    "q_multimodal_wav_decode",
    """WITH a AS (
  SELECT doc_id, 800 + (doc_id % 5) * 400 AS n, 3 + doc_id % 7 AS step
  FROM documents WHERE doc_id % 3 = 1),
s AS (
  SELECT doc_id, n, i, (i * step + doc_id) % 2001 - 1000 AS v
  FROM a, unnest(range(0, n)) AS u(i)),
x AS (
  SELECT doc_id, n, v,
         lead(v) OVER (PARTITION BY doc_id ORDER BY i) AS nv
  FROM s)
SELECT doc_id,
  CAST(8000 AS BIGINT) AS sample_rate,
  CAST(any_value(n) AS BIGINT) AS n_samples,
  CAST(any_value(n) * 1000 // 8000 AS BIGINT) AS duration_ms,
  CAST(max(abs(v)) AS BIGINT) AS peak,
  CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
  CAST(sum(CASE WHEN nv IS NOT NULL AND ((v >= 0) != (nv >= 0))
       THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
FROM x GROUP BY doc_id ORDER BY doc_id""",
)
def q_multimodal_wav_decode(spark, sf_dir):
    """REAL audio pipeline for the 'audio' modality: synthesize actual
    RIFF/WAVE PCM16 bytes into the binary column (stdlib `wave`
    encoder), then DECODE them back in a separate Arrow stage — header
    parse (rate/frames) + PCM frame read — and extract integer-exact
    features (duration, peak, sum|s|, zero crossings). Unlike the
    image/video stubs this is a true codec round-trip; the oracle
    recomputes the same features from the signal definition."""
    schema_syn = "doc_id long, wav binary"
    schema_out = (
        "doc_id long, sample_rate long, n_samples long, duration_ms long, "
        "peak long, sum_abs long, zero_crossings long"
    )
    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .filter(F.col("doc_id") % 3 == 1)  # the 'audio' docs
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "wav": [_synth_wav(int(x)) for x in pdf["doc_id"]],
                }
            )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave

        for pdf in batches:
            rows = []
            for doc_id, b in zip(pdf["doc_id"], pdf["wav"]):
                with wave.open(io.BytesIO(bytes(b))) as w:
                    sr = w.getframerate()
                    n = w.getnframes()
                    assert w.getnchannels() == 1 and w.getsampwidth() == 2
                    s = np.frombuffer(
                        w.readframes(n), np.int16
                    ).astype(np.int64)
                zc = int(((s[:-1] >= 0) != (s[1:] >= 0)).sum())
                rows.append(
                    (
                        int(doc_id), sr, n, n * 1000 // sr,
                        int(np.abs(s).max()), int(np.abs(s).sum()), zc,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "sample_rate", "n_samples", "duration_ms",
                    "peak", "sum_abs", "zero_crossings",
                ],
            )

    wav = cpu_scaled(d, "doc_id").mapInPandas(synth, schema_syn)
    return wav.mapInPandas(decode, schema_out).orderBy("doc_id")


# ---------------------------------------------------------------------------
# REAL image decode: BMP (Windows V3, 24-bit uncompressed) needs only
# struct/numpy — no PIL — so the image modality also gets a genuine
# encode→binary-column→decode→features pipeline. The decoder must
# honor the format's two traps: 4-byte row padding (widths are chosen
# so pad ∈ {0,1,2,3} all occur) and BOTTOM-UP row order (the top_left
# feature is wrong unless rows are flipped). All features are integer
# arithmetic, so the DuckDB twin replicates them bit-for-bit from the
# pixel definition.
# ---------------------------------------------------------------------------


def _bmp_dims(doc_id: int) -> tuple[int, int]:
    return 7 + (doc_id % 5) * 3, 5 + (doc_id % 4) * 3  # (w, h)


def _bmp_pixels(doc_id: int, w: int, h: int) -> np.ndarray:
    """(h, w, 3) uint8 RGB, row 0 = TOP row: deterministic integer
    field r=(x*7+y*3+id)%256, g=(x*11+y+id*5)%256, b=(x+y*13+id*9)%256."""
    y, x = np.mgrid[0:h, 0:w]
    r = (x * 7 + y * 3 + doc_id) % 256
    g = (x * 11 + y + doc_id * 5) % 256
    b = (x + y * 13 + doc_id * 9) % 256
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


def _synth_bmp(doc_id: int) -> bytes:
    """A real BMP file: BITMAPFILEHEADER + BITMAPINFOHEADER + padded
    bottom-up BGR rows."""
    import struct

    w, h = _bmp_dims(doc_id)
    px = _bmp_pixels(doc_id, w, h)
    pad = (-w * 3) % 4
    stride = w * 3 + pad
    body = bytearray()
    for row in px[::-1]:  # BMP stores rows bottom-up
        body += row[:, ::-1].tobytes()  # ...and channels as BGR
        body += b"\x00" * pad
    size = 14 + 40 + h * stride
    hdr = struct.pack("<2sIHHI", b"BM", size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, h * stride,
                       2835, 2835, 0, 0)
    return bytes(hdr + info + body)


@op(
    "q_multimodal_bmp_decode",
    """WITH img AS (
  SELECT doc_id, 7 + (doc_id % 5) * 3 AS w, 5 + (doc_id % 4) * 3 AS h
  FROM documents WHERE doc_id % 3 = 0),
px AS (
  SELECT doc_id, w, h, x, y,
         (x * 7 + y * 3 + doc_id) % 256 AS r,
         (x * 11 + y + doc_id * 5) % 256 AS g,
         (x + y * 13 + doc_id * 9) % 256 AS b
  FROM img, unnest(range(0, w)) AS ux(x), unnest(range(0, h)) AS uy(y))
SELECT doc_id,
  CAST(any_value(w) AS BIGINT) AS width,
  CAST(any_value(h) AS BIGINT) AS height,
  CAST(count(*) AS BIGINT) AS n_pixels,
  CAST(sum(r) AS BIGINT) AS sum_r,
  CAST(sum(g) AS BIGINT) AS sum_g,
  CAST(sum(b) AS BIGINT) AS sum_b,
  CAST(sum(CASE WHEN r + g + b >= 384 THEN 1 ELSE 0 END) AS BIGINT)
    AS bright,
  CAST(max(CASE WHEN x = 0 AND y = 0
           THEN r * 65536 + g * 256 + b END) AS BIGINT) AS top_left
FROM px GROUP BY doc_id ORDER BY doc_id""",
)
def q_multimodal_bmp_decode(spark, sf_dir):
    """REAL image pipeline for the 'image' modality: synthesize actual
    24-bit BMP bytes into the binary column, then DECODE them back in
    a separate Arrow stage — header parse (magic/offset/bpp/
    compression validated), 4-byte row-padding strip, bottom-up row
    flip, BGR→RGB — and extract integer-exact features. top_left is
    the orientation witness: a decoder that ignores BMP's bottom-up
    storage reports the wrong pixel. The oracle recomputes every
    feature from the pixel definition."""
    schema_syn = "doc_id long, img binary"
    schema_out = (
        "doc_id long, width long, height long, n_pixels long, sum_r long, "
        "sum_g long, sum_b long, bright long, top_left long"
    )
    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .filter(F.col("doc_id") % 3 == 0)  # the 'image' docs
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "img": [_synth_bmp(int(x)) for x in pdf["doc_id"]],
                }
            )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        for pdf in batches:
            rows = []
            for doc_id, raw in zip(pdf["doc_id"], pdf["img"]):
                raw = bytes(raw)
                magic, _sz, _r1, _r2, off = struct.unpack_from("<2sIHHI", raw, 0)
                assert magic == b"BM"
                (_hsz, w, h, _pl, bpp, comp) = struct.unpack_from(
                    "<IiiHHI", raw, 14
                )
                assert bpp == 24 and comp == 0 and h > 0
                pad = (-w * 3) % 4
                stride = w * 3 + pad
                rows_bgr = np.frombuffer(
                    raw, np.uint8, count=h * stride, offset=off
                ).reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
                px = rows_bgr[::-1, :, ::-1].astype(np.int64)  # top-down RGB
                r, g, b = px[..., 0], px[..., 1], px[..., 2]
                rows.append(
                    (
                        int(doc_id), w, h, w * h,
                        int(r.sum()), int(g.sum()), int(b.sum()),
                        int(((r + g + b) >= 384).sum()),
                        int(r[0, 0]) * 65536 + int(g[0, 0]) * 256 + int(b[0, 0]),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "n_pixels", "sum_r",
                    "sum_g", "sum_b", "bright", "top_left",
                ],
            )

    img = cpu_scaled(d, "doc_id").mapInPandas(synth, schema_syn)
    return img.mapInPandas(decode, schema_out).orderBy("doc_id")


# metadata-only query: Catalyst must prune the media column entirely
# (checked in tests via the optimized plan) — the 100 TB win.
@op(
    "q_multimodal_meta",
    """SELECT
  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
       WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
  count(*) AS cnt,
  CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
  round(avg(n_chars), 4) AS avg_chars
FROM documents GROUP BY 1 ORDER BY kind""",
)
def q_multimodal_meta(spark, sf_dir):
    m = media_df(spark, sf_dir)
    return (
        m.groupBy("kind")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.length("media")).cast("long").alias("total_bytes"),
            F.round(F.avg("meta.n_chars"), 4).alias("avg_chars"),
        )
        .orderBy("kind")
    )


# ---------------------------------------------------------------------------
# REAL compressed-image decode: PNG (RGB8, non-interlaced) needs only
# stdlib zlib — signature, chunk framing with CRC32 validation, IDAT
# reassembly across chunks, DEFLATE inflate, and the full scanline
# filter family (None/Sub/Up/Average/Paeth, one of each exercised by
# construction). Where BMP proved header/layout handling, PNG proves
# the COMPRESSION and PREDICTION layers: any unfilter bug corrupts the
# integer feature sums the DuckDB twin recomputes from the pixel
# definition.
# ref: SURVEY multimodal row; PNG spec (RFC 2083) — public format.
# ---------------------------------------------------------------------------


def _png_dims(doc_id: int) -> tuple[int, int]:
    return 9 + (doc_id % 4) * 5, 6 + (doc_id % 3) * 4  # (w, h), h >= 6


def _png_pixels(doc_id: int, w: int, h: int) -> np.ndarray:
    """(h, w, 3) uint8 RGB, row 0 = TOP: r=(x*5+y*7+id*3)%256,
    g=(x*3+y*11+id)%256, b=(x*13+y+id*7)%256."""
    y, x = np.mgrid[0:h, 0:w]
    r = (x * 5 + y * 7 + doc_id * 3) % 256
    g = (x * 3 + y * 11 + doc_id) % 256
    b = (x * 13 + y + doc_id * 7) % 256
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """The Paeth predictor (per the spec, exact integer arithmetic)."""
    p = a.astype(np.int32) + b.astype(np.int32) - c.astype(np.int32)
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    out = np.where((pa <= pb) & (pa <= pc), a,
                   np.where(pb <= pc, b, c))
    return out.astype(np.uint8)


def _filter_row(f: int, raw: np.ndarray, prev: np.ndarray) -> np.ndarray:
    """Apply scanline filter ``f`` (encoder side), bpp = 3 bytes."""
    left = np.concatenate([np.zeros(3, np.uint8), raw[:-3]])
    ul = np.concatenate([np.zeros(3, np.uint8), prev[:-3]])
    if f == 0:
        return raw
    if f == 1:
        return (raw.astype(np.int16) - left).astype(np.uint8)
    if f == 2:
        return (raw.astype(np.int16) - prev).astype(np.uint8)
    if f == 3:
        avg = (left.astype(np.int16) + prev.astype(np.int16)) // 2
        return (raw.astype(np.int16) - avg).astype(np.uint8)
    return (raw.astype(np.int16) - _paeth(left, prev, ul)).astype(np.uint8)


def _unfilter_row(f: int, enc: np.ndarray, prev: np.ndarray) -> np.ndarray:
    """Invert scanline filter ``f`` (decoder side) — sequential in the
    pixel dimension for Sub/Average/Paeth (the spec's recurrence)."""
    n = len(enc)
    if f == 0:
        return enc.copy()
    if f == 2:
        return (enc.astype(np.int16) + prev).astype(np.uint8)
    out = np.zeros(n, np.uint8)
    # byte arithmetic mod 256 on Python ints (uint8 scalar sums would
    # wrap too, but with an overflow warning)
    for i in range(n):
        left = int(out[i - 3]) if i >= 3 else 0
        up = int(prev[i])
        ul = int(prev[i - 3]) if i >= 3 else 0
        if f == 1:
            pred = left
        elif f == 3:
            pred = (left + up) // 2
        else:
            pred = int(_paeth(
                np.array([left]), np.array([up]), np.array([ul]))[0])
        out[i] = (int(enc[i]) + pred) % 256
    return out


def _chunk(tag: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))


def _synth_png(doc_id: int) -> bytes:
    """A real PNG: signature + IHDR + multi-chunk IDAT (DEFLATE of the
    filtered scanlines, one filter type per row = row % 5) + IEND,
    every chunk CRC'd."""
    import struct
    import zlib

    w, h = _png_dims(doc_id)
    px = _png_pixels(doc_id, w, h)
    stream = bytearray()
    prev = np.zeros(w * 3, np.uint8)
    for yy in range(h):
        raw = px[yy].reshape(-1)
        f = yy % 5
        stream.append(f)
        stream += _filter_row(f, raw, prev).tobytes()
        prev = raw
    comp = zlib.compress(bytes(stream), 6)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    out = bytearray(b"\x89PNG\r\n\x1a\n") + _chunk(b"IHDR", ihdr)
    for i in range(0, len(comp), 64):  # multi-chunk IDAT on purpose
        out += _chunk(b"IDAT", comp[i:i + 64])
    out += _chunk(b"IEND", b"")
    return bytes(out)


@op(
    "q_multimodal_png_decode",
    """WITH img AS (
  SELECT doc_id, 9 + (doc_id % 4) * 5 AS w, 6 + (doc_id % 3) * 4 AS h
  FROM documents WHERE doc_id % 3 = 0),
px AS (
  SELECT doc_id, w, h, x, y,
         (x * 5 + y * 7 + doc_id * 3) % 256 AS r,
         (x * 3 + y * 11 + doc_id) % 256 AS g,
         (x * 13 + y + doc_id * 7) % 256 AS b
  FROM img, unnest(range(0, w)) AS ux(x), unnest(range(0, h)) AS uy(y))
SELECT doc_id,
  CAST(any_value(w) AS BIGINT) AS width,
  CAST(any_value(h) AS BIGINT) AS height,
  CAST(sum(r) AS BIGINT) AS sum_r,
  CAST(sum(g) AS BIGINT) AS sum_g,
  CAST(sum(b) AS BIGINT) AS sum_b,
  CAST(sum(CASE WHEN r + g + b >= 384 THEN 1 ELSE 0 END) AS BIGINT)
    AS bright,
  CAST(max(CASE WHEN x = 0 AND y = h - 1
           THEN r * 65536 + g * 256 + b END) AS BIGINT) AS bottom_left
FROM px GROUP BY doc_id ORDER BY doc_id""",
)
def q_multimodal_png_decode(spark, sf_dir):
    """REAL compressed-image pipeline: synthesize actual PNG bytes
    (DEFLATE, per-row filters 0-4, CRC'd multi-chunk IDAT) into the
    binary column, then DECODE in a separate Arrow stage — signature
    + IHDR validation, CRC check on every chunk, IDAT reassembly,
    inflate, full unfilter — and extract integer-exact features.
    bottom_left is the filter witness: the LAST row has passed
    through the whole Sub/Up/Average/Paeth recurrence chain, so any
    unfilter bug shows up there first."""
    schema_syn = "doc_id long, img binary"
    schema_out = (
        "doc_id long, width long, height long, sum_r long, sum_g long, "
        "sum_b long, bright long, bottom_left long"
    )
    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .filter(F.col("doc_id") % 3 == 0)  # the 'image' docs
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "img": [_synth_png(int(x)) for x in pdf["doc_id"]],
            })

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct
        import zlib

        for pdf in batches:
            rows = []
            for doc_id, raw in zip(pdf["doc_id"], pdf["img"]):
                raw = bytes(raw)
                assert raw[:8] == b"\x89PNG\r\n\x1a\n"
                pos, idat, w = 8, bytearray(), None
                while pos < len(raw):
                    (ln,) = struct.unpack_from(">I", raw, pos)
                    tag = raw[pos + 4:pos + 8]
                    body = raw[pos + 8:pos + 8 + ln]
                    (crc,) = struct.unpack_from(">I", raw, pos + 8 + ln)
                    assert zlib.crc32(tag + body) & 0xFFFFFFFF == crc
                    if tag == b"IHDR":
                        w, h, depth, ctype, comp, filt, inter = (
                            struct.unpack(">IIBBBBB", body))
                        assert (depth, ctype, comp, filt, inter) == (
                            8, 2, 0, 0, 0)
                    elif tag == b"IDAT":
                        idat += body
                    pos += 12 + ln
                stream = zlib.decompress(bytes(idat))
                stride = w * 3
                px = np.zeros((h, stride), np.uint8)
                prev = np.zeros(stride, np.uint8)
                for yy in range(h):
                    off = yy * (stride + 1)
                    f = stream[off]
                    enc = np.frombuffer(
                        stream, np.uint8, count=stride, offset=off + 1)
                    px[yy] = _unfilter_row(f, enc, prev)
                    prev = px[yy]
                rgb = px.reshape(h, w, 3).astype(np.int64)
                r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
                rows.append((
                    int(doc_id), w, h,
                    int(r.sum()), int(g.sum()), int(b.sum()),
                    int(((r + g + b) >= 384).sum()),
                    int(r[h - 1, 0]) * 65536 + int(g[h - 1, 0]) * 256
                    + int(b[h - 1, 0]),
                ))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "width", "height", "sum_r", "sum_g",
                "sum_b", "bright", "bottom_left",
            ])

    img = cpu_scaled(d, "doc_id").mapInPandas(synth, schema_syn)
    return img.mapInPandas(decode, schema_out).orderBy("doc_id")


# ---------------------------------------------------------------------------
# REAL video decode: Y4M (YUV4MPEG2) is the uncompressed interchange
# format every ffmpeg pipeline can emit — a one-line ASCII stream
# header, then `FRAME\n` + raw Y/U/V planes per frame. Pure python +
# numpy parse it exactly, so the video modality gets a genuine
# encode→binary-column→decode→features pipeline (closing the last
# r4 stub): stream-header parse, per-frame plane framing, and
# integer-exact spatial + TEMPORAL (motion) features the oracle
# replays from the signal definition.
# ref: the yuv4mpeg(5) format as consumed by
#      solr/contrib-style media pipelines via ffmpeg -f yuv4mpegpipe
# ---------------------------------------------------------------------------


def _y4m_params(doc_id: int) -> tuple[int, int, int, int, int]:
    """(w, h, n_frames, a, b) — deterministic per-doc geometry and
    luma-formula coefficients."""
    return (
        8 + (doc_id % 3) * 4,
        6 + (doc_id % 2) * 2,
        3 + doc_id % 4,
        2 + doc_id % 3,
        5 + doc_id % 4,
    )


def _y4m_planes(doc_id: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(T, W*H) uint8 planes: y = (p*a + t*b + id) % 256,
    u = (p + 7t + id) % 256, v = (3p + t + 2id) % 256."""
    w, h, nf, a, b = _y4m_params(doc_id)
    t = np.arange(nf, dtype=np.int64)[:, None]
    p = np.arange(w * h, dtype=np.int64)[None, :]
    y = (p * a + t * b + doc_id) % 256
    u = (p + 7 * t + doc_id) % 256
    v = (3 * p + t + 2 * doc_id) % 256
    return y.astype(np.uint8), u.astype(np.uint8), v.astype(np.uint8)


def _synth_y4m(doc_id: int) -> bytes:
    """A real YUV4MPEG2 stream: C444 (full-res chroma), 25 fps."""
    w, h, nf, _, _ = _y4m_params(doc_id)
    y, u, v = _y4m_planes(doc_id)
    out = bytearray(f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C444\n".encode())
    for t in range(nf):
        out += b"FRAME\n"
        out += y[t].tobytes() + u[t].tobytes() + v[t].tobytes()
    return bytes(out)


@op(
    "q_multimodal_video_decode",
    """WITH v AS (
  SELECT doc_id,
         8 + (doc_id % 3) * 4 AS w,
         6 + (doc_id % 2) * 2 AS h,
         3 + doc_id % 4 AS nf,
         2 + doc_id % 3 AS a,
         5 + doc_id % 4 AS b
  FROM documents WHERE doc_id % 3 = 2),
px AS (
  SELECT doc_id, w, h, nf, t, p,
         (p * a + t * b + doc_id) % 256 AS y,
         (p + 7 * t + doc_id) % 256 AS u,
         (3 * p + t + 2 * doc_id) % 256 AS cv
  FROM v, unnest(range(0, nf)) AS ft(t),
       unnest(range(0, w * h)) AS pp(p)),
m AS (
  SELECT doc_id, w, h, nf, y, u, cv,
         y - lag(y) OVER (PARTITION BY doc_id, p ORDER BY t) AS dy
  FROM px)
SELECT doc_id,
  CAST(any_value(w) AS BIGINT) AS width,
  CAST(any_value(h) AS BIGINT) AS height,
  CAST(any_value(nf) AS BIGINT) AS n_frames,
  CAST(sum(y) AS BIGINT) AS y_sum,
  CAST(max(y) AS BIGINT) AS y_peak,
  CAST(sum(CASE WHEN dy IS NULL THEN 0 ELSE abs(dy) END) AS BIGINT)
    AS motion,
  CAST(sum(u + cv) AS BIGINT) AS uv_sum
FROM m GROUP BY doc_id ORDER BY doc_id""",
)
def q_multimodal_video_decode(spark, sf_dir):
    """REAL video pipeline for the 'video' modality: synthesize actual
    YUV4MPEG2 (Y4M C444) streams into the binary column, then DECODE
    them in a separate Arrow stage — stream-header parse (W/H/chroma
    tag validated), FRAME-marker framing, per-frame Y/U/V plane reads
    — and extract integer-exact features including the TEMPORAL one a
    stub can't fake: motion = Σ|Y_t − Y_{t−1}| across frames. The
    oracle replays every pixel from the signal definition."""
    schema_syn = "doc_id long, vid binary"
    schema_out = (
        "doc_id long, width long, height long, n_frames long, "
        "y_sum long, y_peak long, motion long, uv_sum long"
    )
    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .filter(F.col("doc_id") % 3 == 2)  # the 'video' docs
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "vid": [_synth_y4m(int(x)) for x in pdf["doc_id"]],
            })

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, raw in zip(pdf["doc_id"], pdf["vid"]):
                raw = bytes(raw)
                nl = raw.index(b"\n")
                toks = raw[:nl].decode().split(" ")
                assert toks[0] == "YUV4MPEG2"
                tags = {t[0]: t[1:] for t in toks[1:]}
                w, h = int(tags["W"]), int(tags["H"])
                assert tags.get("C", "420") == "444"
                plane = w * h
                pos, ys, us, vs = nl + 1, [], [], []
                while pos < len(raw):
                    fe = raw.index(b"\n", pos)
                    assert raw[pos:fe].split(b" ")[0] == b"FRAME"
                    pos = fe + 1
                    ys.append(np.frombuffer(raw, np.uint8, plane, pos))
                    us.append(np.frombuffer(
                        raw, np.uint8, plane, pos + plane))
                    vs.append(np.frombuffer(
                        raw, np.uint8, plane, pos + 2 * plane))
                    pos += 3 * plane
                y = np.stack(ys).astype(np.int64)
                rows.append((
                    int(doc_id), w, h, len(ys),
                    int(y.sum()), int(y.max()),
                    int(np.abs(np.diff(y, axis=0)).sum()),
                    int(np.stack(us).astype(np.int64).sum()
                        + np.stack(vs).astype(np.int64).sum()),
                ))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "width", "height", "n_frames",
                "y_sum", "y_peak", "motion", "uv_sum",
            ])

    vid = cpu_scaled(d, "doc_id").mapInPandas(synth, schema_syn)
    return vid.mapInPandas(decode, schema_out).orderBy("doc_id")
