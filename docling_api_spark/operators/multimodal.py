"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` columns with typed metadata — the Spark-side
plumbing (schema, Arrow batch shape, ``mapInArrow`` signature,
partition-friendly layout) is real and tested; the actual decoders are
STUBBED because the image/audio libraries are not in this container
(FIXTURES/SURVEY scoping — same posture as OCR: ``ocr_not_supported``).

- :func:`media_metadata` — a real, oracle-checked ``mapInArrow`` operator:
  byte length + magic prefix + deterministic content hash per blob.
- :func:`decode_image` — the scale-path decode/resize/feature UDF with its
  full Spark plumbing; raises :class:`NotImplementedError` at the decode
  step (clearly marked stub) unless ``fake=True``, which produces a
  deterministic fake feature vector so the distributed plumbing is testable.

Every operator takes and yields ``pa.RecordBatch``es: per-row logic over
``to_pylist()`` columns, typed Arrow arrays out.
"""

from __future__ import annotations

import hashlib

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

MEDIA_META_DDL = ("doc_id bigint, n_bytes bigint, magic string, "
                  "content_md5 string")


def _batch(**cols) -> pa.RecordBatch:
    """One output batch, its columns in DDL order."""
    return pa.RecordBatch.from_arrays(list(cols.values()), names=list(cols))


def _meta_batches(batches):
    for b in batches:
        blobs = b.column("blob").to_pylist()
        yield _batch(
            doc_id=b.column("doc_id"),
            n_bytes=pa.array([0 if x is None else len(x) for x in blobs],
                             pa.int64()),
            magic=pa.array(["" if not x else x[:4].hex().upper()
                            for x in blobs], pa.string()),
            content_md5=pa.array(["" if x is None
                                  else hashlib.md5(x).hexdigest()
                                  for x in blobs], pa.string()))


def media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata extraction. The blob here is the utf-8 bytes
    of ``documents.text`` (this corpus has no real media), which makes the
    operator oracle-checkable: DuckDB computes the same length/magic/md5
    from ``encode(text)``."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from pyspark.sql import functions as F
    blobs = docs.select("doc_id", F.encode("text", "UTF-8").alias("blob"))
    return blobs.mapInArrow(_meta_batches, MEDIA_META_DDL)


MEDIA_METADATA_ORACLE = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       upper(substr(hex(encode(text)), 1, 8)) AS magic,
       md5(text) AS content_md5
FROM documents
"""

IMAGE_FEATURES_DDL = ("doc_id bigint, width int, height int, "
                      "feature array<double>")

_FEATURE_DIM = 8


def _decode_image_bytes(blob: bytes):
    """THE STUB: a real deployment decodes with PIL/libvips here.
    Neither library exists in this container."""
    raise NotImplementedError(
        "image decode requires PIL/libvips — not available in this "
        "environment; use fake=True for plumbing tests")


def _fake_decode(blob: bytes):
    """Deterministic fake: 'dimensions' and an 8-dim 'feature' derived from
    the content hash — exercises the exact batch shapes the real decoder
    would produce. b/255.0 (no rounding) is the same IEEE double in every
    engine, which is what makes this oracle-checkable."""
    d = hashlib.md5(blob).digest()
    width = 64 + d[0]
    height = 64 + d[1]
    feature = [b / 255.0 for b in d[2:2 + _FEATURE_DIM]]
    return width, height, feature


def make_image_feature_fn(fake: bool = False):
    decode = _fake_decode if fake else _decode_image_bytes

    def image_features(batches):
        for b in batches:
            ws, hs, fs = [], [], []
            for x in b.column("blob").to_pylist():
                if not x:
                    ws.append(None); hs.append(None); fs.append(None)
                    continue
                w, h, f = decode(x)
                ws.append(w); hs.append(h); fs.append(f)
            yield _batch(doc_id=b.column("doc_id"),
                         width=pa.array(ws, pa.int32()),
                         height=pa.array(hs, pa.int32()),
                         feature=pa.array(fs, pa.list_(pa.float64())))

    return image_features


def image_features_df(blobs: DataFrame, fake: bool = False) -> DataFrame:
    """blobs(doc_id bigint, blob binary) → decoded features. Partition- and
    Arrow-batch-shaped exactly as the real decoder path would be."""
    return blobs.mapInArrow(make_image_feature_fn(fake), IMAGE_FEATURES_DDL)


def image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked driver query: the full decode plumbing (binary column
    → mapInArrow → width/height/feature batch) with the deterministic
    fake decoder, so DuckDB can recompute the identical md5-derived values
    from the same bytes.

    The feature vector is flattened to scalar ``f0..f7`` DOUBLE columns for
    the driver gate only (its pandas canonicalizer cannot sort/hash an
    ``array<double>`` column — CORRECTNESS_r01 ``unhashable type: 'list'``);
    real consumers use :func:`image_features_df`, which keeps the array."""
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    blobs = docs.select("doc_id", F.encode("text", "UTF-8").alias("blob"))
    feats = image_features_df(blobs, fake=True)
    return feats.select(
        "doc_id", "width", "height",
        *[F.col("feature")[i].alias(f"f{i}") for i in range(_FEATURE_DIM)])


def _hexbyte(i: int) -> str:
    """DuckDB: i-th byte (0-based) of md5(text) as INT."""
    return f"CAST(('0x' || substr(md5(text), {2 * i + 1}, 2)) AS INT)"


IMAGE_FEATURES_ORACLE = f"""
SELECT doc_id,
       CAST(64 + {_hexbyte(0)} AS INT) AS width,
       CAST(64 + {_hexbyte(1)} AS INT) AS height,
       {', '.join(f"{_hexbyte(i + 2)} / 255.0 AS f{i}" for i in range(_FEATURE_DIM))}
FROM documents
"""


# ------------------------------------------------------- image header meta

IMAGE_META_DDL = ("url string, img_fmt string, width int, height int, "
                  "n_bytes bigint")


def parse_image_header(b: bytes):
    """(format, width, height) from container headers alone — PNG IHDR,
    GIF screen descriptor, JPEG SOF scan. Pure stdlib byte peeking: no
    decoder needed, so IMAGE inputs yield real metadata even though OCR/
    rasterization are env-scoped out (narrows SURVEY Table C gap #1
    without faking capability). Returns (None, None, None) if unknown."""
    if b.startswith(b"\x89PNG\r\n\x1a\n") and len(b) >= 24:
        return ("png", int.from_bytes(b[16:20], "big"),
                int.from_bytes(b[20:24], "big"))
    if b.startswith((b"GIF87a", b"GIF89a")) and len(b) >= 10:
        return ("gif", int.from_bytes(b[6:8], "little"),
                int.from_bytes(b[8:10], "little"))
    if b.startswith(b"\xff\xd8\xff"):
        i = 2
        while i + 9 < len(b) and b[i] == 0xFF:
            marker = b[i + 1]
            seglen = int.from_bytes(b[i + 2:i + 4], "big")
            if marker in (0xC0, 0xC1, 0xC2, 0xC3):
                return ("jpeg", int.from_bytes(b[i + 7:i + 9], "big"),
                        int.from_bytes(b[i + 5:i + 7], "big"))
            i += 2 + seglen
        return ("jpeg", None, None)
    return (None, None, None)


def _image_meta_batches(batches):
    for b in batches:
        fmts, ws, hs, nb = [], [], [], []
        for raw in b.column("html").to_pylist():
            raw = raw or b""
            f, w, h = parse_image_header(raw)
            fmts.append(f); ws.append(w); hs.append(h); nb.append(len(raw))
        yield _batch(url=b.column("url"),
                     img_fmt=pa.array(fmts, pa.string()),
                     width=pa.array(ws, pa.int32()),
                     height=pa.array(hs, pa.int32()),
                     n_bytes=pa.array(nb, pa.int64()))


def image_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE-input metadata rows (the bounded-honesty path for OCR-less
    environments): deterministic PNG/GIF fixtures flow through the header
    parser; the oracle reconstructs format/dims/bytes from the generation
    rule (sources.pages.with_fixture_images)."""
    from pyspark.sql import functions as F
    from ..sources.pages import pages_from_documents, with_fixture_images
    pages = with_fixture_images(pages_from_documents(spark, sf_dir))
    imgs = pages.where(F.col("url").endswith(".png")
                       | F.col("url").endswith(".gif")) \
        .select("url", "html")
    return imgs.mapInArrow(_image_meta_batches, IMAGE_META_DDL)


IMAGE_METADATA_ORACLE = """
SELECT
  'https://site' || CAST(doc_id % 97 AS VARCHAR) || '.example/doc/'
    || CAST(doc_id AS VARCHAR)
    || CASE WHEN doc_id % 2 = 0 THEN '.png' ELSE '.gif' END AS url,
  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'gif' END AS img_fmt,
  CAST(16 + doc_id % 64 AS INT) AS width,
  CAST(16 + doc_id % 32 AS INT) AS height,
  CAST(CASE WHEN doc_id % 2 = 0 THEN 45 ELSE 14 END AS BIGINT) AS n_bytes
FROM documents
WHERE doc_id % 10 = 6
"""


# ----------------------------------------------------- resize / frame-sample

RESIZED_DDL = ("doc_id bigint, out_w int, out_h int, n_bytes_out bigint, "
               "resize_error string")


def _resize_image_bytes(blob: bytes, w: int, h: int) -> bytes:
    """THE STUB: a real deployment resizes with PIL/libvips here."""
    raise NotImplementedError(
        "image resize requires PIL/libvips — not available in this "
        "environment; use fake=True for plumbing tests")


def make_resize_fn(out_w: int, out_h: int, fake: bool = False):
    """Resize plumbing: errors are rows, never exceptions (the reference's
    raises_on_error=False semantics, service.py:80)."""
    def resize(batches):
        for batch in batches:
            ws, hs, nb, err = [], [], [], []
            for b in batch.column("blob").to_pylist():
                if not b:
                    ws.append(None); hs.append(None); nb.append(None)
                    err.append("empty_blob")
                    continue
                try:
                    if fake:
                        # deterministic fake: output size scales with input
                        out = b[: max(1, len(b) // 2)]
                    else:
                        out = _resize_image_bytes(b, out_w, out_h)
                    ws.append(out_w); hs.append(out_h); nb.append(len(out))
                    err.append(None)
                except NotImplementedError as exc:
                    ws.append(None); hs.append(None); nb.append(None)
                    err.append(f"decode_not_supported: {exc}")
            yield _batch(doc_id=batch.column("doc_id"),
                         out_w=pa.array(ws, pa.int32()),
                         out_h=pa.array(hs, pa.int32()),
                         n_bytes_out=pa.array(nb, pa.int64()),
                         resize_error=pa.array(err, pa.string()))

    return resize


def resize_images_df(blobs: DataFrame, out_w: int = 256, out_h: int = 256,
                     fake: bool = False) -> DataFrame:
    """blobs(doc_id, blob) → resized metadata rows."""
    return blobs.mapInArrow(make_resize_fn(out_w, out_h, fake), RESIZED_DDL)


AUDIO_CHUNKS_DDL = ("doc_id bigint, chunk_idx int, n_samples int, "
                    "rms bigint, peak int")

#: fake 'decoder' treats the blob as 16-bit little-endian PCM
_AUDIO_CHUNK_SAMPLES = 1024


def make_audio_chunk_fn(fake: bool = False):
    """Audio chunking plumbing: one input row fans out to one row per
    fixed-size chunk with per-chunk energy stats (RMS as an exact integer
    sum-of-squares to stay engine-comparable, plus the peak amplitude) —
    the mapInArrow shape a real libsndfile/ffmpeg-backed feature
    extractor produces. The decode step is STUBBED like image/video
    (no audio libs in this container): fake mode reinterprets the raw
    bytes as PCM so the distributed plumbing is fully testable."""
    def chunk(batches):
        for batch in batches:
            ids, idxs, ns, rms, peak = [], [], [], [], []
            for doc_id, raw in zip(batch.column("doc_id").to_pylist(),
                                   batch.column("blob").to_pylist()):
                if raw is None or len(raw) < 2:
                    continue
                if not fake:
                    raise NotImplementedError(
                        "audio decode requires libsndfile/ffmpeg — not "
                        "available in this environment; use fake=True "
                        "for plumbing tests")
                samples = [int.from_bytes(raw[i:i + 2], "little",
                                          signed=True)
                           for i in range(0, len(raw) - 1, 2)]
                for ci in range(0, len(samples), _AUDIO_CHUNK_SAMPLES):
                    seg = samples[ci:ci + _AUDIO_CHUNK_SAMPLES]
                    ids.append(doc_id)
                    idxs.append(ci // _AUDIO_CHUNK_SAMPLES)
                    ns.append(len(seg))
                    rms.append(sum(x * x for x in seg))
                    peak.append(max(abs(x) for x in seg))
            yield _batch(doc_id=pa.array(ids, pa.int64()),
                         chunk_idx=pa.array(idxs, pa.int32()),
                         n_samples=pa.array(ns, pa.int32()),
                         rms=pa.array(rms, pa.int64()),
                         peak=pa.array(peak, pa.int32()))

    return chunk


def audio_chunks_df(blobs: DataFrame, fake: bool = False) -> DataFrame:
    """blobs(doc_id, blob) → per-chunk energy rows (fan-out mapInArrow,
    same shape as :func:`sample_frames_df`)."""
    return blobs.mapInArrow(make_audio_chunk_fn(fake), AUDIO_CHUNKS_DDL)


FRAMES_DDL = ("doc_id bigint, frame_idx int, frame_md5 string")

#: fixed fake frame length so frame counts are a pure function of bytes
_FAKE_FRAME_BYTES = 4096


def make_frame_sample_fn(every_k: int, fake: bool = False):
    """Video frame-sampling plumbing: one input row fans out to 0..n output
    rows (frame_idx, frame content hash) — the mapInArrow shape a real
    ffmpeg-backed sampler produces. Fake mode treats each 4 KiB slice of
    the blob as one 'frame'."""
    def sample(batches):
        for batch in batches:
            ids, idxs, md5s = [], [], []
            for doc_id, raw in zip(batch.column("doc_id").to_pylist(),
                                   batch.column("blob").to_pylist()):
                if not raw:
                    continue
                if not fake:
                    raise NotImplementedError(
                        "video decode requires ffmpeg — not available in "
                        "this environment; use fake=True for plumbing "
                        "tests")
                n_frames = (len(raw) + _FAKE_FRAME_BYTES - 1) \
                    // _FAKE_FRAME_BYTES
                for i in range(0, n_frames, every_k):
                    frame = raw[i * _FAKE_FRAME_BYTES:
                                (i + 1) * _FAKE_FRAME_BYTES]
                    ids.append(doc_id)
                    idxs.append(i)
                    md5s.append(hashlib.md5(frame).hexdigest())
            yield _batch(doc_id=pa.array(ids, pa.int64()),
                         frame_idx=pa.array(idxs, pa.int32()),
                         frame_md5=pa.array(md5s, pa.string()))

    return sample


def sample_frames_df(blobs: DataFrame, every_k: int = 2,
                     fake: bool = False) -> DataFrame:
    """blobs(doc_id, blob) → sampled frame rows (fan-out mapInArrow)."""
    return blobs.mapInArrow(make_frame_sample_fn(every_k, fake), FRAMES_DDL)
