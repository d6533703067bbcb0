"""Multimodal media handling: opaque binary columns + typed metadata.

The docs relation interleaves ``kind='media'`` spans (opaque
``media_ref`` URIs) between text pages. A training-data pipeline needs to
carry the media payloads as first-class columns and run decode /
feature-extract / resize / frame-sample stages over them. This module
implements that surface Spark-first:

- ``media_table``: one row per media span —
  (doc_id, media_ref, media_type, payload binary, meta struct). Payloads
  are synthesized deterministically from the ref (the sandbox has no
  object store); at scale this column is an Iceberg ``binary`` column or
  a reference into object storage.
- ``decode_media``: decode/feature stage, one ``mapInArrow`` row map
  (``arrowmap.map_rows``, as are ``synthesize_payloads`` and ``sample_frames``).
  The real decoders (PIL/ffmpeg/torchcodec) are NOT in this container, so
  the decode body is STUBBED: by default a clearly-marked
  ``NotImplementedError`` names the missing dependency; with
  ``fake=True`` a deterministic fake decoder produces stable features so
  the full Spark plumbing (schema, batching, partitioning, UDF
  signature) is exercised end-to-end and tested.

Scale notes: media payloads dominate bytes, not rows — the stage is
IO/width-bound, so batches stay small (Arrow maxRecordsPerBatch) and the
stage runs on the media table alone (never joined wide against text
before filtering).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from pdf2ocr_spark.arrowmap import map_rows

MEDIA_TYPES = ("image", "audio", "video")

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.IntegerType()),
                    T.StructField("n_bytes", T.IntegerType()),
                ]
            ),
        ),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
        T.StructField("thumb_w", T.IntegerType()),
        T.StructField("thumb_h", T.IntegerType()),
    ]
)

FEATURE_DIM = 16


def media_table(docs: DataFrame) -> DataFrame:
    """Explode media spans into the typed media relation. Payload bytes
    and metadata are md5-seeded from the ref (deterministic stand-in for
    an object-store fetch)."""
    spans = docs.select(
        "doc_id", F.explode("spans").alias("s")
    ).where(F.col("s.kind") == "media")
    refs = spans.select("doc_id", F.col("s.media_ref").alias("media_ref"))
    return synthesize_payloads(refs)


def synthesize_payloads(refs: DataFrame) -> DataFrame:
    """(doc_id, media_ref) -> typed media relation with md5-seeded payload
    bytes + metadata. Pure function of media_ref, so any ref relation (the
    exploded spans, or a SQL-derivable synthetic set for oracle checks)
    gets identical payloads."""

    def gen(doc_id, ref):
        h = hashlib.md5(f"media:{ref}".encode()).digest()
        mtype = MEDIA_TYPES[h[0] % len(MEDIA_TYPES)]
        n_bytes = 256 + h[1] * 16
        digest = hashlib.md5(f"payload:{ref}".encode()).digest()
        payload = (digest * (n_bytes // 16 + 1))[:n_bytes]
        meta = {
            "width": 64 + h[2] * 4 if mtype != "audio" else None,
            "height": 64 + h[3] * 4 if mtype != "audio" else None,
            "duration_ms": (h[4] * 250) if mtype != "image" else None,
            "n_bytes": n_bytes,
        }
        return [(doc_id, ref, mtype, payload, meta)]

    return map_rows(refs.select("doc_id", "media_ref"), MEDIA_SCHEMA, gen)


def _fake_decode(payload: bytes, media_type: str) -> list:
    """Deterministic fake feature vector: FEATURE_DIM floats folded from
    the digest of the payload's lowercase hex (hex, not raw bytes, so the
    DuckDB oracle — whose md5() takes VARCHAR only — can reproduce it as
    md5(repeat(payload_md5_hex, n_bytes/16))). Stands in for image-embed /
    audio-fingerprint / video-frame-sample until real decoders are
    available."""
    d = hashlib.md5(payload.hex().encode()).digest()
    return [round(b / 255.0, 6) for b in d[:FEATURE_DIM]]


def decode_media(media: DataFrame, fake: bool = False) -> DataFrame:
    """Decode + feature-extract + thumbnail-resize stage.

    STUB: the container ships no image/audio/video decoders. With
    ``fake=False`` (default) the stage raises ``NotImplementedError``
    naming the missing dependency per media_type — replace ``_fake_decode``
    with the real PIL/ffmpeg call on a cluster that has them. With
    ``fake=True`` the deterministic fake decoder runs, so schema,
    batching, and partition behavior are real and tested.
    """

    def run(doc_id, ref, mtype, payload, meta):
        if not fake:
            raise NotImplementedError(
                f"media decode for {mtype!r} requires "
                f"{'Pillow' if mtype == 'image' else 'ffmpeg'} — "
                "not available in this environment; pass fake=True "
                "to exercise the pipeline with the deterministic stub"
            )
        thumb = [None if v is None else min(v, 32) for v in (meta["width"], meta["height"])]
        return [(doc_id, ref, mtype, _fake_decode(payload, mtype), *thumb)]

    cols = media.select("doc_id", "media_ref", "media_type", "payload", "meta")
    return map_rows(cols, FEATURES_SCHEMA, run)


FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_ts_ms", T.IntegerType()),
        T.StructField("frame_hash", T.LongType()),
    ]
)

N_FRAMES = 4


def sample_frames(media: DataFrame, n_frames: int = N_FRAMES, fake: bool = False) -> DataFrame:
    """Video frame-sampling stage: each video row fans out to
    ``n_frames`` frame rows at evenly spaced timestamps
    ``ts_k = (k+1) * duration_ms // (n_frames + 1)`` — the 1->N
    expansion INSIDE the Arrow batch that a real sampler performs (the
    output relation is rows-per-frame, so the Spark plumbing — schema,
    batch fan-out, partition inheritance from the media table — is what
    this stage exercises).

    STUB: real frame extraction needs ffmpeg, which this container does
    not ship — ``fake=False`` (default) raises ``NotImplementedError``
    naming it. With ``fake=True`` the frame content hash is the
    deterministic ``int(md5('frame:<ref>:<k>')[:8], 16)``, SQL-derivable
    so the whole stage is oracle-checkable (plans.q_media_frames)."""
    vids = media.where(F.col("media_type") == "video")

    def run(doc_id, ref, meta):
        if not fake:
            raise NotImplementedError(
                "video frame sampling requires ffmpeg — not "
                "available in this environment; pass fake=True to "
                "exercise the pipeline with the deterministic stub"
            )
        dur = meta["duration_ms"]
        for k in range(n_frames):
            ts = (k + 1) * dur // (n_frames + 1)
            fh = int(hashlib.md5(f"frame:{ref}:{k}".encode()).hexdigest()[:8], 16)
            yield doc_id, ref, k, ts, fh

    return map_rows(vids.select("doc_id", "media_ref", "meta"), FRAMES_SCHEMA, run)
