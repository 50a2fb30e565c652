"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow batch kernels.

The decode step is STUBBED (no image/audio libraries in this container):
``decode_image`` raises NotImplementedError unless ``fake=True``, in
which case a deterministic fake decoder derives features from a stable
byte hash — making the *Spark-side plumbing* (schema, batching,
partitioning, UDF signatures) fully real and testable.

Layout contract for a multimodal table:
    media(id long, kind string, payload binary,
          meta struct<width:int, height:int, mime:string>)

At 100 TB: payloads dominate row size, so the same rules as the XML
pipeline apply — small Arrow batches, salted repartition by id-hash,
column pruning so feature passes never read payload bytes they don't
need.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..datagen import cache_dir

FEATURE_DIM = 16

FEATURES_SCHEMA = (
    "id long, kind string, feature array<float>, width int, height int, error string"
)


def decode_image(payload: bytes, fake: bool = False) -> np.ndarray:
    """Decode an image payload to an HxWx3 array.

    STUB: real decoding needs an image library not present in this
    container. ``fake=True`` yields a deterministic 8x8x3 array whose
    pixel bytes are the payload's sha256 digest tiled to 192 bytes —
    stable across runs/processes AND recomputable by the DuckDB oracle
    from the raw payload (sha256 + hex-pair arithmetic), so the
    multimodal driver queries get a genuinely independent check.
    """
    if payload.startswith(b"P6"):
        # binary PPM decodes for REAL (decode_ppm, stdlib+numpy only) —
        # fake only stands in for codec formats (JPEG/PNG/...)
        return decode_ppm(payload)
    if not fake:
        raise NotImplementedError(
            "image decoding requires an image library (e.g. Pillow); "
            "not available in this environment — use fake=True for plumbing tests"
        )
    digest = hashlib.sha256(payload).digest()
    return np.frombuffer(digest * 6, dtype=np.uint8)[: 8 * 8 * 3].reshape(8, 8, 3)


def extract_features_batch(pdf: pd.DataFrame, fake: bool = True) -> pd.DataFrame:
    """One Arrow batch of media rows -> feature rows. Per-payload errors
    become error rows (the pipeline-wide tolerance contract)."""
    out = {"id": [], "kind": [], "feature": [], "width": [], "height": [], "error": []}
    for row in pdf.itertuples(index=False):
        out["id"].append(row.id)
        out["kind"].append(row.kind)
        try:
            img = decode_image(bytes(row.payload), fake=fake)
            # fake "feature": per-channel means over a 16-cell grid flattened
            feat = img.reshape(-1, 3).mean(axis=0)
            feature = np.tile(feat, FEATURE_DIM // 3 + 1)[:FEATURE_DIM] / 255.0
            out["feature"].append([float(x) for x in feature])
            out["width"].append(img.shape[1])
            out["height"].append(img.shape[0])
            out["error"].append(None)
        except Exception as exc:
            out["feature"].append(None)
            out["width"].append(None)
            out["height"].append(None)
            out["error"].append(f"{type(exc).__name__}: {exc}")
    return pd.DataFrame(out)


def extract_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """Feature extraction over a multimodal table: mapInPandas kernel,
    payload column pruned in, features out."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield extract_features_batch(pdf, fake=fake)

    return media.select("id", "kind", "payload").mapInPandas(kernel, FEATURES_SCHEMA)


def resize_image(img: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resize (pure numpy — no image libs needed); the
    real pipeline would swap in a library-backed resampler behind the
    same signature."""
    src_h, src_w = img.shape[:2]
    ys = (np.arange(height) * src_h // height).clip(0, src_h - 1)
    xs = (np.arange(width) * src_w // width).clip(0, src_w - 1)
    return img[ys][:, xs]


RESIZED_SCHEMA = "id long, width int, height int, mean_r long, mean_g long, mean_b long, error string"


def resize_batch(pdf: pd.DataFrame, width: int, height: int, fake: bool = True) -> pd.DataFrame:
    out = {"id": [], "width": [], "height": [], "mean_r": [], "mean_g": [],
           "mean_b": [], "error": []}
    for row in pdf.itertuples(index=False):
        out["id"].append(row.id)
        try:
            img = resize_image(decode_image(bytes(row.payload), fake=fake), width, height)
            means = img.reshape(-1, 3).mean(axis=0)
            out["width"].append(img.shape[1])
            out["height"].append(img.shape[0])
            out["mean_r"].append(int(means[0]))
            out["mean_g"].append(int(means[1]))
            out["mean_b"].append(int(means[2]))
            out["error"].append(None)
        except Exception as exc:
            for k in ("width", "height", "mean_r", "mean_g", "mean_b"):
                out[k].append(None)
            out["error"].append(f"{type(exc).__name__}: {exc}")
    return pd.DataFrame(out)


def resize_images(media: DataFrame, width: int = 4, height: int = 4, fake: bool = True) -> DataFrame:
    """Resize pass over a multimodal table (mapInPandas; payload pruned in)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield resize_batch(pdf, width, height, fake=fake)

    return media.select("id", "payload").mapInPandas(kernel, RESIZED_SCHEMA)


FRAMES_SCHEMA = "id long, frame_idx int, frame_hash string, error string"


def sample_frames(media: DataFrame, every_n: int = 3, max_frames: int = 5,
                  fake: bool = True) -> DataFrame:
    """Frame sampling for video payloads: every_n-th frame up to
    max_frames, emitted as (id, frame_idx, frame_hash) rows — UDTF-shaped
    flat-map. Decode STUBBED: the fake derives a deterministic frame
    sequence from the payload hash; real decoding swaps in behind the
    same row contract."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"id": [], "frame_idx": [], "frame_hash": [], "error": []}
            for row in pdf.itertuples(index=False):
                try:
                    if not fake:
                        raise NotImplementedError(
                            "video decoding requires a media library; "
                            "not available in this environment"
                        )
                    payload = bytes(row.payload)
                    n_frames = 1 + len(payload) % 20  # deterministic fake length
                    for idx in range(0, n_frames, every_n)[:max_frames]:
                        out["id"].append(row.id)
                        out["frame_idx"].append(idx)
                        # ASCII ':idx' suffix (not packed bytes) so the
                        # DuckDB oracle can recompute the hash over VARCHAR
                        out["frame_hash"].append(
                            hashlib.sha256(payload + f":{idx}".encode()).hexdigest()[:16]
                        )
                        out["error"].append(None)
                except Exception as exc:
                    out["id"].append(row.id)
                    out["frame_idx"].append(None)
                    out["frame_hash"].append(None)
                    out["error"].append(f"{type(exc).__name__}: {exc}")
            yield pd.DataFrame(out)

    return media.select("id", "payload").mapInPandas(kernel, FRAMES_SCHEMA)


def synth_media_pdf(n: int, seed: int = 42) -> pd.DataFrame:
    """Deterministic fake media table for tests."""
    rows = []
    for i in range(n):
        # printable-ASCII payload bytes (hexdigest text): still an opaque
        # binary column to the engine, but the DuckDB oracle can CAST the
        # BLOB to VARCHAR and recompute sha256 over the identical bytes
        # (DuckDB 1.0 has no BLOB digest functions)
        digest = hashlib.sha256(f"{seed}:{i}".encode()).hexdigest().encode()
        rows.append(
            {
                "id": i,
                "kind": ("image", "audio", "video")[i % 3],
                "payload": digest * (1 + i % 5),
            }
        )
    return pd.DataFrame(rows)


# bump when synth_media_pdf or the fake decode contract changes — cached
# media parquet embeds this so stale tables are never reused
MEDIA_VERSION = 3


def media_parquet_path(n: int, seed: int = 42) -> str:
    import os

    return os.path.join(
        cache_dir("gocrd_media_cache"), f"v{MEDIA_VERSION}_s{seed}_n{n}.parquet"
    )


def ensure_media_parquet(n: int, seed: int = 42) -> str:
    """Materialize the deterministic media table as one parquet file so
    BOTH sides of the driver check read the same input: Spark runs the
    mapInPandas kernels over it, the DuckDB oracle recomputes the
    expected outputs from the raw payload bytes (sha256 + hex-pair
    arithmetic). Written atomically (tmp + rename) — safe under
    concurrent callers."""
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = media_parquet_path(n, seed)
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pdf = synth_media_pdf(n, seed)
        table = pa.table(
            {
                "id": pa.array(pdf["id"], pa.int64()),
                "kind": pa.array(pdf["kind"], pa.string()),
                "payload": pa.array([bytes(p) for p in pdf["payload"]], pa.binary()),
            }
        )
        tmp = f"{path}.{uuid.uuid4().hex}.tmp"
        pq.write_table(table, tmp, compression="zstd")
        os.replace(tmp, path)
    return path


# ---------------------------------------------------------------------------
# PPM (P6) decode — a REAL image decode path, no libraries needed
# ---------------------------------------------------------------------------

def decode_ppm(payload: bytes) -> np.ndarray:
    """Decode a binary PPM (P6) payload to an HxWx3 uint8 array.

    PPM is the one mainstream raster format simple enough to decode
    with no image library: ``P6 <ws> width <ws> height <ws> maxval
    <single ws> raw RGB rows``, '#' comments allowed inside the header
    whitespace. This gives the multimodal tier a genuinely REAL decode
    path (the JPEG/PNG stub remains stubbed — those need codecs).
    Only maxval <= 255 (1 byte/channel) is supported; truncated pixel
    data raises ValueError.
    """
    if not payload.startswith(b"P6"):
        raise ValueError("not a binary PPM: missing P6 magic")
    pos = 2
    fields: list[int] = []
    while len(fields) < 3:
        # skip whitespace and '#' comments between header tokens
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if pos < len(payload) and payload[pos : pos + 1] == b"#":
            nl = payload.find(b"\n", pos)
            if nl < 0:
                raise ValueError("unterminated PPM header comment")
            pos = nl + 1
            continue
        start = pos
        while pos < len(payload) and payload[pos : pos + 1].isdigit():
            pos += 1
        if pos == start:
            raise ValueError("malformed PPM header: expected integer")
        fields.append(int(payload[start:pos]))
    width, height, maxval = fields
    if width <= 0 or height <= 0:
        raise ValueError(f"bad PPM dimensions {width}x{height}")
    if not 0 < maxval <= 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    if pos >= len(payload) or not payload[pos : pos + 1].isspace():
        raise ValueError("malformed PPM header: missing raster separator")
    pos += 1  # exactly ONE whitespace byte separates header from raster
    need = width * height * 3
    raster = payload[pos : pos + need]
    if len(raster) < need:
        raise ValueError(
            f"truncated PPM raster: need {need} bytes, have {len(raster)}"
        )
    return np.frombuffer(raster, dtype=np.uint8).reshape(height, width, 3)


def encode_ppm(img: np.ndarray) -> bytes:
    h, w = img.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(
        img, dtype=np.uint8
    ).tobytes()


# ---------------------------------------------------------------------------
# perceptual hash (dHash-64) + hamming near-dup tier
# ---------------------------------------------------------------------------

def phash64(img: np.ndarray) -> int:
    """64-bit perceptual difference hash (dHash), all-integer:

    - grayscale by integer luma ``(299r + 587g + 114b) // 1000``;
    - block-mean downsample to an 8x8 grid (floor mean over the
      ``[r*H//8, (r+1)*H//8)`` row/col partition — any HxW works);
    - bit ``r*8 + c`` set iff ``mean[r][(c+1)%8] > mean[r][c]``
      (row-wise gradient with wraparound, 64 bits).

    Every step is exact integer arithmetic, so an independent
    implementation (tools/oracle_twins.phash64) reproduces it
    bit-for-bit — the same cross-engine-exactness rule the text
    operators follow. Returned as SIGNED int64 (two's complement) so
    it lands in a Spark BIGINT column unchanged.
    """
    gray = (
        299 * img[:, :, 0].astype(np.int64)
        + 587 * img[:, :, 1].astype(np.int64)
        + 114 * img[:, :, 2].astype(np.int64)
    ) // 1000
    h, w = gray.shape
    rb = [r * h // 8 for r in range(9)]
    cb = [c * w // 8 for c in range(9)]
    means = np.empty((8, 8), dtype=np.int64)
    for r in range(8):
        for c in range(8):
            # dims < 8: a grid cell may span zero rows/cols — sample at
            # least one (nearest-pixel replication, same rule as twin)
            block = gray[
                rb[r] : max(rb[r + 1], rb[r] + 1),
                cb[c] : max(cb[c + 1], cb[c] + 1),
            ]
            means[r, c] = int(block.sum()) // block.size
    val = 0
    for r in range(8):
        for c in range(8):
            if means[r, (c + 1) % 8] > means[r, c]:
                val |= 1 << (r * 8 + c)
    return val - (1 << 64) if val >= 1 << 63 else val


PHASH_SCHEMA = "id long, phash long, error string"


def phash_images(media: DataFrame) -> DataFrame:
    """(id, phash, error) over a multimodal table: PPM payloads decode
    for real; anything else falls back to the fake-decode plumbing only
    if ``fake`` were set — here non-PPM bytes become per-row error rows
    (the pipeline-wide tolerance contract). mapInPandas kernel, payload
    pruned in, 8-byte hash out — at 100 TB the shuffle-facing output is
    (long, long) rows; payload bytes never leave the scan stage."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"id": [], "phash": [], "error": []}
            for row in pdf.itertuples(index=False):
                out["id"].append(row.id)
                try:
                    img = decode_ppm(bytes(row.payload))
                    out["phash"].append(phash64(img))
                    out["error"].append(None)
                except Exception as exc:
                    out["phash"].append(None)
                    out["error"].append(f"{type(exc).__name__}: {exc}")
            # nullable Int64, NOT a plain list: one None in the batch
            # would coerce the column to float64 and silently zero the
            # low ~11 bits of every 64-bit hash (53-bit mantissa)
            out["phash"] = pd.array(out["phash"], dtype="Int64")
            yield pd.DataFrame(out)

    return media.select("id", "payload").mapInPandas(kernel, PHASH_SCHEMA)


def phash_near_dups(
    media: DataFrame,
    max_hamming: int = 6,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Perceptual near-dup pairs: the pixel-tier image dedup that
    catches what :func:`media_dedup`'s byte tier misses (same picture,
    different bytes — re-encode, metadata change, slight retouch).

    Plan shape = the SimHash text tier's, verbatim: dHash-64 per image
    (mapInPandas, 8-byte output), block-combination banding
    (dedup.simhash_bands — recall GUARANTEED for hamming <= max_hamming
    by pigeonhole), band-bucket self-join, exact ``bit_count(xor)``
    filter JVM-side. ``max_bucket`` is the same degenerate-bucket skew
    valve (flat-color images all hash alike at crawl scale). Decode
    failures carry a NULL phash and simply emit no pairs.

    Returns (id_a, id_b, hamming).
    """
    from .dedup import _pairs_from_banded, band_hash64

    sig = (
        phash_images(media)
        .filter(F.col("phash").isNotNull())
        .select(F.col("id").alias("doc_id"), F.col("phash").alias("simhash"))
    )
    # the band table feeds both self-join sides and the bucket cap —
    # pinned so the phash kernel runs once, not per consumer
    banded = band_hash64(sig, max_hamming).localCheckpoint(eager=False)
    pairs = _pairs_from_banded(banded, max_hamming, max_bucket)
    return pairs.select(
        F.col("doc_a").alias("id_a"),
        F.col("doc_b").alias("id_b"),
        "hamming",
    )


def _sha_stream(key: str, n: int) -> bytes:
    """n deterministic bytes: sha256(key:0) || sha256(key:1) || ..."""
    out = b""
    counter = 0
    while len(out) < n:
        out += hashlib.sha256(f"{key}:{counter}".encode()).digest()
        counter += 1
    return out[:n]


def synth_ppm_media_pdf(
    n: int, seed: int = 42, group_size: int = 4, width: int = 16, height: int = 16
) -> pd.DataFrame:
    """Deterministic PPM media table with PLANTED perceptual near-dups:
    images come in groups of ``group_size`` variants of one base image
    (pixels = sha256 stream keyed by the group), where

    - variant 0 is the base;
    - variants 1..group_size-2 perturb ``6*v`` channel bytes by a
      clamped +64 — byte-distinct but perceptually near-identical
      (a handful of gradient bits flip, hamming stays small), so the
      phash tier must pair them while the byte tier must NOT;
    - the LAST variant of every 5th group is a FRESH random image (its
      own sha256 stream) — genuinely different content that must stay
      outside the hamming radius (the filter's negative control; a
      brightness-style perturbation would NOT do: dHash is gradient-
      based and correctly invariant to uniform shifts);
    - every 37th payload is truncated mid-raster — the decode error
      path.
    """
    rows = []
    npix = width * height * 3
    for i in range(n):
        group, v = i // group_size, i % group_size
        fresh = v == group_size - 1 and group % 5 == 0
        stream_key = f"ppm:{seed}:fresh{group}" if fresh else f"ppm:{seed}:g{group}"
        base = bytearray(_sha_stream(stream_key, npix))
        n_perturb = 0 if fresh else 6 * v
        for j in range(n_perturb):
            pos = int.from_bytes(
                hashlib.sha256(f"ppm:{seed}:p{group}:{v}:{j}".encode()).digest()[:4],
                "big",
            ) % npix
            base[pos] = min(255, base[pos] + 64)
        img = np.frombuffer(bytes(base), dtype=np.uint8).reshape(height, width, 3)
        payload = encode_ppm(img)
        if i % 37 == 36:
            payload = payload[: len(payload) - npix // 2]  # truncated raster
        rows.append({"id": i, "kind": "image", "payload": payload})
    return pd.DataFrame(rows)


PPM_MEDIA_VERSION = 1


def ensure_ppm_parquet(n: int, seed: int = 42) -> str:
    """Materialize the deterministic PPM media table as one parquet file
    (atomic tmp+rename, same contract as ensure_media_parquet) so Spark
    and the golden-generating twin read identical payload bytes."""
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(
        cache_dir("gocrd_media_cache"),
        f"ppm_v{PPM_MEDIA_VERSION}_s{seed}_n{n}.parquet",
    )
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pdf = synth_ppm_media_pdf(n, seed)
        table = pa.table(
            {
                "id": pa.array(pdf["id"], pa.int64()),
                "kind": pa.array(pdf["kind"], pa.string()),
                "payload": pa.array([bytes(p) for p in pdf["payload"]], pa.binary()),
            }
        )
        tmp = f"{path}.{uuid.uuid4().hex}.tmp"
        pq.write_table(table, tmp, compression="zstd")
        os.replace(tmp, path)
    return path


def media_dedup(
    media: DataFrame, id_col: str = "id", payload_col: str = "payload"
) -> DataFrame:
    """Exact media dedup by payload BYTES — the crawl-side image/audio
    dedup that needs no decoding at all (and therefore no stub): the
    same JPEG fetched from two URLs is byte-identical far more often
    than pixel-identical, so the byte tier runs first and is pure JVM.

    Keep = lowest id per md5(payload); every row labeled
    (id, keep 0/1, n_copies). Rows with a NULL payload (failed fetch)
    are each their own group (keep=1, n_copies=1) — md5(NULL) is NULL
    and a null-unsafe join would silently drop them otherwise (the
    same NULL-key rule urls.url_dedup applies). Shuffles only
    (16-byte md5, id) — payload bytes never ride the exchange.
    """
    ids = F.col(id_col)
    hashed = media.select(ids.alias("_id"), F.md5(F.col(payload_col)).alias("_h"))
    winners = (
        hashed.filter(F.col("_h").isNotNull())
        .groupBy("_h")
        .agg(F.min("_id").alias("_win"), F.count(F.lit(1)).alias("_n"))
    )
    return (
        hashed.join(winners, "_h", "left")
        .select(
            F.col("_id").alias(id_col),
            (F.col("_h").isNull() | (F.col("_id") == F.col("_win")))
            .cast("long")
            .alias("keep"),
            F.coalesce("_n", F.lit(1)).cast("long").alias("n_copies"),
        )
    )
