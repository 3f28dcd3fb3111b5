"""Multimodal binary columns: images / video / audio as opaque BINARY plus
typed metadata, with decode / feature-extract / resize / frame-sample as
Arrow-batched mapInPandas transforms.

The Spark-side plumbing (schemas, batch shapes, UDF signatures,
partitioning) is real and tested. PNG is decoded with the stdlib (zlib);
every other pixel/frame codec (JPEG, MJPEG, WebP, h264, ...) is STUBBED
and raises NotImplementedError, since no image/video codec library is a
dependency. The test codecs ('raw_gray8' / 'raw_frames_gray8') are
deterministic byte layouts that exercise the full path end-to-end. Audio
(WAV) is fully real in functions/audio.py.

Schemas:
  images(image_id string, bytes binary, width int, height int, codec string)
  videos(video_id string, bytes binary, width int, height int, n_frames int,
         fps double, codec string)
"""

from __future__ import annotations

import struct
import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

IMAGE_SCHEMA = "image_id string, bytes binary, width int, height int, codec string"
VIDEO_SCHEMA = (
    "video_id string, bytes binary, width int, height int, n_frames int, "
    "fps double, codec string"
)

RAW_GRAY8 = "raw_gray8"          # width*height bytes, row-major, 8-bit gray
RAW_FRAMES_GRAY8 = "raw_frames_gray8"  # n_frames consecutive raw_gray8 planes
PNG = "png"                      # real stdlib-zlib decoder below

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def decode_png(raw: bytes) -> np.ndarray:
    """Real PNG decoder on the stdlib only (zlib): critical chunks, 8-bit
    depth, color types 0 (gray -> (h,w)) and 2 (RGB -> (h,w,3)),
    non-interlaced, all five scanline filters (PNG spec §6). Other image
    codecs (JPEG/WebP) are explicit stubs in decode_image."""
    raw = bytes(raw)
    if raw[:8] != _PNG_SIG:
        raise ValueError("not a PNG stream")
    pos, idat, w = 8, [], None
    while pos + 8 <= len(raw):
        (ln,) = struct.unpack_from(">I", raw, pos)
        typ = raw[pos + 4 : pos + 8]
        data = raw[pos + 8 : pos + 8 + ln]
        if typ == b"IHDR":
            w, h, bd, ct, _comp, _filt, inter = struct.unpack(">IIBBBBB", data)
            if bd != 8 or ct not in (0, 2) or inter != 0:
                raise NotImplementedError(
                    f"PNG bitdepth={bd} colortype={ct} interlace={inter}: "
                    "only 8-bit gray/RGB non-interlaced here"
                )
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if w is None:
        raise ValueError("PNG missing IHDR")
    ch = 1 if ct == 0 else 3
    dec = zlib.decompress(b"".join(idat))
    stride = w * ch
    if len(dec) != h * (stride + 1):
        raise ValueError("PNG data length mismatch")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        f = dec[y * (stride + 1)]
        line = np.frombuffer(
            dec, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int64)
        if f == 0:          # None
            cur = line
        elif f == 1:        # Sub: prefix sum per channel lane, mod 256
            cur = line.copy()
            for o in range(ch):
                cur[o::ch] = np.cumsum(cur[o::ch]) & 0xFF
        elif f == 2:        # Up
            cur = (line + prev) & 0xFF
        elif f in (3, 4):   # Average / Paeth: left-dependency -> scan in x
            cur = np.empty(stride, dtype=np.int64)
            for x in range(stride):
                a = cur[x - ch] if x >= ch else 0
                b = prev[x]
                c = prev[x - ch] if x >= ch else 0
                if f == 3:
                    cur[x] = (line[x] + ((a + b) >> 1)) & 0xFF
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    cur[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"PNG filter type {f}")
        out[y] = cur
        prev = cur
    return out.reshape(h, w) if ch == 1 else out.reshape(h, w, 3)


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray, filter_type: int = 0) -> bytes:
    """Minimal PNG encoder (8-bit gray (h,w) or RGB (h,w,3)); filter_type
    applies the given scanline filter to every row -- exists so the decoder's
    five filter paths are testable without external fixtures."""
    img = np.asarray(img, dtype=np.uint8)
    gray = img.ndim == 2
    h, w = img.shape[:2]
    ch = 1 if gray else img.shape[2]
    flat = img.reshape(h, w * ch).astype(np.int64)
    stride = w * ch
    lines = []
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        cur = flat[y]
        left = np.zeros(stride, dtype=np.int64)
        left[ch:] = cur[:-ch]
        upleft = np.zeros(stride, dtype=np.int64)
        upleft[ch:] = prev[:-ch]
        if filter_type == 0:
            enc = cur
        elif filter_type == 1:
            enc = (cur - left) & 0xFF
        elif filter_type == 2:
            enc = (cur - prev) & 0xFF
        elif filter_type == 3:
            enc = (cur - ((left + prev) >> 1)) & 0xFF
        elif filter_type == 4:
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            enc = (cur - pred) & 0xFF
        else:
            raise ValueError(f"filter {filter_type}")
        lines.append(bytes([filter_type]) + enc.astype(np.uint8).tobytes())
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0 if gray else 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + _png_chunk(b"IEND", b"")
    )


def to_gray(img: np.ndarray) -> np.ndarray:
    """RGB -> Rec.601 luma (deterministic integer rounding); gray passthrough."""
    if img.ndim == 2:
        return img
    lum = img[..., 0] * 0.299 + img[..., 1] * 0.587 + img[..., 2] * 0.114
    return np.round(lum).clip(0, 255).astype(np.uint8)


def decode_image(raw: bytes, width: int, height: int, codec: str) -> np.ndarray:
    if codec == RAW_GRAY8:
        arr = np.frombuffer(raw, dtype=np.uint8)
        if arr.size != width * height:
            raise ValueError(f"raw_gray8 size mismatch: {arr.size} != {width}x{height}")
        return arr.reshape(height, width)
    if codec == PNG:
        img = to_gray(decode_png(raw))
        if img.shape != (height, width):
            raise ValueError(f"png size mismatch: {img.shape} != {height}x{width}")
        return img
    # STUB: jpeg/webp/avif decoders plug in here (PIL/libvips on a real
    # cluster); no image codec library is a dependency.
    raise NotImplementedError(
        f"image codec {codec!r}: only {RAW_GRAY8}/{PNG} here"
    )


def resize_nn(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbour resize, numpy-only (deterministic)."""
    h, w = img.shape
    ys = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    xs = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return img[np.ix_(ys, xs)]


def image_features(img: np.ndarray, grid: int = 4) -> np.ndarray:
    """grid x grid mean-intensity patch features in [0,1]."""
    small = resize_nn(img.astype(np.float64) / 255.0, grid, grid)
    return small.reshape(-1)


def frame_sample_indexes(n_frames: int, k: int) -> np.ndarray:
    """k deterministic evenly-spaced frame indexes."""
    k = min(k, n_frames)
    return (np.arange(k) * n_frames // k).astype(np.int64)


def decode_video_frames(
    raw: bytes, width: int, height: int, n_frames: int, codec: str
) -> np.ndarray:
    if codec == RAW_FRAMES_GRAY8:
        arr = np.frombuffer(raw, dtype=np.uint8)
        if arr.size != width * height * n_frames:
            raise ValueError("raw_frames_gray8 size mismatch")
        return arr.reshape(n_frames, height, width)
    # STUB: ffmpeg-backed demux/decoding (mjpeg/h264/vp9/av1) plugs in
    # here on a real cluster.
    raise NotImplementedError(
        f"video codec {codec!r}: only {RAW_FRAMES_GRAY8} here"
    )


def image_feature_frame(
    df: DataFrame, grid: int = 4, out_col: str = "features"
) -> DataFrame:
    """images -> (image_id, features array<double>) via mapInPandas (one
    Arrow batch per partition slice; pixels never leave the worker)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # zip over raw columns, not iterrows (Series construction per
            # row measured as pure overhead on wide binary batches)
            feats = [
                image_features(decode_image(raw, w, h, c), grid).tolist()
                for raw, w, h, c in zip(
                    pdf["bytes"], pdf["width"], pdf["height"], pdf["codec"]
                )
            ]
            yield pd.DataFrame({"image_id": pdf["image_id"], out_col: feats})

    return df.mapInPandas(gen, schema=f"image_id string, {out_col} array<double>")


def video_frame_features(
    df: DataFrame, k_frames: int = 4, grid: int = 4
) -> DataFrame:
    """videos -> one row per sampled frame with patch features:
    (video_id, frame_index, features). Frame sampling is deterministic."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fidx, feats = [], [], []
            for vid, raw, w, h, nf, c in zip(
                pdf["video_id"], pdf["bytes"], pdf["width"], pdf["height"],
                pdf["n_frames"], pdf["codec"],
            ):
                frames = decode_video_frames(raw, w, h, nf, c)
                for i in frame_sample_indexes(nf, k_frames):
                    ids.append(vid)
                    fidx.append(int(i))
                    feats.append(image_features(frames[i], grid).tolist())
            yield pd.DataFrame(
                {"video_id": ids, "frame_index": fidx, "features": feats}
            )

    return df.mapInPandas(
        gen, schema="video_id string, frame_index long, features array<double>"
    )
