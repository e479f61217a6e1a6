"""MJPEG/AVI video container codec — pure stdlib/numpy, public RIFF spec.

Closes the video side of the multimodal seam for the one video format an
in-repo JPEG codec can honestly serve: Motion-JPEG in an AVI (RIFF)
container, where every frame is an independent baseline/progressive JPEG.
Decode walks the RIFF chunk tree ('hdrl' main header for dimensions and
frame count, 'movi' list for '00dc'/'00db' frame chunks); encode writes a
minimal conformant AVI. Other video codecs (H.264 etc.) genuinely need
ffmpeg and stay behind the ``DECODERS`` swap point (the honest-decode
contract: report ok=False, never fake).

The reference's media pipeline is image-only (/root/reference/landlensdb/
handlers/image.py); video frame-sampling is part of this engine's
multimodal training-data surface (frame_sample in operators/multimodal.py
uses these primitives for real AVI payloads).
"""

from __future__ import annotations

import struct

import numpy as np

#: refuse absurd frame counts from forged headers before any allocation
MAX_FRAMES = 100_000


def avi_meta(blob: bytes) -> tuple[int, int, int, float] | None:
    """(width, height, n_frames, fps) from the 'avih' main header, or
    None for anything that is not a WELL-FORMED RIFF-AVI — forged or
    truncated size fields must yield None, never an escaping struct
    error (the honest-decode contract: one malformed row cannot fail a
    whole Arrow batch)."""
    if blob is None or len(blob) < 24 or blob[:4] != b"RIFF" or blob[8:12] != b"AVI ":
        return None
    n = len(blob)
    i = 12
    while i + 8 <= n:
        fourcc = blob[i : i + 4]
        (size,) = struct.unpack_from("<I", blob, i + 4)
        if fourcc == b"LIST":
            if i + 12 > n:
                return None
            if blob[i + 8 : i + 12] == b"hdrl":
                j = i + 12
                end = min(i + 8 + size, n)
                while j + 8 <= end:
                    sub = blob[j : j + 4]
                    (ssz,) = struct.unpack_from("<I", blob, j + 4)
                    if sub == b"avih" and ssz >= 40 and j + 8 + 40 <= n:
                        us_pf, _, _, _, frames = struct.unpack_from(
                            "<IIIII", blob, j + 8
                        )
                        w, h = struct.unpack_from("<II", blob, j + 8 + 32)
                        fps = 1e6 / us_pf if us_pf else 0.0
                        return (int(w), int(h), int(frames), fps)
                    j += 8 + ssz + (ssz & 1)
                return None
            i += 12  # descend into other lists ('movi' etc.)
        else:
            i += 8 + size + (size & 1)
    return None


def mjpeg_frames(blob: bytes) -> list[bytes]:
    """Every compressed frame payload ('00dc'/'00db' chunks of the 'movi'
    list) in stream order. Raises ValueError on corrupt RIFF framing —
    loud, like the WARC parser."""
    meta = avi_meta(blob)
    if meta is None:
        raise ValueError("not a RIFF-AVI payload")
    if meta[2] > MAX_FRAMES:
        raise ValueError(f"forged frame count {meta[2]}")
    frames: list[bytes] = []
    i = 12
    n = len(blob)
    while i + 8 <= n:
        fourcc = blob[i : i + 4]
        (size,) = struct.unpack_from("<I", blob, i + 4)
        if fourcc == b"LIST":
            if blob[i + 8 : i + 12] == b"movi":
                j = i + 12
                end = i + 8 + size
                if end > n:
                    raise ValueError("movi list overruns the payload")
                while j + 8 <= end:
                    sub = blob[j : j + 4]
                    (ssz,) = struct.unpack_from("<I", blob, j + 4)
                    if j + 8 + ssz > end:
                        raise ValueError("frame chunk overruns the movi list")
                    if sub[2:4] in (b"dc", b"db"):
                        frames.append(bytes(blob[j + 8 : j + 8 + ssz]))
                    j += 8 + ssz + (ssz & 1)
                return frames
            i += 12
        else:
            i += 8 + size + (size & 1)
    raise ValueError("AVI without a movi list")


def encode_mjpeg_avi(
    frames: list[np.ndarray], fps: float = 10.0, quality: int = 85
) -> bytes:
    """Frames (uint8 2-D gray or HxWx3 RGB, equal dims) -> minimal
    conformant MJPEG-AVI bytes; the decoder twin for fixtures and sinks."""
    from landlensdb_spark.operators.jpeg import encode_jpeg_color, encode_jpeg_gray

    if not frames:
        raise ValueError("need at least one frame")
    h, w = frames[0].shape[:2]
    blobs = []
    for f in frames:
        if f.shape[:2] != (h, w):
            raise ValueError("all frames must share dimensions")
        blobs.append(
            encode_jpeg_gray(f, quality)
            if f.ndim == 2
            else encode_jpeg_color(f, quality)
        )

    def chunk(fourcc: bytes, payload: bytes) -> bytes:
        return fourcc + struct.pack("<I", len(payload)) + payload + (
            b"\x00" if len(payload) & 1 else b""
        )

    def lst(kind: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", kind + payload)

    us_pf = int(round(1e6 / fps)) if fps else 0
    avih = chunk(
        b"avih",
        struct.pack(
            "<IIIIIIIIIIIIII",
            us_pf, 0, 0, 0x10, len(blobs), 0, 1, 0, w, h, 0, 0, 0, 0,
        ),
    )
    strh = chunk(
        b"strh",
        b"vids" + b"MJPG"
        + struct.pack("<IHHIIIIIIIII", 0, 0, 0, 0, 1, int(fps) or 1, 0,
                      len(blobs), 0, 0, 0, 0),
    )
    strf = chunk(
        b"strf",
        struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG",
                    w * h * 3, 0, 0, 0, 0),
    )
    hdrl = lst(b"hdrl", avih + lst(b"strl", strh + strf))
    movi = lst(b"movi", b"".join(chunk(b"00dc", b) for b in blobs))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body
