"""Media columns: image/audio payloads as opaque binary + typed metadata.

``make_media_table`` wraps a binary column into the media contract,
``media_repartition`` sizes partitions by payload bytes, and
``decode_media`` decodes in Arrow batches (``mapInPandas``) the three
formats its one caller, the ``media_decode`` contract query, sends:

- **PPM (P6)** images: pure-Python header parse + numpy pixel decode,
  features = 8×8 mean-pooled grayscale (FEATURE_DIM floats), width/height
  from the header;
- **GIF (87a/89a)** images: pure-stdlib LZW decode (LSB-first
  variable-width codes, deferred-clear tolerant), interlace reorder,
  single-frame compositing onto the logical screen; animated GIFs raise;
- **WAV (RIFF/PCM)** audio: chunk walk for fmt/data (lengths validated —
  truncation is a clear ValueError, never a silently short buffer),
  8/16/32-bit PCM decode, features = FEATURE_DIM-bin mean-|amplitude|
  envelope of the mono mix, duration from sample count / rate.

Any other payload raises ``NotImplementedError``.

Decode is the CPU-heavy stage: mapInPandas keeps it Arrow-batched (no
per-row Python dispatch; the numpy work is per-payload, which IS the
decode work), and ``media_repartition`` sizes partitions by *bytes*
(not rows) so per-task memory stays bounded when payload sizes vary.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_DIM = 64
_POOL = 8  # image features = _POOL x _POOL mean-pooled grid


def make_media_table(df: DataFrame, id_col: str, payload_col: str, kind: str) -> DataFrame:
    """Wrap an arbitrary binary column into the typed media contract."""
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit(kind).alias("kind"),
        F.col(payload_col).cast("binary").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    )


def media_repartition(df: DataFrame, target_bytes: int = 64 << 20) -> DataFrame:
    """Repartition by payload volume: ceil(total_bytes / target) partitions.

    Row-count partitioning is wrong for media (payload sizes vary 1000×);
    this keeps per-task memory bounded by bytes.
    """
    total = df.select(F.sum(F.length("payload"))).collect()[0][0] or 0
    n = max(1, int(-(-total // target_bytes)))
    return df.repartition(n)


def _ppm_tokens(b: bytes, count: int) -> tuple[list[int], int]:
    """Read ``count`` whitespace-separated integer tokens from a PPM header
    (comment lines ``#...`` allowed), returning (tokens, offset past the
    single whitespace byte that terminates the last token)."""
    toks: list[int] = []
    i = 2  # past the 'P6' magic
    n = len(b)
    while len(toks) < count:
        while i < n and b[i : i + 1].isspace():
            i += 1
        if i < n and b[i] == ord("#"):
            while i < n and b[i] != ord("\n"):
                i += 1
            continue
        j = i
        while j < n and not b[j : j + 1].isspace():
            j += 1
        if j == i:
            raise ValueError("truncated PPM header")
        toks.append(int(b[i:j]))
        i = j
    return toks, i + 1  # exactly one whitespace byte after maxval


def decode_ppm(payload: bytes) -> tuple[int, int, np.ndarray]:
    """P6 PPM → (width, height, features): pure Python header parse, numpy
    pixel math. Features are the 8×8 mean-pooled grayscale (ITU-R 601
    luma), row-major, scaled to [0, 1]."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    (w, h, maxval), off = _ppm_tokens(payload, 3)
    if maxval <= 0 or maxval > 65535:
        raise ValueError(f"bad PPM maxval {maxval}")
    bpc = 1 if maxval < 256 else 2
    need = w * h * 3 * bpc
    if len(payload) - off < need:
        raise ValueError(f"PPM payload truncated: {len(payload) - off} < {need} bytes")
    raw = np.frombuffer(payload, dtype=">u2" if bpc == 2 else np.uint8, offset=off, count=w * h * 3)
    rgb = raw.reshape(h, w, 3).astype(np.float64) / maxval
    return w, h, _pool_gray(_luma(rgb))


def _luma(rgb: np.ndarray) -> np.ndarray:
    """ITU-R 601 luma of an (..., 3) RGB float image, shared by the PPM
    and GIF decoders. Written as the explicit elementwise sum: the
    3-term dot product of ``rgb @ weights`` rounds differently depending
    on the numpy/BLAS dispatch, this form rounds the same everywhere."""
    return rgb[..., 0] * 0.299 + rgb[..., 1] * 0.587 + rgb[..., 2] * 0.114


def _pool_gray(gray: np.ndarray) -> np.ndarray:
    """Mean-pool an (h, w) grayscale image onto the _POOL × _POOL grid via
    bucketed bincount (handles dimensions not divisible by _POOL); shared
    by the PPM and GIF decoders."""
    h, w = gray.shape
    ri = np.minimum((np.arange(h) * _POOL) // h, _POOL - 1)
    ci = np.minimum((np.arange(w) * _POOL) // w, _POOL - 1)
    cell = (ri[:, None] * _POOL + ci[None, :]).ravel()
    sums = np.bincount(cell, weights=gray.ravel(), minlength=_POOL * _POOL)
    cnts = np.bincount(cell, minlength=_POOL * _POOL)
    return sums / np.maximum(cnts, 1)


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """RIFF/WAVE PCM → (duration_ms, features): chunk walk, numpy sample
    decode. Features are the FEATURE_DIM-bin mean-|amplitude| envelope of
    the mono mix, amplitudes normalized to [-1, 1]."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    i, n = 12, len(payload)
    fmt = None
    data = None
    while i + 8 <= n:
        cid, clen = payload[i : i + 4], struct.unpack("<I", payload[i + 4 : i + 8])[0]
        body = payload[i + 8 : i + 8 + clen]
        # chunk lengths are untrusted input: a corrupt/oversized clen must
        # be a clear 'truncated WAV', not a silently short sample buffer
        # (or an opaque struct/frombuffer error downstream)
        if len(body) < clen:
            raise ValueError(
                f"truncated WAV: chunk {cid!r} declares {clen} bytes but only "
                f"{len(body)} remain"
            )
        if cid == b"fmt ":
            if clen < 16:
                raise ValueError(f"truncated WAV fmt chunk ({clen} < 16 bytes)")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        i += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, channels, rate, _, block_align, bits = fmt
    if audio_format != 1:
        raise ValueError(f"only PCM WAV supported (format {audio_format})")
    block = channels * (bits // 8)
    if block and len(data) % block:
        raise ValueError(
            f"truncated WAV: data length {len(data)} is not a multiple of the "
            f"{block}-byte sample block ({channels} ch × {bits}-bit)"
        )
    if bits == 16:
        x = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    elif bits == 8:
        x = (np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    elif bits == 32:
        x = np.frombuffer(data, dtype="<i4").astype(np.float64) / 2147483648.0
    else:
        raise ValueError(f"unsupported PCM width {bits}")
    if channels > 1:
        x = x[: len(x) - len(x) % channels].reshape(-1, channels).mean(axis=1)
    n_samp = x.size
    duration_ms = int(round(n_samp / rate * 1000)) if rate else 0
    if n_samp == 0:
        return duration_ms, np.zeros(FEATURE_DIM)
    bins = np.minimum((np.arange(n_samp) * FEATURE_DIM) // n_samp, FEATURE_DIM - 1)
    sums = np.bincount(bins, weights=np.abs(x), minlength=FEATURE_DIM)
    cnts = np.bincount(bins, minlength=FEATURE_DIM)
    return duration_ms, sums / np.maximum(cnts, 1)


def _gif_lzw(data: bytes, min_code_size: int, expected: int) -> np.ndarray:
    """GIF LZW decode (LSB-first variable-width codes, max 12 bits,
    deferred-clear tolerant): returns ``expected`` palette indices."""
    if not (2 <= min_code_size <= 11):
        raise ValueError(f"bad GIF LZW min code size {min_code_size}")
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8), bitorder="little")
    pos = 0
    out: list[bytes] = []
    total = 0
    table: list[bytes] = []
    width = min_code_size + 1
    prev: bytes | None = None

    def reset() -> None:
        nonlocal table, width, prev
        table = [bytes([j]) for j in range(clear)] + [b"", b""]
        width = min_code_size + 1
        prev = None

    reset()
    while True:
        if pos + width > bits.size:
            if total >= expected:
                break  # encoder omitted the end code — tolerated
            raise ValueError("truncated GIF LZW stream")
        code = int(bits[pos : pos + width] @ (1 << np.arange(width, dtype=np.int64)))
        pos += width
        if code == clear:
            reset()
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError(f"bad GIF LZW code {code}")
            entry = table[code]
        else:
            if code < len(table):
                entry = table[code]
            elif code == len(table):
                entry = prev + prev[:1]
            else:
                raise ValueError(f"bad GIF LZW code {code}")
            if len(table) < 4096:  # table full → deferred clear: stop growing
                table.append(prev + entry[:1])
                if len(table) == (1 << width) and width < 12:
                    width += 1
        out.append(entry)
        total += len(entry)
        prev = entry
    pix = np.frombuffer(b"".join(out), dtype=np.uint8)
    if pix.size < expected:
        raise ValueError(f"GIF pixel data short: {pix.size} < {expected}")
    return pix[:expected]


def _gif_color_table(payload: bytes, i: int, packed: int) -> tuple[np.ndarray | None, int]:
    if not packed & 0x80:
        return None, i
    n = 2 << (packed & 0x07)
    tbl = np.frombuffer(payload[i : i + 3 * n], dtype=np.uint8)
    if tbl.size < 3 * n:
        raise ValueError("truncated GIF color table")
    return tbl.reshape(-1, 3), i + 3 * n


def decode_gif(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Non-animated GIF87a/89a → (width, height, features): pure-stdlib
    LZW decode (LSB-first variable-width codes), interlace reorder, and
    single-frame compositing onto the logical screen (background fill +
    frame placement at its left/top offset). Features are the same
    pooled-grayscale grid the PPM path emits. Animated GIFs (a second
    image descriptor) raise rather than decode the first frame alone."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    if len(payload) < 13:
        raise ValueError("truncated GIF header")
    w, h = struct.unpack("<HH", payload[6:10])
    if w == 0 or h == 0:
        raise ValueError(f"bad GIF dimensions {w}x{h}")
    packed, bg = payload[10], payload[11]
    gct, i = _gif_color_table(payload, 13, packed)
    canvas = np.zeros((h, w, 3), dtype=np.uint8)
    if gct is not None and bg < len(gct):
        canvas[:] = gct[bg]
    frames = 0
    n = len(payload)
    while i < n:
        b = payload[i]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label byte + data sub-blocks
            i += 2
            while i < n and payload[i] != 0:
                i += 1 + payload[i]
            if i >= n:
                raise ValueError("truncated GIF extension")
            i += 1
        elif b == 0x2C:  # image descriptor
            if frames >= 1:
                raise NotImplementedError(
                    "animated GIF (multiple frames): only single-frame GIFs decode"
                )
            if i + 10 > n:
                raise ValueError("truncated GIF image descriptor")
            left, top, fw, fh = struct.unpack("<HHHH", payload[i + 1 : i + 9])
            fpacked = payload[i + 9]
            lct, i = _gif_color_table(payload, i + 10, fpacked)
            ct = lct if lct is not None else gct
            if ct is None:
                raise ValueError("GIF frame has no color table")
            if left + fw > w or top + fh > h or fw == 0 or fh == 0:
                raise ValueError("GIF frame exceeds logical screen")
            if i >= n:
                raise ValueError("truncated GIF image data")
            mcs = payload[i]
            i += 1
            data = bytearray()
            while True:
                if i >= n:
                    raise ValueError("truncated GIF image data")
                blen = payload[i]
                i += 1
                if blen == 0:
                    break
                chunk = payload[i : i + blen]
                if len(chunk) < blen:
                    raise ValueError("truncated GIF data sub-block")
                data += chunk
                i += blen
            idx = _gif_lzw(bytes(data), mcs, fw * fh)
            if int(idx.max(initial=0)) >= len(ct):
                raise ValueError("GIF palette index out of range")
            rows = idx.reshape(fh, fw)
            if fpacked & 0x40:  # interlaced: 4-pass row order (GIF89a App. E)
                order = np.concatenate(
                    [np.arange(0, fh, 8), np.arange(4, fh, 8),
                     np.arange(2, fh, 4), np.arange(1, fh, 2)]
                )
                img = np.empty((fh, fw), dtype=np.uint8)
                img[order] = rows
            else:
                img = rows
            canvas[top : top + fh, left : left + fw] = ct[img]
            frames += 1
        else:
            raise ValueError(f"bad GIF block 0x{b:02x} at byte {i}")
    if frames == 0:
        raise ValueError("GIF contains no image")
    return w, h, _pool_gray(_luma(canvas.astype(np.float64) / 255.0))


def _decode_real(payload: bytes) -> dict:
    """Dispatch on magic bytes to the PPM, GIF and WAV decoders; any other
    payload raises NotImplementedError naming the three formats."""
    if payload[:2] == b"P6":
        w, h, feats = decode_ppm(payload)
        return {"mime": "image/x-portable-pixmap", "width": w, "height": h,
                "duration_ms": None, "features": feats}
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        w, h, feats = decode_gif(payload)
        return {"mime": "image/gif", "width": w, "height": h,
                "duration_ms": None, "features": feats}
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        dur, feats = decode_wav(payload)
        return {"mime": "audio/wav", "width": None, "height": None,
                "duration_ms": dur, "features": feats}
    raise NotImplementedError(
        "decode_media reads only PPM (P6), GIF (87a/89a) and WAV (PCM) payloads"
    )


def decode_media(df: DataFrame) -> DataFrame:
    """payload → (detected mime, dimensions/duration, feature vector) via
    Arrow-batched mapInPandas. PPM, GIF and WAV payloads decode; any other
    payload fails the task with NotImplementedError.
    """
    schema = (
        "media_id long, kind string, mime string, n_bytes long, "
        "width int, height int, duration_ms int, features array<double>"
    )

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [_decode_real(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "kind": pdf["kind"].to_numpy(),
                    "mime": [r["mime"] for r in rows],
                    "n_bytes": pdf["payload"].map(len).to_numpy(),
                    "width": pd.array([r["width"] for r in rows], dtype="Int32"),
                    "height": pd.array([r["height"] for r in rows], dtype="Int32"),
                    "duration_ms": pd.array([r["duration_ms"] for r in rows], dtype="Int32"),
                    "features": [np.asarray(r["features"]).tolist() for r in rows],
                }
            )

    return df.mapInPandas(_decode, schema=schema)

