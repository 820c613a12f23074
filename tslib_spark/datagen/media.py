"""Deterministic synthetic media payloads (PPM and GIF images + PCM WAVs).

The shared *input definition* for the media_decode contract query and
its frozen oracle: both sides regenerate identical bytes from the seeded
RNG (like the parquet testdata both sides scan), then the oracle derives
the expected features with its own independent math — never by calling
the production decoders.
"""

from __future__ import annotations

import struct

import numpy as np


def media_pixels(media_id: int) -> np.ndarray:
    """The known RGB pixel array behind an even (image) media_id."""
    rng = np.random.default_rng(1000 + media_id)
    w, h = 16 + media_id % 5, 12 + media_id % 7
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def media_samples(media_id: int) -> tuple[int, np.ndarray]:
    """(sample_rate, int16 samples) behind an odd (audio) media_id."""
    rate = 8000
    n = int(rate * (0.2 + (media_id % 3) * 0.1))
    x = np.sin(np.arange(n) * (0.02 + 0.01 * (media_id % 5))) * 15000
    return rate, x.astype("<i2")


def synth_media_payloads(n: int) -> list[tuple[int, bytes]]:
    """n deterministic payloads: ids ≥ 24 → GIF (the three gif_payload
    variants), even ids → P6 PPM, odd ids → PCM WAV."""
    out = []
    for i in range(n):
        if i >= 24:
            out.append((i, gif_payload(i)))
        elif i % 2 == 0:
            rgb = media_pixels(i)
            h, w = rgb.shape[:2]
            out.append((i, b"P6\n%d %d\n255\n" % (w, h) + rgb.tobytes()))
        else:
            rate, x = media_samples(i)
            data = x.tobytes()
            fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
            riff = (
                b"RIFF"
                + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
                + b"WAVE"
                + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(data)) + data
            )
            out.append((i, riff))
    return out


def media_gif_frame(media_id: int):
    """The known (palette, index frame, placement, screen, interlaced, bg)
    behind a GIF media_id — shared input definition for the encoder below
    and the independent oracle (which composites these arrays itself,
    never calling the decoder)."""
    rng = np.random.default_rng(3000 + media_id)
    variant = media_id % 3
    n_colors = int(rng.integers(5, 32))
    palette = rng.integers(0, 256, size=(n_colors, 3), dtype=np.uint8)
    if variant == 2:  # offset frame on a larger screen, background fill
        sw, sh = 20 + media_id % 4, 17 + media_id % 5
        fw, fh = sw - 6, sh - 5
        left, top = 4, 3
    else:
        sw, sh = 15 + media_id % 6, 11 + media_id % 4
        fw, fh, left, top = sw, sh, 0, 0
    idx = rng.integers(0, n_colors, size=(fh, fw), dtype=np.uint8)
    interlaced = variant == 1
    bg = int(rng.integers(0, n_colors))
    return palette, idx, (left, top), (sw, sh), interlaced, bg


def _gif_lzw_encode(idx: np.ndarray, mcs: int) -> bytes:
    """Real GIF LZW compression (LSB-first variable-width codes, width
    growth in lockstep with the decoder's table, deferred clear when the
    table fills)."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    table = {bytes([j]): j for j in range(clear)}
    next_code = end + 1
    width = mcs + 1
    codes: list[tuple[int, int]] = [(clear, width)]
    w = b""
    for c in idx.tobytes():
        wc = w + bytes([c])
        if wc in table:
            w = wc
            continue
        codes.append((table[w], width))
        if next_code < 4096:
            table[wc] = next_code
            next_code += 1
            if next_code - 1 == (1 << width) and width < 12:
                width += 1
        w = bytes([c])
    if w:
        codes.append((table[w], width))
    codes.append((end, width))
    bits = np.concatenate(
        [((code >> np.arange(wd)) & 1).astype(np.uint8) for code, wd in codes]
    )
    return np.packbits(bits, bitorder="little").tobytes()


def gif_payload(media_id: int) -> bytes:
    """Deterministic GIF87a/89a bytes for media_gif_frame(media_id):
    variant 0 = plain global-color-table frame, 1 = interlaced + a GCE
    extension block, 2 = offset frame with a LOCAL color table."""
    palette, idx, (left, top), (sw, sh), interlaced, bg = media_gif_frame(media_id)
    n_colors = len(palette)
    ct_bits = max(1, int(np.ceil(np.log2(n_colors))))
    ct = np.zeros((2**ct_bits, 3), dtype=np.uint8)
    ct[:n_colors] = palette
    variant = media_id % 3
    local = variant == 2
    sig = b"GIF89a" if variant == 1 else b"GIF87a"
    out = bytearray(sig)
    screen_packed = (ct_bits - 1) | ((0x80 | ((ct_bits - 1) << 4)) if not local else 0x00)
    out += struct.pack("<HHBBB", sw, sh, screen_packed, bg if not local else 0, 0)
    if not local:
        out += ct.tobytes()
    if variant == 1:  # a GCE extension the decoder must skip
        out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    fh, fw = idx.shape
    img_packed = (0x40 if interlaced else 0) | ((0x80 | (ct_bits - 1)) if local else 0)
    out += b"\x2c" + struct.pack("<HHHHB", left, top, fw, fh, img_packed)
    if local:
        out += ct.tobytes()
    if interlaced:  # store rows in interlace order (what the wire carries)
        order = np.concatenate(
            [np.arange(0, fh, 8), np.arange(4, fh, 8),
             np.arange(2, fh, 4), np.arange(1, fh, 2)]
        )
        wire = idx[order]
    else:
        wire = idx
    mcs = max(2, ct_bits)
    out += bytes([mcs])
    lzw = _gif_lzw_encode(wire, mcs)
    for j in range(0, len(lzw), 255):
        chunk = lzw[j : j + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)
