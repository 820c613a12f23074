"""Gorilla-style codec: XOR float compression + delta-of-delta timestamps.

Pure numpy, vectorized bit-packing — no per-value Python on either the
encode or the decode path (BASELINE.json input_hint: no per-row Python).
The bit scheme follows the Facebook Gorilla paper (Pelkonen et al., VLDB
2015):

Values (float64):
- first value: 64 raw bits
- then per value, x = bits(v) XOR bits(prev):
    x == 0      → '0'
    x != 0      → '1' + 5-bit leading-zero count (clamped 31) +
                   6-bit meaningful-bit length (64 stored as 0) +
                   the meaningful bits
  (single non-zero mode: we always emit the header instead of the paper's
  "reuse previous window" mode — simpler, fully vectorizable, and within
  ~1 byte/point of the two-mode variant on real series)

Timestamps (int64, any unit):
- first ts: 64 raw bits; second: delta as 64 raw bits
- then per ts, zigzag(dod) where dod = Δi − Δi−1:
    dod == 0    → '0'
    z < 2^7     → '10'   + 7 bits
    z < 2^12    → '110'  + 12 bits
    z < 2^20    → '1110' + 20 bits
    else        → '1111' + 64 bits
  On a regular 1-minute grid every dod is 0 → ~1 bit/point (documented
  degenerate case per SURVEY §2.12).

Buffer layout (v2 — decode-index sidecar):

    [hdr: uint32] [sidecar?] [payload bits]

``hdr`` packs the point count in the low 29 bits, an explicit 2-bit
layout version in bits 30-29 (this layout = 1; version 0 is the
historical unversioned v1, rejected with a clear error instead of being
silently mis-decoded), and a ``has_sidecar`` flag in the top bit. Variable-length prefix codes make code *positions*
serial to recover from the payload alone; since the encoder already knows
every code width, it emits them as a sidecar so decode is 100% numpy:

- values sidecar: a bitmap over points 1..n-1 (bit = xor != 0, i.e. the
  code is a 12+mlen-bit header code rather than the 1-bit repeat code),
  then a 6-bit (mlen & 63) entry per set bit, MSB-first packed.
- timestamp sidecar: a bitmap over points 2..n-1 (bit = dod != 0), then a
  2-bit bucket class (7/12/20/64-bit) entry per set bit.

Degenerate streams — constant values, regular time grids — have an
all-zero bitmap, so the encoder drops the sidecar entirely (flag = 0) and
the ~1 bit/point cost of those cases is preserved; decode reconstructs
them arithmetically. Non-degenerate streams pay bitmap (1 bit/point) +
entries (6 or 2 bits per non-trivial point), a few % of payload size.

Decode is batched: ``decode_values_multi`` / ``decode_timestamps_multi``
take a whole list of blobs (an Arrow batch's column) and concatenate
them, read every header and its version bits at once, and turn sidecar
bitmap ranks, code positions, delta-of-delta sums and the XOR chain into
per-blob (segmented) ``cumsum`` / ``bitwise_xor.accumulate`` over the
concatenated points, with 9-byte ``_gather64`` reads for the payloads.
The cost is a few numpy calls per batch, not per blob. There is no
per-point or per-blob Python loop anywhere in the decoder.
"""

from __future__ import annotations

import numpy as np

CHUNK_SIZE = 4096  # max points per encoded chunk

_U64 = np.uint64
_FLAG_SIDECAR = np.uint32(1 << 31)
# explicit layout version in header bits 30-29 (counts are chunk-bounded
# ≤ 4096, nowhere near 2^29): version 0b00 is the historical unversioned
# v1 layout whose top bit was always 0 — without the marker a durably
# persisted v1 blob would silently decode on the v2 degenerate path as a
# constant series / regular grid instead of erroring, and future layout
# changes would be equally undetectable
_VER_SHIFT = 29
_VERSION = 1  # the sidecar ("v2") layout
_VER_BITS = np.uint32(_VERSION << _VER_SHIFT)
_VER_MASK = 0b11 << _VER_SHIFT
_N_MASK = (1 << _VER_SHIFT) - 1


def _check_version(hdr: int) -> None:
    ver = (hdr & _VER_MASK) >> _VER_SHIFT
    if ver != _VERSION:
        raise ValueError(
            f"unrecognized Gorilla blob layout (version bits {ver}, expected "
            f"{_VERSION}) — refusing to guess: unversioned/v1 blobs would "
            "silently mis-decode on the degenerate path"
        )


def _pack_spans(
    hi: np.ndarray, lo: np.ndarray, width: np.ndarray, starts: np.ndarray
) -> list[bytes]:
    """Pack codes into ONE payload per span (series), vectorized across all
    spans at once: one (n × maxw) bit matrix for the whole batch, then a
    cheap per-span packbits over its flat-bit slice. ``starts`` are span
    start indices into the code arrays (first span starts at 0).

    This is what makes many-small-series encoding cheap: the per-series
    cost collapses to ~10 µs (slice + packbits) instead of a full encode
    call (~1 ms of numpy/pandas fixed overhead).

    The (slab × maxw) bit matrix is materialized in bounded slabs — for
    millions of codes a single matrix plus its int temporaries would run
    to gigabytes."""
    n = width.size
    if n == 0:
        return []
    SLAB = 1 << 18
    flats = []
    for a in range(0, n, SLAB):
        b = min(a + SLAB, n)
        w = width[a:b].astype(np.int32)
        maxw = int(w.max())
        j = np.arange(maxw, dtype=np.int32)[None, :]
        shift = w[:, None] - 1 - j
        valid = shift >= 0
        sh = np.where(valid, shift, 0)
        from_hi = sh >= 64
        sh_lo = np.where(from_hi, 0, sh).astype(np.uint64)
        sh_hi = np.where(from_hi, sh - 64, 0).astype(np.uint64)
        bits = np.where(
            from_hi,
            (hi[a:b, None] >> sh_hi) & _U64(1),
            (lo[a:b, None] >> sh_lo) & _U64(1),
        ).astype(np.uint8)
        flats.append(bits[valid])
    flat = np.concatenate(flats) if len(flats) > 1 else flats[0]
    # bit offset of each span within the flat stream
    cum_w = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(width, out=cum_w[1:])
    bounds = np.append(cum_w[starts], cum_w[-1])
    return [
        np.packbits(flat[bounds[i] : bounds[i + 1]]).tobytes()
        for i in range(starts.size)
    ]


def _pack_sidecars(
    include: np.ndarray,
    flags: np.ndarray,
    entry_vals: np.ndarray,
    ebits: int,
    starts: np.ndarray,
) -> list[bytes]:
    """Per-span decode-index sidecars (see module docstring).

    ``include`` masks the points that belong to the bitmap domain (the
    raw-coded first point(s) of each span are excluded), ``flags`` marks
    non-trivial codes, ``entry_vals`` carries the per-point entry value
    (only read where ``flags & include``), ``ebits`` its fixed width.
    Returns b"" for degenerate spans (all-zero bitmap)."""
    n = include.size
    incl_cum = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(include, out=incl_cum[1:])
    sub_flags = flags[include]
    sub_bounds = np.append(incl_cum[starts], incl_cum[-1])
    sel = flags & include
    sel_cum = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(sel, out=sel_cum[1:])
    ent = entry_vals[sel].astype(np.uint64)
    ent_bounds = np.append(sel_cum[starts], sel_cum[-1])
    shifts = np.arange(ebits - 1, -1, -1, dtype=np.uint64)
    ent_bits = ((ent[:, None] >> shifts) & _U64(1)).astype(np.uint8)
    out: list[bytes] = []
    for i in range(starts.size):
        fb = sub_flags[sub_bounds[i] : sub_bounds[i + 1]]
        if not fb.any():
            out.append(b"")
            continue
        bm = np.packbits(fb).tobytes()
        eb = np.packbits(ent_bits[ent_bounds[i] : ent_bounds[i + 1]].ravel()).tobytes()
        out.append(bm + eb)
    return out


def _hdr(n: int, sidecar: bytes) -> bytes:
    h = np.uint32(n) | _VER_BITS
    if sidecar:
        h |= _FLAG_SIDECAR
    return h.tobytes()


def _clz64(x: np.ndarray) -> np.ndarray:
    """Count leading zeros of uint64 (vectorized); clz(0) = 64."""
    out = np.full(x.shape, 64, dtype=np.int64)
    nz = x != 0
    # bit_length via float log2 is unsafe at 64 bits; use progressive halving
    v = x[nz].copy()
    n = np.zeros(v.shape, dtype=np.int64)
    for shift_amt in (32, 16, 8, 4, 2, 1):
        mask = v >> _U64(shift_amt) == 0
        n[mask] += shift_amt
        v[~mask] >>= _U64(shift_amt)
    out[nz] = n
    return out


def _ctz64(x: np.ndarray) -> np.ndarray:
    """Count trailing zeros of uint64 (vectorized); ctz(0) = 64."""
    low = (x & (~x + _U64(1)))  # isolate lowest set bit
    return np.where(x == 0, 64, 63 - _clz64(low))


def encode_values_multi(values: np.ndarray, starts: np.ndarray) -> list[bytes]:
    """Gorilla-XOR encode many series in one vectorized pass.

    ``values`` is the concatenation of all series; ``starts`` marks each
    series' first index (starts[0] == 0). Each series encodes exactly as
    it would alone — the XOR chain resets at every start."""
    v = np.ascontiguousarray(values, dtype=np.float64).view(np.uint64)
    n = v.size
    if n == 0:
        return []
    starts = np.asarray(starts, dtype=np.int64)
    xor = np.empty(n, dtype=np.uint64)
    xor[0] = v[0]
    xor[1:] = v[1:] ^ v[:-1]
    xor[starts] = v[starts]  # chain reset per series

    lead = np.minimum(_clz64(xor), 31)
    mlen = 64 - lead - _ctz64(xor)
    mlen = np.maximum(mlen, 1)
    meaningful = xor >> (_U64(64) - lead.astype(np.uint64) - mlen.astype(np.uint64))

    zero = xor == 0
    width = np.where(zero, 1, 1 + 5 + 6 + mlen)
    header = (
        _U64(1) << _U64(11)
    ) | (lead.astype(np.uint64) << _U64(6)) | (mlen.astype(np.uint64) & _U64(63))
    code = np.where(zero, _U64(0), header)
    lo = np.where(zero, _U64(0), (code << mlen.astype(np.uint64)) | meaningful)
    hi = np.where(
        zero, _U64(0), np.where(mlen + 12 > 64, code >> (_U64(64) - mlen.astype(np.uint64)), _U64(0))
    )
    width[starts] = 64
    lo[starts] = v[starts]
    hi[starts] = 0
    payloads = _pack_spans(hi, lo, width, starts)

    include = np.ones(n, dtype=bool)
    include[starts] = False  # first point is raw-coded, not in the bitmap
    sidecars = _pack_sidecars(include, ~zero, mlen.astype(np.uint64) & _U64(63), 6, starts)

    lens = np.diff(np.append(starts, n))
    return [
        _hdr(int(ln), sc) + sc + p for ln, sc, p in zip(lens, sidecars, payloads)
    ]


def encode_timestamps_multi(ts: np.ndarray, starts: np.ndarray) -> list[bytes]:
    """Delta-of-delta encode many series in one vectorized pass; each
    series encodes exactly as it would alone."""
    t = np.ascontiguousarray(ts, dtype=np.int64)
    n = t.size
    if n == 0:
        return []
    starts = np.asarray(starts, dtype=np.int64)
    lens = np.diff(np.append(starts, n))
    raw = t.view(np.uint64)
    is_start = np.zeros(n, dtype=bool)
    is_start[starts] = True
    second = np.zeros(n, dtype=bool)
    second[starts[lens >= 2] + 1] = True

    delta = np.zeros(n, dtype=np.int64)
    delta[1:] = t[1:] - t[:-1]
    dod = np.zeros(n, dtype=np.int64)
    dod[2:] = delta[2:] - delta[1:-1]
    z = _zigzag(dod)

    width = np.empty(n, dtype=np.int64)
    lo = np.empty(n, dtype=np.uint64)
    hi = np.zeros(n, dtype=np.uint64)
    cls = np.zeros(n, dtype=np.uint64)  # sidecar bucket class per non-zero dod
    zero = dod == 0
    b7 = (~zero) & (z < (1 << 7))
    b12 = (~zero) & (~b7) & (z < (1 << 12))
    b20 = (~zero) & (~b7) & (~b12) & (z < (1 << 20))
    b64 = (~zero) & (~b7) & (~b12) & (~b20)
    width[zero] = 1
    lo[zero] = 0
    width[b7] = 2 + 7
    lo[b7] = (_U64(0b10) << _U64(7)) | z[b7]
    width[b12] = 3 + 12
    lo[b12] = (_U64(0b110) << _U64(12)) | z[b12]
    cls[b12] = 1
    width[b20] = 4 + 20
    lo[b20] = (_U64(0b1110) << _U64(20)) | z[b20]
    cls[b20] = 2
    width[b64] = 4 + 64
    lo[b64] = z[b64]
    hi[b64] = _U64(0b1111)
    cls[b64] = 3
    # first two codes of each series are raw 64-bit (ts, then first delta)
    width[is_start] = 64
    lo[is_start] = raw[is_start]
    hi[is_start] = 0
    width[second] = 64
    lo[second] = delta[second].view(np.uint64)
    hi[second] = 0

    payloads = _pack_spans(hi, lo, width, starts)
    include = ~(is_start | second)  # raw-coded heads are not in the bitmap
    sidecars = _pack_sidecars(include, ~zero, cls, 2, starts)
    return [
        _hdr(int(ln), sc) + sc + p for ln, sc, p in zip(lens, sidecars, payloads)
    ]


def _zigzag(x: np.ndarray) -> np.ndarray:
    return ((x << 1) ^ (x >> 63)).astype(np.uint64)


# dod bucket class → (code width, zigzag payload width)
_TS_WIDTH = np.array([9, 15, 24, 68], dtype=np.int64)
_TS_ZW = np.array([7, 12, 20, 64], dtype=np.int64)
_PAD = b"\x00" * 16  # keeps every 9-byte ``_gather64`` read in range


def _gather64(data: np.ndarray, off: np.ndarray) -> np.ndarray:
    """Vectorized read of 64 bits at each bit offset in ``off`` (MSB-first).

    One gather of the 8 bytes at ``off >> 3`` as a big-endian word through
    an unaligned stride-1 view, plus the 9th byte for the bit-in-byte
    shift; ``data`` must be padded so ``(off >> 3) + 8`` is in range.
    """
    words = np.ndarray((data.size - 8,), dtype=">u8", buffer=data, strides=(1,))
    k = off >> 3
    r = (off & 7).astype(np.uint64)
    # r == 0 → tail byte shifted out entirely (uint64 >> 8 of a byte = 0)
    return (words[k].astype(np.uint64) << r) | (
        data[k + 8].astype(np.uint64) >> (_U64(8) - r)
    )


class _Batch:
    """A list of blobs laid out for one vectorized decode.

    ``data`` is every blob concatenated (padded), ``off`` each blob's byte
    offset, ``n`` its point count; per point, ``blob`` is the owning blob
    and ``j`` the index within it; ``start`` is each blob's first point.
    Raises the version error if ANY blob carries bad version bits."""

    def __init__(self, blobs) -> None:
        self.size = np.fromiter(map(len, blobs), dtype=np.int64, count=len(blobs))
        self.data = np.frombuffer(b"".join(blobs) + _PAD, dtype=np.uint8)
        self.off = np.zeros(self.size.size, dtype=np.int64)
        np.cumsum(self.size[:-1], out=self.off[1:])
        self.has_hdr = self.size > 0  # b"" is the empty values blob
        if (self.size[self.has_hdr] < 4).any():
            raise ValueError("truncated Gorilla blob (shorter than its 4-byte header)")
        words = np.ndarray(
            (self.data.size - 3,), dtype=np.uint32, buffer=self.data, strides=(1,)
        )
        hdr = np.zeros(self.size.size, dtype=np.uint32)
        hdr[self.has_hdr] = words[self.off[self.has_hdr]]
        bad = self.has_hdr & ((hdr & np.uint32(_VER_MASK)) != _VER_BITS)
        if bad.any():
            _check_version(int(hdr[np.argmax(bad)]))
        self.n = (hdr & np.uint32(_N_MASK)).astype(np.int64)
        self.sidecar = (hdr >> np.uint32(31)).astype(bool)
        self.start = np.zeros(self.n.size + 1, dtype=np.int64)
        np.cumsum(self.n, out=self.start[1:])
        self.blob = np.repeat(np.arange(self.n.size), self.n)
        self.j = np.arange(self.start[-1]) - self.start[self.blob]

    def cumsum(self, x: np.ndarray) -> np.ndarray:
        """Inclusive cumsum restarting at every blob (int64 wraps mod 2^64
        exactly like a per-blob cumsum, so subtracting the prefix is exact)."""
        c = np.zeros(x.size + 1, dtype=x.dtype)
        np.cumsum(x, out=c[1:])
        return c[1:] - c[self.start[:-1]][self.blob]

    def sidecar_codes(self, head: int, ebits: int) -> tuple[np.ndarray, ...]:
        """Per point: the sidecar bitmap bit (non-trivial code) and its
        ``ebits``-wide entry (0 where the bit is clear); per blob: the byte
        where its payload starts. The bitmap covers points ``head..n-1``
        of sidecar blobs."""
        m = np.where(self.sidecar, self.n - head, 0)
        bm_bytes = (m + 7) // 8
        dom = self.sidecar[self.blob] & (self.j >= head)
        q = self.j[dom] - head
        bits = self.data[self.off[self.blob[dom]] + 4 + (q >> 3)] >> (7 - (q & 7))
        flag = np.zeros(self.j.size, dtype=bool)
        flag[dom] = (bits & 1).astype(bool)
        # rank of each flagged point among its blob's flagged points
        fc = np.zeros(flag.size + 1, dtype=np.int64)
        np.cumsum(flag, out=fc[1:])
        k = fc[self.start[1:]] - fc[self.start[:-1]]
        ent_at = 8 * (self.off + 4 + bm_bytes)
        rank = fc[1:][flag] - 1 - fc[self.start[:-1]][self.blob[flag]]
        ent = np.zeros(flag.size, dtype=np.int64)
        ent[flag] = (
            _gather64(self.data, ent_at[self.blob[flag]] + ebits * rank)
            >> _U64(64 - ebits)
        ).astype(np.int64)
        payload = self.off + 4 + np.where(self.sidecar, bm_bytes + (k * ebits + 7) // 8, 0)
        return flag, ent, payload

    def positions(self, width: np.ndarray, payload: np.ndarray) -> np.ndarray:
        """Absolute bit offset of every code from per-point code widths;
        checks that each blob is exactly as long as its codes need."""
        end = self.cumsum(width)
        bits = np.zeros(self.n.size, dtype=np.int64)
        last = self.n > 0
        bits[last] = end[self.start[1:][last] - 1]
        need = np.where(self.has_hdr, payload - self.off + (bits + 7) // 8, 0)
        if (need != self.size).any():
            i = int(np.argmax(need != self.size))
            raise ValueError(
                f"corrupt Gorilla blob: {self.size[i]} bytes, its header "
                f"({self.n[i]} points) and sidecar need {need[i]}"
            )
        return 8 * payload[self.blob] + end - width


def decode_values_multi(blobs) -> tuple[np.ndarray, np.ndarray]:
    """Decode a list of values blobs in one vectorized pass; returns the
    concatenated float64 points and each blob's point count.

    Code widths come from the sidecars (1 bit for a repeat, 12 + mlen for
    a header code, 64 for each raw first value), code positions from
    their per-blob cumsum, and the values from a per-blob XOR accumulate.
    Constant-series blobs carry no sidecar and need no special case: all
    their xor codes are the 1-bit repeat."""
    b = _Batch(blobs)
    flag, ent, payload = b.sidecar_codes(head=1, ebits=6)
    mlen = np.where(ent[flag] == 0, 64, ent[flag]).astype(np.uint64)
    width = np.where(b.j == 0, 64, 1)
    width[flag] = 12 + mlen.astype(np.int64)
    pos = b.positions(width, payload)

    first = b.j == 0
    xor = np.zeros(b.j.size, dtype=np.uint64)
    xor[first] = _gather64(b.data, pos[first])
    at = pos[flag]
    lead = (_gather64(b.data, at) >> _U64(58)) & _U64(31)
    meaningful = _gather64(b.data, at + 12) >> (_U64(64) - mlen)
    xor[flag] = meaningful << (_U64(64) - lead - mlen)
    acc = np.zeros(xor.size + 1, dtype=np.uint64)
    np.bitwise_xor.accumulate(xor, out=acc[1:])
    values = acc[1:] ^ acc[b.start[:-1]][b.blob]
    return values.view(np.float64), b.n


def decode_timestamps_multi(blobs) -> tuple[np.ndarray, np.ndarray]:
    """Decode a list of timestamp blobs in one vectorized pass; returns the
    concatenated int64 points and each blob's point count.

    The raw t0 and first delta, and every sidecar-flagged delta-of-delta,
    are gathered at positions from the per-blob cumsum of code widths;
    deltas and then timestamps are two per-blob cumsums. Regular-grid
    blobs carry no sidecar: every dod is 0."""
    b = _Batch(blobs)
    flag, cls, payload = b.sidecar_codes(head=2, ebits=2)
    cls = cls[flag]
    width = np.where(b.j < 2, 64, 1)
    width[flag] = _TS_WIDTH[cls]
    pos = b.positions(width, payload)

    raw = np.zeros(b.j.size, dtype=np.int64)
    heads = b.j < 2
    raw[heads] = _gather64(b.data, pos[heads]).view(np.int64)
    zw = _TS_ZW[cls]
    w = _gather64(b.data, pos[flag] + (_TS_WIDTH[cls] - zw))
    z = w >> ((_U64(64) - zw.astype(np.uint64)) & _U64(63))
    raw[flag] = (z >> _U64(1)).view(np.int64) ^ -(z & _U64(1)).view(np.int64)

    # raw holds t0 at j = 0, delta0 at j = 1 and the dods after it:
    # delta_j = delta0 + cumsum(dod), t_j = t0 + cumsum(delta)
    first = b.j == 0
    deltas = b.cumsum(np.where(first, 0, raw))
    deltas[first] = raw[first]
    return b.cumsum(deltas), b.n

