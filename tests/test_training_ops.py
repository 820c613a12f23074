"""Training-data pipeline operators: dedup, similarity, text, multimodal."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from tslib_spark.functions import text as T
from tslib_spark.operators.dedup import (
    exact_dedup,
    near_dup_minhash,
    simhash_agg,
)
from tslib_spark.operators.multimodal import (
    decode_media,
    make_media_table,
    media_repartition,
)
from tslib_spark.operators.similarity import (
    ann_lsh_topk,
    brute_force_topk,
    cosine_near_dup_pairs,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        "the quick brown fox jumps over the lazy dog again and again",
        "a completely different document about spark query engines",
        "numbers 123 456 and punctuation !!! ??? everywhere here",
    ]
    rows = []
    i = 0
    for b in base:
        for _ in range(3):  # exact triplicates
            rows.append((i, b))
            i += 1
        # near-dup: one word changed
        rows.append((i, b.replace(b.split()[0], "zzz", 1)))
        i += 1
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"])).cache()


def test_exact_dedup_keeps_one_per_text(spark, docs):
    out = exact_dedup(docs, "text", "doc_id").toPandas()
    assert len(out) == 6  # 3 originals + 3 variants
    assert out["dup_count"].sum() == 12
    assert set(out[out["dup_count"] == 3]["keep_id"]) == {0, 4, 8}


def test_minhash_finds_near_dups(spark, docs):
    pairs = near_dup_minhash(docs, "doc_id", "text", n=2, num_hashes=64, bands=32, threshold=0.5).toPandas()
    # triplicates give jaccard 1.0 pairs; near-dups give high-jaccard pairs
    exact_pairs = pairs[pairs["jaccard"] == 1.0]
    assert len(exact_pairs) >= 9  # 3 groups × C(3,2)
    near = pairs[(pairs["jaccard"] < 1.0) & (pairs["jaccard"] >= 0.5)]
    assert len(near) >= 3


def test_lsh_bucket_cap_defuses_boilerplate_bucket(spark):
    """A boilerplate corpus (many docs sharing every band hash) must not
    produce a quadratic candidate stage: with max_bucket set, the
    degenerate buckets are dropped while honest near-dup pairs elsewhere
    are still found."""
    boiler = "lorem ipsum boilerplate footer terms of service apply here"
    rows = [(i, boiler) for i in range(120)]  # one adversarial bucket of 120
    rows += [(200, "a unique document about distributed query planning"),
             (201, "a unique document about distributed query planning today")]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))

    pairs = near_dup_minhash(
        df, "doc_id", "text", n=2, num_hashes=64, bands=32, threshold=0.5,
        max_bucket=50,
    ).toPandas()
    found = {tuple(sorted((int(a), int(b)))) for a, b in pairs[["id_a", "id_b"]].to_numpy()}
    # the honest near-dup pair survives; the 120²/2 boilerplate pairs do not
    assert (200, 201) in found
    assert not any(a < 120 and b < 120 for a, b in found)


def test_simhash_hamming_close_for_near_dups(spark, docs):
    sigs = {r["doc_id"]: r["simhash"] for r in simhash_agg(docs, "doc_id", "text").collect()}

    def hamming(a, b):
        return bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1")

    pairs = [(a, b) for a in sigs for b in sigs if a < b]
    # identical docs → hamming 0 (three triplicate groups)
    assert sum(hamming(a, b) == 0 for a, b in pairs) >= 9
    # different base docs are far apart
    assert all(hamming(a, b) > 10 for a, b in pairs if a < 4 and b >= 8)


def test_hyperplane_signature_arrow_bitidentical_to_expression(spark):
    """The Arrow batch kernel must produce BIT-identical signatures to the
    Catalyst expression path (frozen fixtures depend on the left-to-right
    float fold), across multiple bands and odd dims."""
    from pyspark.sql import functions as F

    from tslib_spark.operators.similarity import hyperplane_signatures_arrow, make_planes
    from tslib_spark.oracle.folds import hyperplane_signature

    rng = np.random.default_rng(77)
    dim, n_rows, n_bands = 23, 500, 3
    pdf = pd.DataFrame(
        {"id": range(n_rows), "v": [rng.normal(size=dim).tolist() for _ in range(n_rows)]}
    )
    df = spark.createDataFrame(pdf)
    bands = [make_planes(dim, 12, 42 + j) for j in range(n_bands)]
    got = (
        df.select(
            "id",
            hyperplane_signatures_arrow(bands)(F.col("v")).alias("a"),
            *[hyperplane_signature(F.col("v"), p).alias(f"e{j}") for j, p in enumerate(bands)],
        )
        .toPandas()
        .sort_values("id")
    )
    for j in range(n_bands):
        arrow_j = got["a"].map(lambda r, j=j: int(r[j])).to_numpy()
        assert (arrow_j == got[f"e{j}"].to_numpy()).all(), f"band {j} signatures diverge"


def test_brute_force_and_lsh_topk_agree_on_head(spark):
    rng = np.random.default_rng(9)
    vecs = rng.normal(size=(300, 16))
    # plant two near-copies of vector 0
    vecs[1] = vecs[0] + rng.normal(0, 0.01, 16)
    vecs[2] = vecs[0] + rng.normal(0, 0.01, 16)
    pdf = pd.DataFrame({"vec_id": range(300), "embedding": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf)
    q = vecs[0].tolist()
    bf = brute_force_topk(df, "embedding", "vec_id", q, k=3).toPandas()
    assert bf["vec_id"].iloc[0] == 0 and set(bf["vec_id"]) == {0, 1, 2}
    ann = ann_lsh_topk(df, "embedding", "vec_id", q, k=3, n_planes=8).toPandas()
    assert set(ann["vec_id"]) >= {0, 1, 2}  # near-copies share the bucket

    pairs = cosine_near_dup_pairs(
        df, "embedding", "vec_id", dim=16, threshold=0.99, n_planes=6
    ).toPandas()
    found = {tuple(sorted(p)) for p in pairs[["id_a", "id_b"]].to_numpy()}
    assert {(0, 1), (0, 2), (1, 2)} <= found


def test_ann_lsh_recall_at_10(spark):
    """Quantified recall@10 ≥ 0.9 vs exact brute force on a clustered
    fixture (the regime LSH is for: true neighbors at high cosine).
    Ground truth from numpy, independently of the Spark brute-force path —
    which is also asserted to match numpy exactly."""
    rng = np.random.default_rng(123)
    dim, n = 32, 2000
    vecs = rng.normal(size=(n, dim))
    q = rng.normal(size=dim)
    # plant a 40-vector cluster around the query (noise sd 0.15 → cosine ≳ 0.97)
    cluster_ids = rng.choice(n, size=40, replace=False)
    for cid in cluster_ids:
        vecs[cid] = q + rng.normal(0, 0.15, dim)
    cos = (vecs @ q) / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    order = np.lexsort((np.arange(n), -cos))
    truth = set(order[:10].tolist())

    pdf = pd.DataFrame({"vec_id": range(n), "embedding": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf)
    bf = brute_force_topk(df, "embedding", "vec_id", q.tolist(), k=10).toPandas()
    assert set(bf["vec_id"]) == truth  # exact path == numpy ground truth

    ann = ann_lsh_topk(df, "embedding", "vec_id", q.tolist(), k=10, n_planes=10).toPandas()
    recall = len(set(ann["vec_id"]) & truth) / 10
    assert recall >= 0.9, f"recall@10 = {recall}"


def test_knn_graph_topk_per_row(spark):
    from tslib_spark.operators.similarity import pairwise_topk_per_row

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(120, 8))
    vecs[10] = vecs[5] + rng.normal(0, 0.01, 8)  # 5 and 10 are mutual NNs
    pdf = pd.DataFrame({"vec_id": range(120), "embedding": [v.tolist() for v in vecs]})
    g = pairwise_topk_per_row(
        spark.createDataFrame(pdf), "embedding", "vec_id", dim=8, k=3, n_planes=6
    ).toPandas()
    n5 = g[g["id_a"] == 5].sort_values("rank")
    assert len(n5) and n5["id_b"].iloc[0] == 10
    assert (g.groupby("id_a")["rank"].max() <= 3).all()


def test_text_functions(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on a mat"), (2, "der hund und die katze ist da"), (3, "12345 !!!")],
        "id long, t string",
    )
    out = df.select(
        "id",
        T.token_count(F.col("t")).alias("n"),
        T.punct_ratio(F.col("t")).alias("punct"),
    ).toPandas().set_index("id")
    assert out.loc[1, "n"] == 6
    assert out.loc[3, "punct"] > 0.2


def test_multimodal_plumbing(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": range(20),
            "blob": [bytes([i]) * (100 + 50 * i) for i in range(20)],
        }
    )
    df = spark.createDataFrame(pdf)
    media = make_media_table(df, "doc_id", "blob", "image")
    media = media_repartition(media, target_bytes=1000)
    assert media.rdd.getNumPartitions() >= 2

    feats = decode_media(media, fake=True).toPandas()
    assert len(feats) == 20
    assert all(len(f) == 64 for f in feats["features"])
    # deterministic: same payload → same features
    again = decode_media(media, fake=True).toPandas().set_index("media_id")
    first = feats.set_index("media_id")
    for i in range(20):
        np.testing.assert_array_equal(first.loc[i, "features"], again.loc[i, "features"])

    # unknown formats raise cleanly at execution (codec libs absent)
    with pytest.raises(Exception, match="NotImplementedError|external media libs"):
        decode_media(media, fake=False).collect()


def _ppm_bytes(w: int, h: int) -> tuple[bytes, np.ndarray]:
    rng = np.random.default_rng(w * 1000 + h)
    rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    return b"P6\n# comment\n%d %d\n255\n" % (w, h) + rgb.tobytes(), rgb


def _wav_bytes(rate: int, seconds: float, freq: float = 440.0) -> tuple[bytes, np.ndarray]:
    import struct

    n = int(rate * seconds)
    t = np.arange(n) / rate
    x = (np.sin(2 * np.pi * freq * t) * 20000).astype("<i2")
    data = x.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    riff = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return riff, x.astype(np.float64) / 32768.0


def test_multimodal_real_decode_ppm_wav(spark):
    """The REAL decode branch: PPM and WAV parse with no external libs.
    Metadata (width/height/duration) comes from the actual headers and the
    features match an independent numpy oracle."""
    ppm, rgb = _ppm_bytes(13, 9)  # dims not divisible by the 8x8 pool grid
    wav, samples = _wav_bytes(8000, 0.5)
    pdf = pd.DataFrame({"doc_id": [1, 2], "blob": [ppm, wav]})
    media = make_media_table(spark.createDataFrame(pdf), "doc_id", "blob", "mixed")
    got = decode_media(media, fake=False).toPandas().set_index("media_id")

    img = got.loc[1]
    assert (img["mime"], img["width"], img["height"]) == ("image/x-portable-pixmap", 13, 9)
    gray = (rgb.astype(np.float64) / 255.0) @ np.array([0.299, 0.587, 0.114])
    ri = np.minimum((np.arange(9) * 8) // 9, 7)
    ci = np.minimum((np.arange(13) * 8) // 13, 7)
    cell = (ri[:, None] * 8 + ci[None, :]).ravel()
    want = np.bincount(cell, weights=gray.ravel(), minlength=64) / np.bincount(cell, minlength=64)
    np.testing.assert_allclose(np.asarray(img["features"]), want, atol=1e-12)

    aud = got.loc[2]
    assert aud["mime"] == "audio/wav" and aud["duration_ms"] == 500
    bins = np.minimum((np.arange(len(samples)) * 64) // len(samples), 63)
    wantf = np.bincount(bins, weights=np.abs(samples), minlength=64) / np.bincount(
        bins, minlength=64
    )
    np.testing.assert_allclose(np.asarray(aud["features"]), wantf, atol=1e-12)


def test_ivf_topk_recall(spark):
    """IVF (coarse-quantizer) ANN: recall@10 ≥ 0.9 vs numpy ground truth on
    a clustered fixture, probing a fraction of the cells."""
    from tslib_spark.operators.similarity import ivf_topk, train_ivf_centroids

    rng = np.random.default_rng(77)
    dim, n = 32, 3000
    centers = rng.normal(size=(10, dim)) * 3
    vecs = centers[rng.integers(0, 10, n)] + rng.normal(0, 0.4, (n, dim))
    q = centers[3] + rng.normal(0, 0.1, dim)
    cos = (vecs @ q) / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    truth = set(np.lexsort((np.arange(n), -cos))[:10].tolist())

    pdf = pd.DataFrame({"vec_id": range(n), "embedding": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf)
    cent = train_ivf_centroids(df, "embedding", n_centroids=20, seed=5, order_col="vec_id")
    got = ivf_topk(df, "embedding", "vec_id", q.tolist(), cent, k=10, nprobe=4).toPandas()
    recall = len(set(got["vec_id"]) & truth) / 10
    assert recall >= 0.9, f"IVF recall@10 = {recall}"


def _png_chunk(typ: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body)) + typ + body
        + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF)
    )


def _png_bytes(px: np.ndarray, color: int, filters: list[int], pal: np.ndarray | None = None) -> bytes:
    """Independent PNG encoder for the decode oracle: applies the spec's
    filter transforms FORWARD over the true pixels (the encoder sees the
    reconstructed == original bytes), zlib-compresses, wraps in chunks."""
    import struct
    import zlib

    h, w = px.shape[:2]
    ch = px.shape[2] if px.ndim == 3 else 1
    bpp = ch
    flat = px.reshape(h, w * ch).astype(np.int32)
    lines = bytearray()
    prev = np.zeros(w * ch, np.int32)
    for y in range(h):
        f = filters[y % len(filters)]
        row = flat[y]
        left = np.zeros_like(row)
        left[bpp:] = row[:-bpp]
        if f == 0:
            enc = row
        elif f == 1:
            enc = (row - left) % 256
        elif f == 2:
            enc = (row - prev) % 256
        elif f == 3:
            enc = (row - ((left + prev) >> 1)) % 256
        else:
            enc = np.empty_like(row)
            for x in range(w * ch):
                a = int(row[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[x] = (int(row[x]) - pred) % 256
        lines += bytes([f]) + bytes(enc.astype(np.uint8))
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
    if pal is not None:
        out += _png_chunk(b"PLTE", pal.astype(np.uint8).tobytes())
    return out + _png_chunk(b"IDAT", zlib.compress(bytes(lines))) + _png_chunk(b"IEND", b"")


def _pool_oracle(gray: np.ndarray) -> np.ndarray:
    h, w = gray.shape
    ri = np.minimum((np.arange(h) * 8) // h, 7)
    ci = np.minimum((np.arange(w) * 8) // w, 7)
    cell = (ri[:, None] * 8 + ci[None, :]).ravel()
    return np.bincount(cell, weights=gray.ravel(), minlength=64) / np.maximum(
        np.bincount(cell, minlength=64), 1
    )


def test_png_decode_all_filter_types():
    """Stdlib PNG decode: every filter type (None/Sub/Up/Average/Paeth)
    reconstructs bit-exactly — features match the independent pooled-luma
    oracle on the true pixels."""
    from tslib_spark.operators.multimodal import decode_png

    rng = np.random.default_rng(42)
    rgb = rng.integers(0, 256, size=(11, 7, 3), dtype=np.uint8)
    png = _png_bytes(rgb, color=2, filters=[0, 1, 2, 3, 4])
    w, h, feats = decode_png(png)
    assert (w, h) == (7, 11)
    want = _pool_oracle((rgb.astype(np.float64) / 255.0) @ np.array([0.299, 0.587, 0.114]))
    np.testing.assert_allclose(feats, want, atol=1e-12)


def test_png_decode_palette_and_gray_alpha():
    from tslib_spark.operators.multimodal import decode_png

    rng = np.random.default_rng(7)
    # paletted (color 3): indices into a 16-entry palette
    pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, size=(9, 13), dtype=np.uint8)
    png = _png_bytes(idx[:, :, None], color=3, filters=[4, 3, 2, 1, 0], pal=pal)
    w, h, feats = decode_png(png)
    assert (w, h) == (13, 9)
    rgb = pal[idx]
    want = _pool_oracle((rgb.astype(np.float64) / 255.0) @ np.array([0.299, 0.587, 0.114]))
    np.testing.assert_allclose(feats, want, atol=1e-12)

    # gray+alpha (color 4): alpha ignored, gray channel pooled
    ga = rng.integers(0, 256, size=(8, 8, 2), dtype=np.uint8)
    png2 = _png_bytes(ga, color=4, filters=[1, 4])
    w2, h2, feats2 = decode_png(png2)
    assert (w2, h2) == (8, 8)
    np.testing.assert_allclose(feats2, _pool_oracle(ga[:, :, 0] / 255.0), atol=1e-12)


def test_png_decode_rejects_corrupt():
    from tslib_spark.operators.multimodal import decode_png

    rng = np.random.default_rng(1)
    rgb = rng.integers(0, 256, size=(5, 5, 3), dtype=np.uint8)
    png = _png_bytes(rgb, color=2, filters=[0])
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"JUNK" + png)
    with pytest.raises(ValueError, match="truncated PNG"):
        decode_png(png[:50])  # cuts inside the IDAT chunk body
    # corrupt the deflate stream body (skip sig+IHDR = 8+25, then into IDAT data)
    broken = bytearray(png)
    broken[8 + 25 + 12] ^= 0xFF
    with pytest.raises(ValueError, match="corrupt PNG IDAT|PNG pixel data"):
        decode_png(bytes(broken))


def test_png_decode_in_decode_media(spark):
    rng = np.random.default_rng(3)
    rgb = rng.integers(0, 256, size=(10, 6, 3), dtype=np.uint8)
    png = _png_bytes(rgb, color=2, filters=[0, 1, 2, 3, 4])
    media = make_media_table(
        spark.createDataFrame(pd.DataFrame({"doc_id": [1], "blob": [png]})),
        "doc_id", "blob", "image",
    )
    got = decode_media(media, fake=False).toPandas().iloc[0]
    assert (got["mime"], got["width"], got["height"]) == ("image/png", 6, 10)


def test_wav_truncation_raises_clearly():
    """Chunk lengths are untrusted: oversized clen, short fmt, and
    non-block-aligned data all raise descriptive ValueErrors instead of
    struct/frombuffer noise or silent truncation."""
    import struct

    from tslib_spark.operators.multimodal import decode_wav

    wav, _ = _wav_bytes(8000, 0.01)
    # oversize the data chunk's declared length beyond the buffer
    broken = bytearray(wav)
    data_at = wav.index(b"data")
    struct.pack_into("<I", broken, data_at + 4, 10_000_000)
    with pytest.raises(ValueError, match="truncated WAV"):
        decode_wav(bytes(broken))
    # fmt chunk shorter than the 16-byte PCM header
    short_fmt = bytearray(wav)
    fmt_at = wav.index(b"fmt ")
    struct.pack_into("<I", short_fmt, fmt_at + 4, 8)
    with pytest.raises(ValueError, match="WAV"):
        decode_wav(bytes(short_fmt))
    # odd data length on 16-bit mono PCM
    odd = wav[:data_at + 8] + wav[data_at + 8 : -1]
    odd = odd[:data_at + 4] + struct.pack("<I", len(odd) - data_at - 8) + odd[data_at + 8:]
    with pytest.raises(ValueError, match="not a multiple"):
        decode_wav(odd)


def test_knn_graph_banded_and_capped(spark):
    """Round-4 shape: multiband candidates, bucket cap wired, mirror
    symmetry (an undirected pair scores once and appears both ways)."""
    from tslib_spark.operators.similarity import pairwise_topk_per_row

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(100, 8))
    pdf = pd.DataFrame({"vec_id": range(100), "embedding": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf)
    g = pairwise_topk_per_row(
        df, "embedding", "vec_id", dim=8, k=3, n_planes=5, n_bands=2, max_bucket=500
    ).toPandas()
    assert (g.groupby("id_a")["rank"].max() <= 3).all()
    # the directed graph is the mirror union: every (a,b,cos) has (b,a,cos)
    # scored identically (though b's top-k may cut it)
    sc = {(a, b): c for a, b, c in zip(g["id_a"], g["id_b"], g["cosine"])}
    for (a, b), c in sc.items():
        if (b, a) in sc:
            assert sc[(b, a)] == c
    # max_bucket=0 drops every bucket → empty candidate set
    empty = pairwise_topk_per_row(
        df, "embedding", "vec_id", dim=8, k=3, n_planes=5, n_bands=2, max_bucket=0
    ).count()
    assert empty == 0


class _JpegEnc:
    """Minimal baseline-JPEG encoder for the decode oracle: forward DCT +
    quantization + canonical equal-length Huffman tables written into DHT
    (no reliance on the Annex-K example tables), 0xFF byte stuffing,
    optional restart markers, 4:4:4 / 4:2:0 / grayscale."""

    def __init__(self):
        import numpy as np

        self.C = np.array(
            [
                [
                    (np.sqrt(0.125) if u == 0 else 0.5)
                    * np.cos((2 * x + 1) * u * np.pi / 16.0)
                    for x in range(8)
                ]
                for u in range(8)
            ]
        )
        from tslib_spark.operators.jpeg import ZIGZAG

        self.ZZ = ZIGZAG
        self.Qnat = np.ones((8, 8), dtype=np.int32)  # near-lossless

    def _blocks(self, plane):
        h, w = plane.shape
        H, W = -(-h // 8) * 8, -(-w // 8) * 8
        p = np.pad(plane, ((0, H - h), (0, W - w)), mode="edge").astype(np.float64)
        out = []
        for by in range(H // 8):
            for bx in range(W // 8):
                blk = p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                D = self.C @ (blk - 128.0) @ self.C.T
                q = np.rint(D / self.Qnat).astype(np.int32)
                out.append(q.ravel()[self.ZZ])
        return out, H // 8, W // 8

    @staticmethod
    def _cat(v):
        return int(abs(int(v))).bit_length()

    def _symbolize(self, zz, pred):
        """One block → (dc_sym, ac_syms, bit-emissions, new_pred)."""
        emits = []
        diff = int(zz[0]) - pred
        t = self._cat(diff)
        bits = diff if diff >= 0 else diff + (1 << t) - 1
        emits.append(("dc", t, bits, t))
        k = 1
        run = 0
        for k in range(1, 64):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                emits.append(("ac", 0xF0, 0, 0))
                run -= 16
            s = self._cat(v)
            bits = v if v >= 0 else v + (1 << s) - 1
            emits.append(("ac", (run << 4) | s, bits, s))
            run = 0
        if run:
            emits.append(("ac", 0x00, 0, 0))
        return emits, int(zz[0])

    def encode(self, img, subsampling="444", restart=0):
        """img: (h, w) gray uint8 or (h, w, 3) RGB uint8 → JPEG bytes."""
        import struct

        gray = img.ndim == 2
        h, w = img.shape[:2]
        if gray:
            planes = [img.astype(np.float64)]
            samp = [(1, 1)]
        else:
            f = img.astype(np.float64)
            Y = 0.299 * f[:, :, 0] + 0.587 * f[:, :, 1] + 0.114 * f[:, :, 2]
            Cb = -0.168736 * f[:, :, 0] - 0.331264 * f[:, :, 1] + 0.5 * f[:, :, 2] + 128
            Cr = 0.5 * f[:, :, 0] - 0.418688 * f[:, :, 1] - 0.081312 * f[:, :, 2] + 128
            if subsampling == "420":
                H2, W2 = -(-h // 2) * 2, -(-w // 2) * 2
                def ds(p):
                    p = np.pad(p, ((0, H2 - h), (0, W2 - w)), mode="edge")
                    return p.reshape(H2 // 2, 2, W2 // 2, 2).mean(axis=(1, 3))
                planes = [Y, ds(Cb), ds(Cr)]
                samp = [(2, 2), (1, 1), (1, 1)]
            else:
                planes = [Y, Cb, Cr]
                samp = [(1, 1), (1, 1), (1, 1)]
        hmax = max(s[0] for s in samp)
        vmax = max(s[1] for s in samp)
        mcu_w, mcu_h = 8 * hmax, 8 * vmax
        mcols, mrows = -(-w // mcu_w), -(-h // mcu_h)

        # per-component zigzag blocks in raster order, then interleave MCUs
        comp_blocks = []
        for p, (hs, vs) in zip(planes, samp):
            # pad the plane so its block grid is (mrows*vs, mcols*hs)
            ph, pw = mrows * vs * 8, mcols * hs * 8
            p2 = np.pad(
                p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])), mode="edge"
            )
            blocks, brows, bcols = self._blocks(p2)
            comp_blocks.append((blocks, bcols))

        stream = []  # (comp_idx, zigzag block) in MCU-interleaved order
        for my in range(mrows):
            for mx in range(mcols):
                for ci, (hs, vs) in enumerate(samp):
                    blocks, bcols = comp_blocks[ci]
                    for by in range(vs):
                        for bx in range(hs):
                            stream.append(
                                (ci, blocks[(my * vs + by) * bcols + mx * hs + bx])
                            )

        # pass 1: symbol frequencies (shared table id 0 for all comps)
        mcu_size = sum(hs * vs for hs, vs in samp)
        dc_syms, ac_syms = set(), set()
        pred = [0] * len(samp)
        emissions = []
        for idx, (ci, zz) in enumerate(stream):
            if restart and idx % (restart * mcu_size) == 0 and idx:
                pred = [0] * len(samp)
            emits, pred[ci] = self._symbolize(zz, pred[ci])
            emissions.append(emits)
            for kind, sym, _, _ in emits:
                (dc_syms if kind == "dc" else ac_syms).add(sym)

        def canonical(syms):
            syms = sorted(syms)
            L = 1
            while (1 << L) - 1 < len(syms):
                L += 1
            bits = [0] * 16
            bits[L - 1] = len(syms)
            return bits, syms, {s: (L, c) for c, s in enumerate(syms)}

        dc_bits, dc_list, dc_code = canonical(dc_syms)
        ac_bits, ac_list, ac_code = canonical(ac_syms)

        out = bytearray(b"\xff\xd8")
        dqt = bytes([0]) + bytes(int(x) for x in self.Qnat.ravel()[self.ZZ])
        out += b"\xff\xdb" + struct.pack(">H", 2 + len(dqt)) + dqt
        sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([len(samp)])
        for ci, (hs, vs) in enumerate(samp):
            sof += bytes([ci + 1, (hs << 4) | vs, 0])
        out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
        for cls, (bits, symlist) in ((0, (dc_bits, dc_list)), (1, (ac_bits, ac_list))):
            body = bytes([(cls << 4) | 0]) + bytes(bits) + bytes(symlist)
            out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
        if restart:
            out += b"\xff\xdd" + struct.pack(">HH", 4, restart)
        sos = bytes([len(samp)])
        for ci in range(len(samp)):
            sos += bytes([ci + 1, 0x00])
        sos += bytes([0, 63, 0])
        out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

        # pass 2: entropy-coded bits with stuffing + restarts
        acc, nacc = 0, 0
        ecs = bytearray()

        def put(code, length):
            nonlocal acc, nacc
            acc = (acc << length) | code
            nacc += length
            while nacc >= 8:
                byte = (acc >> (nacc - 8)) & 0xFF
                ecs.append(byte)
                if byte == 0xFF:
                    ecs.append(0x00)
                nacc -= 8

        def flush():
            nonlocal acc, nacc
            if nacc:
                byte = ((acc << (8 - nacc)) | ((1 << (8 - nacc)) - 1)) & 0xFF
                ecs.append(byte)
                if byte == 0xFF:
                    ecs.append(0x00)
            acc, nacc = 0, 0

        rst = 0
        for idx, emits in enumerate(emissions):
            if restart and idx and idx % (restart * mcu_size) == 0:
                flush()
                ecs += bytes([0xFF, 0xD0 + (rst % 8)])
                rst += 1
            for kind, sym, bits, nbits in emits:
                L, c = (dc_code if kind == "dc" else ac_code)[sym]
                put(c, L)
                if nbits:
                    put(bits, nbits)
        flush()
        out += ecs + b"\xff\xd9"
        return bytes(out)


def test_jpeg_decode_444_and_gray():
    """Baseline JPEG decode vs the independent test encoder: near-lossless
    quant tables → pooled luma features match the original image's within
    rounding noise; dimensions from SOF."""
    from tslib_spark.operators.jpeg import decode_jpeg

    rng = np.random.default_rng(5)
    # smooth image (random DCT noise stresses rounding; smooth is realistic)
    yy, xx = np.mgrid[0:21, 0:13]
    rgb = np.stack(
        [
            (127 + 90 * np.sin(xx / 3 + c) * np.cos(yy / 4 - c)).clip(0, 255)
            for c in range(3)
        ],
        axis=2,
    ).astype(np.uint8)
    enc = _JpegEnc()
    w, h, luma = decode_jpeg(enc.encode(rgb, "444"))
    assert (w, h) == (13, 21)
    f = rgb.astype(np.float64)
    want_y = (0.299 * f[:, :, 0] + 0.587 * f[:, :, 1] + 0.114 * f[:, :, 2]) / 255.0
    assert np.abs(luma - want_y).max() < 0.02

    gray = (127 + 100 * np.sin(xx * yy / 40.0)).clip(0, 255).astype(np.uint8)
    w2, h2, luma2 = decode_jpeg(enc.encode(gray))
    assert (w2, h2) == (13, 21)
    assert np.abs(luma2 - gray / 255.0).max() < 0.02


def test_jpeg_decode_420_with_restarts():
    """4:2:0 subsampling (2x2 Y blocks per MCU, chroma upsampled) and
    restart markers (DC predictor reset, byte-aligned RSTn)."""
    from tslib_spark.operators.jpeg import decode_jpeg

    yy, xx = np.mgrid[0:37, 0:29]
    rgb = np.stack(
        [
            (127 + 90 * np.cos(xx / 5 + c * 2) * np.sin(yy / 6 + c)).clip(0, 255)
            for c in range(3)
        ],
        axis=2,
    ).astype(np.uint8)
    enc = _JpegEnc()
    w, h, luma = decode_jpeg(enc.encode(rgb, "420", restart=2))
    assert (w, h) == (29, 37)
    f = rgb.astype(np.float64)
    want_y = (0.299 * f[:, :, 0] + 0.587 * f[:, :, 1] + 0.114 * f[:, :, 2]) / 255.0
    assert np.abs(luma - want_y).max() < 0.02


def test_jpeg_rejects_unsupported():
    from tslib_spark.operators.jpeg import decode_jpeg

    with pytest.raises(ValueError, match="not a JPEG"):
        decode_jpeg(b"\x89PNG1234")
    enc = _JpegEnc()
    good = enc.encode(np.full((8, 8), 99, dtype=np.uint8))
    # flip SOF0 to SOF2 (progressive) — must refuse, not mis-decode
    prog = good.replace(b"\xff\xc0", b"\xff\xc2")
    with pytest.raises(ValueError, match="progressive|baseline"):
        decode_jpeg(prog)
    with pytest.raises(ValueError, match="truncated|no SOS"):
        decode_jpeg(good[:40])


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(1, 24),
    h=st.integers(1, 24),
    color=st.sampled_from([0, 2, 4, 6]),
    seed=st.integers(0, 2**31),
)
def test_png_roundtrip_property(w, h, color, seed):
    """Any 8-bit image, any per-row filter mix → PNG decode reconstructs
    bit-exactly (features equal the independent pooled-luma oracle)."""
    from tslib_spark.operators.multimodal import decode_png

    rng = np.random.default_rng(seed)
    ch = {0: 1, 2: 3, 4: 2, 6: 4}[color]
    px = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
    filters = [int(x) for x in rng.integers(0, 5, size=h)] or [0]
    got_w, got_h, feats = decode_png(_png_bytes(px, color=color, filters=filters))
    assert (got_w, got_h) == (w, h)
    scaled = px.astype(np.float64) / 255.0
    if ch >= 3:
        gray = scaled[:, :, :3] @ np.array([0.299, 0.587, 0.114])
    else:
        gray = scaled[:, :, 0]
    np.testing.assert_allclose(feats, _pool_oracle(gray), atol=1e-12)


@settings(max_examples=15, deadline=None)
@given(
    w=st.integers(1, 20),
    h=st.integers(1, 20),
    sub=st.sampled_from(["444", "420"]),
    restart=st.sampled_from([0, 1, 3]),
    seed=st.integers(0, 2**31),
)
def test_jpeg_roundtrip_property(w, h, sub, restart, seed):
    """Random smooth RGB at near-lossless quantization → decoded luma
    within rounding noise of the original, any subsampling/restart mix."""
    from tslib_spark.operators.jpeg import decode_jpeg

    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    phase = rng.uniform(0, 6.28, 6)
    rgb = np.stack(
        [
            (127 + 90 * np.sin(xx / 4 + phase[c]) * np.cos(yy / 5 + phase[3 + c]))
            .clip(0, 255)
            for c in range(3)
        ],
        axis=2,
    ).astype(np.uint8)
    got_w, got_h, luma = decode_jpeg(_JpegEnc().encode(rgb, sub, restart=restart))
    assert (got_w, got_h) == (w, h)
    f = rgb.astype(np.float64)
    want_y = (0.299 * f[:, :, 0] + 0.587 * f[:, :, 1] + 0.114 * f[:, :, 2]) / 255.0
    assert np.abs(luma - want_y).max() < 0.02


def _mp4_box(btype: bytes, body: bytes) -> bytes:
    import struct

    return struct.pack(">I", 8 + len(body)) + btype + body


def _mp4_bytes(duration_s: float, w: int, h: int, codec: bytes = b"avc1", v1: bool = False) -> bytes:
    """Independent minimal ISO-BMFF builder: ftyp + moov(mvhd + trak(tkhd
    + mdia(minf(stbl(stsd(codec))))))."""
    import struct

    scale = 1000
    dur = int(duration_s * scale)
    if v1:
        mvhd = bytes([1, 0, 0, 0]) + b"\x00" * 16 + struct.pack(">I", scale) + struct.pack(">Q", dur) + b"\x00" * 80
    else:
        mvhd = bytes([0, 0, 0, 0]) + b"\x00" * 8 + struct.pack(">I", scale) + struct.pack(">I", dur) + b"\x00" * 80
    tkhd = bytes([0, 0, 0, 0]) + b"\x00" * 72 + struct.pack(">II", w << 16, h << 16)
    entry = struct.pack(">I", 16) + codec + b"\x00" * 8  # minimal sample entry
    stsd = _mp4_box(b"stsd", bytes([0, 0, 0, 0]) + struct.pack(">I", 1) + entry)
    minf = _mp4_box(b"minf", _mp4_box(b"stbl", stsd))
    mdia = _mp4_box(b"mdia", minf)
    trak = _mp4_box(b"trak", _mp4_box(b"tkhd", tkhd) + mdia)
    moov = _mp4_box(b"moov", _mp4_box(b"mvhd", mvhd) + trak)
    return _mp4_box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2") + moov


def test_mp4_metadata_parse_and_frame_plan(spark):
    """MP4 box walk extracts duration/dimensions/codec without frame
    decode, and decode_media surfaces the duration a per-frame plan
    needs."""
    from tslib_spark.operators.multimodal import parse_mp4_meta

    mp4 = _mp4_bytes(3.5, 640, 360)
    meta = parse_mp4_meta(mp4)
    assert meta == {"duration_ms": 3500, "width": 640, "height": 360, "codecs": ["avc1"]}
    # 64-bit (version 1) mvhd variant
    assert parse_mp4_meta(_mp4_bytes(2.0, 320, 240, b"hev1", v1=True))["duration_ms"] == 2000

    with pytest.raises(ValueError, match="not an ISO-BMFF"):
        parse_mp4_meta(b"\x00\x00\x00\x08junk")
    with pytest.raises(ValueError, match="truncated MP4"):
        parse_mp4_meta(mp4[:-10])

    media = make_media_table(
        spark.createDataFrame(pd.DataFrame({"doc_id": [1], "blob": [mp4]})),
        "doc_id", "blob", "video",
    )
    got = decode_media(media, fake=False).toPandas().iloc[0]
    assert (got["mime"], got["width"], got["height"], got["duration_ms"]) == (
        "video/mp4", 640, 360, 3500,
    )
    assert got["features"] is None


def _ebml_size(n: int) -> bytes:
    """Minimal-width EBML size vint (marker bit + value bits)."""
    for length in range(1, 9):
        if n < (1 << (7 * length)) - 1:
            return ((1 << (7 * length)) | n).to_bytes(length, "big")
    raise ValueError("size too large")


def _ebml_el(eid: bytes, body: bytes) -> bytes:
    return eid + _ebml_size(len(body)) + body


def _webm_bytes(
    duration_ms: float,
    w: int,
    h: int,
    doctype: bytes = b"webm",
    scale_ns: int | None = 1_000_000,
    f64: bool = False,
    unknown_segment_size: bool = False,
) -> bytes:
    """Independent minimal Matroska builder: EBML(DocType) +
    Segment(Info(TimestampScale, Duration) + Tracks(video + audio))."""
    import struct

    header = _ebml_el(b"\x1aE\xdf\xa3", _ebml_el(b"\x42\x82", doctype))
    ticks = duration_ms * 1_000_000 / (scale_ns or 1_000_000)
    dur = struct.pack(">d" if f64 else ">f", ticks)
    info_body = (b"" if scale_ns is None else _ebml_el(b"\x2a\xd7\xb1", scale_ns.to_bytes(4, "big")))
    info_body += _ebml_el(b"\x44\x89", dur)
    video = _ebml_el(b"\xe0", _ebml_el(b"\xb0", w.to_bytes(2, "big")) + _ebml_el(b"\xba", h.to_bytes(2, "big")))
    vtrack = _ebml_el(b"\xae", _ebml_el(b"\x83", b"\x01") + _ebml_el(b"\x86", b"V_VP9") + video)
    atrack = _ebml_el(b"\xae", _ebml_el(b"\x83", b"\x02") + _ebml_el(b"\x86", b"A_OPUS"))
    seg_body = _ebml_el(b"\x15\x49\xa9\x66", info_body) + _ebml_el(b"\x16\x54\xae\x6b", vtrack + atrack)
    if unknown_segment_size:
        # all-ones 1-byte size = unknown: segment runs to end of stream
        return header + b"\x18\x53\x80\x67" + b"\xff" + seg_body
    return header + _ebml_el(b"\x18\x53\x80\x67", seg_body)


def test_webm_metadata_parse_and_frame_plan(spark):
    """EBML walk extracts DocType/duration/dimensions/codecs without frame
    decode (the WebM twin of the MP4 box walk, r5 verdict #4), and
    decode_media surfaces the duration a per-frame plan needs."""
    from tslib_spark.operators.multimodal import parse_webm_meta

    webm = _webm_bytes(3500.0, 640, 360)
    meta = parse_webm_meta(webm)
    assert meta == {
        "doctype": "webm", "duration_ms": 3500, "width": 640, "height": 360,
        "codecs": ["V_VP9", "A_OPUS"],
    }
    # float64 duration, non-default TimestampScale (0.1 ms ticks), mkv DocType
    meta2 = parse_webm_meta(
        _webm_bytes(2000.0, 320, 240, doctype=b"matroska", scale_ns=100_000, f64=True)
    )
    assert (meta2["duration_ms"], meta2["doctype"]) == (2000, "matroska")
    # TimestampScale absent → spec default 1 ms ticks
    assert parse_webm_meta(_webm_bytes(1500.0, 64, 48, scale_ns=None))["duration_ms"] == 1500
    # unknown-size Segment (live/streamed capture) still parses
    assert parse_webm_meta(_webm_bytes(700.0, 64, 48, unknown_segment_size=True))["duration_ms"] == 700

    with pytest.raises(ValueError, match="not an EBML"):
        parse_webm_meta(b"\x00\x00\x00\x08junk")
    with pytest.raises(ValueError, match="truncated EBML"):
        parse_webm_meta(webm[:-5])

    media = make_media_table(
        spark.createDataFrame(pd.DataFrame({"doc_id": [1], "blob": [webm]})),
        "doc_id", "blob", "video",
    )
    got = decode_media(media, fake=False).toPandas().iloc[0]
    assert (got["mime"], got["width"], got["height"], got["duration_ms"]) == (
        "video/webm", 640, 360, 3500,
    )
    assert got["features"] is None


def test_jpeg_fill_bytes_before_markers():
    """T.81 B.1.1.2: legal JPEGs may pad with 0xFF fill bytes before any
    marker (common in real crawled files). The header loop and the
    entropy-data destuffer must skip fill runs instead of reading a bogus
    segment length (ADVICE r4)."""
    from tslib_spark.operators.jpeg import decode_jpeg

    yy, xx = np.mgrid[0:16, 0:16]
    gray = (127 + 100 * np.sin(xx / 4) * np.cos(yy / 5)).clip(0, 255).astype(np.uint8)
    enc = _JpegEnc()
    clean = enc.encode(gray, restart=1)
    w0, h0, luma0 = decode_jpeg(clean)

    # pad every marker in the header section AND the RST/EOI markers in the
    # scan with fill bytes
    padded = clean
    for marker in (b"\xff\xdb", b"\xff\xc4", b"\xff\xc0", b"\xff\xda",
                   b"\xff\xdd", b"\xff\xd0", b"\xff\xd9"):
        padded = padded.replace(marker, b"\xff\xff" + marker)
    w, h, luma = decode_jpeg(padded)
    assert (w, h) == (w0, h0)
    np.testing.assert_array_equal(luma, luma0)


def test_gif_decode_variants_match_independent_composite():
    """GIF (LZW) decode vs an independent composite of the known
    palette/index arrays: plain, interlaced (+GCE extension skip), and
    offset-frame/local-color-table variants, all bit-exact."""
    from tslib_spark.datagen.media import gif_payload, media_gif_frame
    from tslib_spark.operators.multimodal import _pool_gray, decode_gif

    for mid in range(24, 33):  # covers all three variants ×3
        pal, idx, (left, top), (sw, sh), _inter, bg = media_gif_frame(mid)
        w, h, feats = decode_gif(gif_payload(mid))
        assert (w, h) == (sw, sh)
        canvas = np.zeros((sh, sw, 3), np.uint8)
        if mid % 3 != 2 and bg < len(pal):
            canvas[:] = pal[bg]
        fh, fw = idx.shape
        canvas[top : top + fh, left : left + fw] = pal[idx]
        rgb = canvas.astype(np.float64) / 255.0
        gray = rgb[..., 0] * 0.299 + rgb[..., 1] * 0.587 + rgb[..., 2] * 0.114
        np.testing.assert_array_equal(feats, _pool_gray(gray))


def test_gif_lzw_width_growth_and_rejects():
    """A frame large enough to push LZW through several code widths
    round-trips exactly; malformed GIFs fail loudly (truncation, animated,
    palette overflow)."""
    import struct

    from tslib_spark.datagen.media import _gif_lzw_encode
    from tslib_spark.operators.multimodal import _pool_gray, decode_gif

    rng = np.random.default_rng(11)
    pal = rng.integers(0, 256, size=(31, 3), dtype=np.uint8)
    idx = rng.integers(0, 31, size=(80, 90), dtype=np.uint8)
    ct = np.zeros((32, 3), np.uint8)
    ct[:31] = pal
    out = bytearray(b"GIF87a")
    out += struct.pack("<HHBBB", 90, 80, 0x80 | (4 << 4) | 4, 0, 0)
    out += ct.tobytes()
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, 90, 80, 0) + bytes([5])
    lzw = _gif_lzw_encode(idx, 5)
    for j in range(0, len(lzw), 255):
        c = lzw[j : j + 255]
        out += bytes([len(c)]) + c
    body = bytes(out + b"\x00\x3b")
    w, h, feats = decode_gif(body)
    assert (w, h) == (90, 80)
    rgb = pal[idx].astype(np.float64) / 255.0
    gray = rgb[..., 0] * 0.299 + rgb[..., 1] * 0.587 + rgb[..., 2] * 0.114
    np.testing.assert_array_equal(feats, _pool_gray(gray))

    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"NOPE")
    with pytest.raises(ValueError, match="truncated"):
        decode_gif(body[: len(body) // 2])
    # animated (second image descriptor) must refuse, not decode frame 1
    frame = body[len(b"GIF87a") + 7 + 96 : -1]  # descriptor..sub-block terminator
    animated = body[:-1] + frame + b"\x3b"
    with pytest.raises(NotImplementedError, match="animated"):
        decode_gif(animated)


def test_media_decode_includes_gif_payloads(spark):
    from tslib_spark.datagen.media import synth_media_payloads
    from tslib_spark.operators.multimodal import decode_media, make_media_table

    pdf = pd.DataFrame(synth_media_payloads(30), columns=["media_id", "payload"])
    media = make_media_table(spark.createDataFrame(pdf), "media_id", "payload", "mixed")
    got = decode_media(media, fake=False).select("media_id", "mime").toPandas()
    mimes = got.set_index("media_id")["mime"]
    assert (mimes.loc[24:] == "image/gif").all()
    assert len(got) == 30
