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
    from tslib_spark.datagen.media import synth_media_payloads

    pdf = pd.DataFrame(synth_media_payloads(30), columns=["doc_id", "blob"])
    media = make_media_table(spark.createDataFrame(pdf), "doc_id", "blob", "mixed")
    media = media_repartition(media, target_bytes=4096)
    assert media.rdd.getNumPartitions() >= 2

    feats = decode_media(media).toPandas()
    assert len(feats) == 30
    assert all(len(f) == 64 for f in feats["features"])
    # deterministic: same payload → same features
    again = decode_media(media).toPandas().set_index("media_id")
    first = feats.set_index("media_id")
    for i in range(30):
        np.testing.assert_array_equal(first.loc[i, "features"], again.loc[i, "features"])


@pytest.mark.parametrize(
    "payload",
    [
        b"\x89PNG\r\n\x1a\n\x00\x00\x00\rIHDR",
        b"\xff\xd8\xff\xe0\x00\x10JFIF\x00",
        b"\x00\x00\x00\x18ftypisom\x00\x00\x02\x00isomiso2",
        b"not a media payload",
    ],
    ids=["png", "jpeg", "mp4", "junk"],
)
def test_decode_media_rejects_other_formats(spark, payload):
    """Only PPM, GIF and WAV decode: any other payload fails the task with
    NotImplementedError, not a format-specific parse error."""
    media = make_media_table(
        spark.createDataFrame(pd.DataFrame({"doc_id": [1], "blob": [payload]})),
        "doc_id", "blob", "mixed",
    )
    with pytest.raises(Exception, match="NotImplementedError: decode_media reads only"):
        decode_media(media).collect()


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
    got = decode_media(media).toPandas().set_index("media_id")

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
    got = decode_media(media).select("media_id", "mime").toPandas()
    mimes = got.set_index("media_id")["mime"]
    assert (mimes.loc[24:] == "image/gif").all()
    assert len(got) == 30
