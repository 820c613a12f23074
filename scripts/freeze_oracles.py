"""Freeze numpy-oracle outputs for kernel-backed contract queries.

The svd_impute / als_impute contract queries run the low-rank kernels
inside Spark workers; ANSI SQL can't express the SVD, so round 1 left them
rows-only. This script computes the same results driver-side — pandas for
the hourly-rollup/densify input prep (independent of the Spark operators),
the repo's numpy kernel primitives for the math (whose independence from
the reference is separately proven by the pytest parity suite against
hand-rolled numpy oracles) — and freezes them to fixtures/*.parquet.

oracle_sql() then reads the fixture, and both sides round to the 1e-9
quantum before the driver's value hash: worker numpy and driver numpy are
bit-identical on this box, so the rounding is belt-and-braces against
BLAS-threading ulp wobble, per the round-2 plan.

Regenerate after changing kernel math or the _hourly_tidy contract:
    python scripts/freeze_oracles.py

ORDER MATTERS (the oracle-split contract): some fixtures (svd_forecast,
rsc_weights) are generated by the SAME _fit_group/_forecast_group pandas
functions the Spark kernels call, so their hash checks verify Spark
*distribution*, not kernel math. The math is carried by the independent
hand-rolled numpy parity tests (tests/test_svd_kernel.py, tests/test_rsc.py).
Therefore, when touching _fit_group/_forecast_group or kernels/linalg:
  1. FIRST run `python -m pytest tests/test_svd_kernel.py tests/test_rsc.py`
     and make the independent parity oracles pass;
  2. ONLY THEN regenerate fixtures here.
Regenerating first would freeze a broken kernel into the fixtures and the
contract gate would happily verify the bug against itself.
"""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

import numpy as np
import pandas as pd

from tslib_spark.kernels import linalg
from tslib_spark.kernels.svd_kernel import ModelConfig, _fit_group, _forecast_group
from tslib_spark.oracle.textdedup import near_dup_minhash_ref, simhash_ref

SF_DIR = "/root/testdata/sf0.01"
OUT_DIR = "/root/repo/fixtures"


def hourly_tidy_pandas(events: pd.DataFrame, N: int, M: int) -> dict[str, np.ndarray]:
    """Replicates __spark_entry__._hourly_tidy: hourly count rollup,
    densified to the per-group min..max hour grid (missing hours = NaN),
    first N*M buckets, groups with a full N*M only."""
    ev = events.copy()
    ev["bucket_ts"] = ev["ts"].dt.floor("h")
    hourly = ev.groupby(["event_type", "bucket_ts"]).size().rename("cnt").reset_index()
    out = {}
    T = N * M
    for gid, sub in hourly.groupby("event_type"):
        grid = pd.date_range(sub["bucket_ts"].min(), sub["bucket_ts"].max(), freq="h")
        dense = sub.set_index("bucket_ts").reindex(grid)["cnt"].to_numpy(dtype=np.float64)
        if dense.size >= T:
            out[gid] = dense[:T]
    return out


def freeze_svd(events: pd.DataFrame) -> pd.DataFrame:
    N, M, k = 24, 30, 3
    rows = []
    for gid, values in sorted(hourly_tidy_pandas(events, N, M).items()):
        mid = linalg.middle_value(values)
        filled = {"activity": np.where(np.isnan(values), mid, values)}
        raw = linalg.stack_series(filled, "activity", [], N, M)
        denoised = linalg.hsvt(raw, k, 1.0)
        vals = linalg.unfold(denoised)
        rows.append(pd.DataFrame({"group_id": gid, "idx": np.arange(N * M), "value": vals}))
    return pd.concat(rows, ignore_index=True)


def freeze_als(events: pd.DataFrame) -> pd.DataFrame:
    N, M, k, seed = 24, 10, 2, 11
    rows = []
    for gid, values in sorted(hourly_tidy_pandas(events, N, M).items()):
        raw = linalg.stack_series({"activity": values}, "activity", [], N, M)
        denoised, _ = linalg.als_fit_matrix(raw, k, seed=seed)
        vals = linalg.unfold(denoised)
        rows.append(pd.DataFrame({"group_id": gid, "idx": np.arange(N * M), "value": vals}))
    return pd.concat(rows, ignore_index=True)


def freeze_svd_forecast(events: pd.DataFrame) -> pd.DataFrame:
    """Driver-side run of the same pandas kernels the Spark query groups
    over (_fit_group → weights, _forecast_group → horizon), so any Spark
    distribution bug (grouping, shuffle, cogroup alignment) shows up as a
    fixture mismatch."""
    N, M, k = 24, 30, 3
    cfg = ModelConfig(target_key="activity", N=N, M=M, k=k)
    train_end = N * (M - 2)
    rows = []
    for gid, values in sorted(hourly_tidy_pandas(events, N, M).items()):
        tidy = pd.DataFrame(
            {
                "group_id": gid,
                "series_key": "activity",
                "bucket_idx": np.arange(N * M, dtype=np.int64),
                "value": values,
            }
        )
        fit = _fit_group(tidy, cfg)
        state = fit[fit["kind"] == "weight"][["group_id", "idx", "value"]]
        rows.append(_forecast_group(tidy, state, cfg, train_end))
    return pd.concat(rows, ignore_index=True)


def freeze_rsc_weights() -> pd.DataFrame:
    """Panel input built by the SAME DuckDB SQL as the panel_pivot oracle
    (proven bit-equal to the Spark pivot), then the pandas fit kernel."""
    import duckdb

    con = duckdb.connect()
    panel = con.execute(
        f"""
        SELECT o_orderpriority AS unit, EXTRACT(year FROM o_orderdate) AS year,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(38,9))) AS DOUBLE) / count(*) AS avg_price
        FROM '{SF_DIR}/orders.parquet' GROUP BY 1, 2
        """
    ).fetchdf()
    units = sorted(panel["unit"].unique())
    treated, donors = units[0], units[1:]
    years = sorted(panel["year"].unique())
    rank = {y: i for i, y in enumerate(years)}
    tidy = pd.DataFrame(
        {
            "group_id": "panel",
            "series_key": panel["unit"],
            "bucket_idx": panel["year"].map(rank).astype(np.int64),
            "value": panel["avg_price"].astype(np.float64),
        }
    )
    cfg = ModelConfig(
        target_key=treated, N=1, M=len(years), k=2,
        donor_keys=tuple(donors), include_past_only=False,
    )
    fit = _fit_group(tidy, cfg)
    w = fit[fit["kind"] == "weight"]
    return pd.DataFrame(
        {
            "group_id": "panel",
            "unit": [donors[i] for i in w["idx"]],
            "weight": w["value"].to_numpy(),
        }
    )


def freeze_minhash(docs: pd.DataFrame) -> pd.DataFrame:
    pairs = near_dup_minhash_ref(
        [(int(i), t) for i, t in docs[["doc_id", "text"]].itertuples(index=False)],
        n=3, num_hashes=32, bands=8, threshold=0.5,
    )
    return pd.DataFrame(pairs, columns=["id_a", "id_b", "jaccard"])


def freeze_simhash(docs: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "doc_id": docs["doc_id"].to_numpy(),
            "simhash": [simhash_ref(t) for t in docs["text"]],
        }
    )


def _seq_dot(a, b) -> float:
    """Strict left-to-right float64 accumulation — bit-identical to the
    JVM's aggregate(zip_with(...), 0.0, acc + v) expression (numpy's dot
    uses pairwise/SIMD summation and rounds differently)."""
    s = 0.0
    for x, y in zip(a, b):
        s += x * y
    return s


def freeze_ann_lsh(emb: pd.DataFrame) -> pd.DataFrame:
    """Replicates ann_lsh_topk (operators/similarity.py) in plain Python:
    same planes (same RNG seed), left-to-right dot products, Hamming-1
    multiprobe, exact cosine, top-10 by (cosine desc, vec_id)."""
    from tslib_spark.operators.similarity import make_planes

    query = [float(x) for x in emb.loc[emb["vec_id"] == 0, "embedding"].iloc[0]]
    n_planes, k = 12, 10
    planes = make_planes(len(query), n_planes, 42)
    plane_lists = [[float(x) for x in planes[j]] for j in range(n_planes)]
    qv = np.asarray(query, dtype=float)
    qsig = 0
    for j in range(n_planes):
        if float(planes[j] @ qv) >= 0:
            qsig |= 1 << j
    probes = {qsig} | {qsig ^ (1 << j) for j in range(n_planes)}
    qn = float(np.sqrt(np.dot(query, query)))

    rows = []
    for vec_id, v in emb[["vec_id", "embedding"]].itertuples(index=False):
        vd = [float(x) for x in v]
        sig = 0
        for j in range(n_planes):
            if _seq_dot(vd, plane_lists[j]) >= 0:
                sig |= 1 << j
        if sig in probes:
            cos = _seq_dot(vd, query) / (float(np.sqrt(_seq_dot(vd, vd))) * qn)
            rows.append((int(vec_id), cos))
    rows.sort(key=lambda r: (-r[1], r[0]))
    return pd.DataFrame(rows[:k], columns=["vec_id", "cosine"])


def freeze_cosine_near_dup(emb: pd.DataFrame) -> pd.DataFrame:
    """Replicates _q_cosine_near_dup (multiband cosine_near_dup_pairs) in
    plain Python: same perturbed-twin construction, same per-band planes
    (seed 42+j), left-to-right signature dots, bucket self-join per band
    with the max_bucket cap, exact left-to-right cosine ≥ 0.9."""
    import math

    from tslib_spark.operators.similarity import make_planes

    dim, n_planes, n_bands, thr, max_bucket = 64, 8, 4, 0.9, 300
    docs: list[tuple[int, list[float]]] = []
    for vec_id, v in emb[["vec_id", "embedding"]].itertuples(index=False):
        docs.append((int(vec_id), [float(x) for x in v]))
    docs += [
        (vid + 1000, [float(x) * 1.01 + 0.02 for x in vd])
        for vid, vd in docs
        if vid < 60
    ]

    cands: set[tuple[int, int]] = set()
    for b in range(n_bands):
        planes = make_planes(dim, n_planes, 42 + b)
        plists = [[float(x) for x in planes[j]] for j in range(n_planes)]
        buckets: dict[int, list[int]] = {}
        for vid, vd in docs:
            sig = 0
            for j in range(n_planes):
                if _seq_dot(vd, plists[j]) >= 0:
                    sig |= 1 << j
            buckets.setdefault(sig, []).append(vid)
        for ids in buckets.values():
            if len(ids) > max_bucket:
                continue  # the skew-guard drop, replicated
            ids.sort()
            for i in range(len(ids)):
                for j2 in range(i + 1, len(ids)):
                    cands.add((ids[i], ids[j2]))

    id2v = dict(docs)
    rows = []
    for a, b in sorted(cands):
        va, vb = id2v[a], id2v[b]
        cos = _seq_dot(va, vb) / (
            math.sqrt(_seq_dot(va, va)) * math.sqrt(_seq_dot(vb, vb))
        )
        if cos >= thr:
            rows.append((a, b, cos))
    return pd.DataFrame(rows, columns=["id_a", "id_b", "cosine"])


def freeze_knn_graph(emb: pd.DataFrame) -> pd.DataFrame:
    """Replicates _q_knn_graph (pairwise_topk_per_row) in plain Python:
    per-band hyperplane buckets (seed 42+b), undirected candidate pairs
    deduped across bands with the max_bucket cap, ONE left-to-right cosine
    per pair, mirrored into the directed graph, per-row top-k by
    (cosine desc, id_b)."""
    import math

    from tslib_spark.operators.similarity import make_planes

    dim, n_planes, n_bands, max_bucket, k = 64, 6, 2, 300, 3
    docs = [
        (int(vec_id), [float(x) for x in v])
        for vec_id, v in emb[["vec_id", "embedding"]].itertuples(index=False)
    ]

    cands: set[tuple[int, int]] = set()
    for b in range(n_bands):
        planes = make_planes(dim, n_planes, 42 + b)
        plists = [[float(x) for x in planes[j]] for j in range(n_planes)]
        buckets: dict[int, list[int]] = {}
        for vid, vd in docs:
            sig = 0
            for j in range(n_planes):
                if _seq_dot(vd, plists[j]) >= 0:
                    sig |= 1 << j
            buckets.setdefault(sig, []).append(vid)
        for ids in buckets.values():
            if len(ids) > max_bucket:
                continue  # the skew-guard drop, replicated
            ids.sort()
            for i in range(len(ids)):
                for j2 in range(i + 1, len(ids)):
                    cands.add((ids[i], ids[j2]))

    id2v = dict(docs)
    directed: dict[int, list[tuple[int, float]]] = {}
    for a, b in sorted(cands):
        va, vb = id2v[a], id2v[b]
        cos = _seq_dot(va, vb) / (
            math.sqrt(_seq_dot(va, va)) * math.sqrt(_seq_dot(vb, vb))
        )
        directed.setdefault(a, []).append((b, cos))
        directed.setdefault(b, []).append((a, cos))

    rows = []
    for ida in sorted(directed):
        nbrs = sorted(directed[ida], key=lambda r: (-r[1], r[0]))
        for rank, (idb, cos) in enumerate(nbrs[:k], start=1):
            rows.append((ida, idb, cos, rank))
    return pd.DataFrame(rows, columns=["id_a", "id_b", "cosine", "rank"])


def freeze_media_decode() -> pd.DataFrame:
    """Independent oracle for _q_media_decode: expected features derived
    from the KNOWN pixels/samples behind each synthetic payload
    (datagen/media.py regenerates them from the seed) with hand-written
    pooled-luma / envelope math — the production decoders are never
    called, so a decoder bug cannot freeze itself into the fixture."""
    from tslib_spark.datagen.media import media_gif_frame, media_pixels, media_samples

    rows = []
    for i in range(30):
        if i >= 24:
            # GIF: composite the KNOWN palette/index arrays ourselves
            # (background fill + frame placement), never via decode_gif
            pal, idx, (left, top), (sw, sh), _inter, bg = media_gif_frame(i)
            canvas = np.zeros((sh, sw, 3), dtype=np.uint8)
            if i % 3 != 2 and bg < len(pal):  # variant 2 uses a local table, bg=0 black
                canvas[:] = pal[bg]
            fh, fw = idx.shape
            canvas[top : top + fh, left : left + fw] = pal[idx]
            rgb = canvas.astype(np.float64) / 255.0
            gray = rgb[..., 0] * 0.299 + rgb[..., 1] * 0.587 + rgb[..., 2] * 0.114
            ri = np.minimum((np.arange(sh) * 8) // sh, 7)
            ci = np.minimum((np.arange(sw) * 8) // sw, 7)
            cell = (ri[:, None] * 8 + ci[None, :]).ravel()
            feats = np.bincount(cell, weights=gray.ravel(), minlength=64) / np.maximum(
                np.bincount(cell, minlength=64), 1
            )
            meta = (i, "image/gif", sw, sh, -1)
        elif i % 2 == 0:
            pixels = media_pixels(i)
            h, w = pixels.shape[:2]
            rgb = pixels.astype(np.float64) / 255.0
            gray = rgb[..., 0] * 0.299 + rgb[..., 1] * 0.587 + rgb[..., 2] * 0.114
            ri = np.minimum((np.arange(h) * 8) // h, 7)
            ci = np.minimum((np.arange(w) * 8) // w, 7)
            cell = (ri[:, None] * 8 + ci[None, :]).ravel()
            feats = np.bincount(cell, weights=gray.ravel(), minlength=64) / np.maximum(
                np.bincount(cell, minlength=64), 1
            )
            meta = (i, "image/x-portable-pixmap", w, h, -1)
        else:
            rate, samp = media_samples(i)
            x = samp.astype(np.float64) / 32768.0
            n = x.size
            bins = np.minimum((np.arange(n) * 64) // n, 63)
            feats = np.bincount(bins, weights=np.abs(x), minlength=64) / np.maximum(
                np.bincount(bins, minlength=64), 1
            )
            meta = (i, "audio/wav", -1, -1, int(round(n / rate * 1000)))
        for j, v in enumerate(feats):
            # RAW doubles, no rounding on either side: the math here is
            # deterministic numpy (bincount/divide, no BLAS threading), so
            # worker and oracle are bit-identical — and any decimal
            # rounding would reintroduce the Spark-rounds-shortest-repr vs
            # DuckDB-rounds-binary-value boundary disagreement
            rows.append((*meta, j, float(v)))
    return pd.DataFrame(
        rows,
        columns=["media_id", "mime", "width", "height", "duration_ms", "fidx", "fval"],
    )


def freeze_ivf(emb: pd.DataFrame) -> pd.DataFrame:
    """Replicates _q_ivf_topk: centroids from the vec_id-ordered 2000-row
    sample via the SAME lloyd_centroids core, numpy argmax assignment
    (bit-identical to the pandas_udf's matmul), JVM-ordered cosines."""
    from tslib_spark.operators.similarity import lloyd_centroids

    emb = emb.sort_values("vec_id").reset_index(drop=True)
    X = np.array([[float(x) for x in v] for v in emb["embedding"]], dtype=np.float64)
    cent = lloyd_centroids(X[:2000], n_centroids=16, seed=42)

    query = [float(x) for x in emb.loc[emb["vec_id"] == 0, "embedding"].iloc[0]]
    qv = np.asarray(query, dtype=np.float64)
    qn_unit = qv / max(np.linalg.norm(qv), 1e-12)
    probes = set(np.argsort(-(cent @ qn_unit))[:4].tolist())

    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    assign = np.argmax(Xn @ cent.T, axis=1)
    qn = float(np.sqrt(np.dot(query, query)))
    rows = []
    for i in range(len(emb)):
        if int(assign[i]) in probes:
            vd = [float(x) for x in X[i]]
            cos = _seq_dot(vd, query) / (float(np.sqrt(_seq_dot(vd, vd))) * qn)
            rows.append((int(emb["vec_id"].iloc[i]), cos))
    rows.sort(key=lambda r: (-r[1], r[0]))
    return pd.DataFrame(rows[:10], columns=["vec_id", "cosine"])


def freeze_hash_split(docs: pd.DataFrame) -> pd.DataFrame:
    """Replicates _q_hash_split: xxhash64(seed=7 chained, doc_id) bucketed
    at the operator's own signed-long thresholds (hash independence is the
    point; the threshold arithmetic is shared pure-Python)."""
    from tslib_spark.operators.sampling import _threshold
    from tslib_spark.oracle.xxh64 import spark_xxhash64

    cut_train, cut_val = _threshold(0.8), _threshold(0.9)
    rows = []
    for doc_id in docs["doc_id"]:
        h = spark_xxhash64(7, int(doc_id))
        split = "train" if h < cut_train else ("val" if h < cut_val else "test")
        rows.append((int(doc_id), split))
    return pd.DataFrame(rows, columns=["doc_id", "split"])


def freeze_stratified_sample(docs: pd.DataFrame) -> pd.DataFrame:
    """Replicates _q_stratified_sample: per-lang keep rates {en: 0.5,
    de: 1.0}, default 0.2, seed 11."""
    from tslib_spark.operators.sampling import _threshold
    from tslib_spark.oracle.xxh64 import spark_xxhash64

    cuts = {"en": _threshold(0.5), "de": _threshold(1.0)}
    default = _threshold(0.2)
    rows = [
        (int(doc_id), lang)
        for doc_id, lang in docs[["doc_id", "lang"]].itertuples(index=False)
        if spark_xxhash64(11, int(doc_id)) < cuts.get(lang, default)
    ]
    return pd.DataFrame(rows, columns=["doc_id", "lang"])


def main() -> None:
    import os

    os.makedirs(OUT_DIR, exist_ok=True)
    events = pd.read_parquet(f"{SF_DIR}/events.parquet")
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    outputs = {
        "ann_lsh_topk": freeze_ann_lsh(emb),
        "cosine_near_dup": freeze_cosine_near_dup(emb),
        "knn_graph": freeze_knn_graph(emb),
        "media_decode": freeze_media_decode(),
        "ivf_topk": freeze_ivf(emb),
        "svd_impute": freeze_svd(events),
        "als_impute": freeze_als(events),
        "svd_forecast": freeze_svd_forecast(events),
        "rsc_weights": freeze_rsc_weights(),
        "minhash_near_dup": freeze_minhash(docs),
        "simhash_signatures": freeze_simhash(docs),
        "hash_split": freeze_hash_split(docs),
        "stratified_sample": freeze_stratified_sample(docs),
    }
    for name, df in outputs.items():
        df.to_parquet(f"{OUT_DIR}/{name}_sf001.parquet", index=False)
        print(f"{name}: {len(df)} rows")


if __name__ == "__main__":
    main()
