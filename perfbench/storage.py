"""Storage counters read from outside the program, after a run: files and
bytes per tier directory, checkpoint-manifest generations, and the chunk
shape of the compressed minute tier (read with pyarrow, not Spark)."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq


def _data_files(tier_dir: str) -> list[str]:
    return [
        p
        for p in glob.glob(os.path.join(tier_dir, "part_key=*", "*.parquet"))
        if os.path.isfile(p)
    ]


def tier_counters(store_root: str) -> dict:
    """{tier: {files, bytes, partitions}} for every tier directory."""
    out = {}
    for tier_dir in sorted(glob.glob(os.path.join(store_root, "tiers", "*"))):
        files = _data_files(tier_dir)
        parts = glob.glob(os.path.join(tier_dir, "part_key=*"))
        out[os.path.basename(tier_dir)] = {
            "files": len(files),
            "bytes": sum(os.path.getsize(f) for f in files),
            "partitions": len(parts),
        }
    return out


def manifest_counters(store_root: str) -> dict:
    """Live checkpoint manifest plus its surviving ``.gen-*`` generations."""
    live = os.path.join(store_root, "checkpoint.parquet")
    gens = glob.glob(live + ".gen-*")
    return {
        "generations": len(gens),
        "generation_bytes": sum(os.path.getsize(g) for g in gens),
        "live_bytes": os.path.getsize(live) if os.path.exists(live) else 0,
    }


def chunk_counters(tier_dir: str) -> dict:
    """Chunk count and points per chunk of a compressed tier."""
    chunks = points = 0
    for f in _data_files(tier_dir):
        col = pq.read_table(f, columns=["n_points"]).column("n_points")
        chunks += len(col)
        points += int(sum(col.to_pylist()))
    return {
        "chunks": chunks,
        "points": points,
        "points_per_chunk": points / chunks if chunks else 0.0,
    }
