"""Model maintenance from TierStore manifest deltas: ``updateSVD`` driven
by the store's own lineage.

The reference's update loop is "new block arrives → updateSVD(D)"
(tslib ``src/models/tsSVDModel.py:194-232``, driver-called).
``update_from_store`` is the one Spark-shaped driver of that loop: the
TierStore checkpoint manifest is the snapshot log (one row per written
partition, like Iceberg snapshots), the state directory records which
partition keys it has already folded, and one call folds exactly the
delta through the cogrouped ``update_state`` kernel. No caller-supplied
frames: the store decides what is new — the resumable north-rule shape.

Durability contract:

- **Atomic swap**: new state is written to ``state_dir + ".next"`` and
  renamed over ``state_dir``; a kill mid-write leaves the previous state
  intact, and the next call overwrites the stale ``.next``. A kill
  *between* the two renames strands the state in ``state_dir + ".old"``;
  every call first runs ``recover_state``, which restores it.
- **Idempotent replay**: the applied partition-key set lives in an
  ``_applied_source`` marker inside the state directory (underscore-
  prefixed, so parquet reads skip it) and travels with the swap. A killed
  call re-folds exactly the unapplied delta; a replayed call is a no-op.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from tslib_spark.streaming.incremental import update_state

_SOURCE_MARKER = "_applied_source"


def recover_state(state_dir: str) -> bool:
    """Repair a state directory stranded by a kill between the two swap
    renames (state moved to ``.old`` but ``.next`` not yet renamed in).
    Returns True if a recovery happened."""
    old = state_dir + ".old"
    if not os.path.exists(state_dir) and os.path.exists(old):
        os.rename(old, state_dir)
        return True
    return False


def _read_marker(state_dir: str):
    path = os.path.join(state_dir, _SOURCE_MARKER)
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return None


def _swap_state(new_state: DataFrame, state_dir: str, marker: dict) -> None:
    """Write → marker → rename-swap. The second rename is the commit point;
    recover_state undoes a kill between the renames."""
    nxt = state_dir + ".next"
    shutil.rmtree(nxt, ignore_errors=True)
    new_state.write.mode("overwrite").parquet(nxt)
    with open(os.path.join(nxt, _SOURCE_MARKER), "w") as f:
        json.dump(marker, f)
    old = state_dir + ".old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(state_dir, old)
    os.rename(nxt, state_dir)  # commit point
    shutil.rmtree(old, ignore_errors=True)


def update_from_store(
    spark: SparkSession,
    store,
    tier: str,
    state_dir: str,
    to_blocks,
    method: str = "folding-in",
) -> list[str]:
    """Fold the TierStore's unapplied partition delta into the model state.

    ``store`` is a TierStore; its checkpoint manifest records every
    materialized partition of ``tier`` (the snapshot log). The state dir's
    ``_applied_source`` marker records which of those this model has
    already folded; one call reads exactly the new partitions through
    ``store.read_partitions`` (partition-pruned, decoded for compressed
    tiers), maps them to tidy update blocks via ``to_blocks(tier_df) ->
    (group_id, bucket_idx, value)`` rows, applies ONE update_state pass,
    and commits state + marker atomically. Returns the partition keys
    folded this call (empty = model already current).

    Crash-safe: a kill before the swap leaves marker and state at the
    previous version, so the re-run folds the same delta; a replayed call
    after the swap sees no delta and no-ops.

    The model must be folded before retention expires the tier: the
    blocks are spliced on in partition order, so a partition the manifest
    records as expired but the marker has not applied would leave a hole
    and put the next block on the wrong column. Such a lag raises
    ``ValueError`` naming the lost partitions, with state and marker
    unchanged. Expired partitions the model already folded are fine.
    """
    recover_state(state_dir)
    marker = _read_marker(state_dir) or {"tier": tier, "partitions": []}
    if marker.get("tier", tier) != tier:
        raise ValueError(
            f"state at {state_dir} tracks tier {marker['tier']!r}, not {tier!r}"
        )
    applied = set(marker["partitions"])
    cp = store.checkpoint.read()
    mine = cp[cp["tier"] == tier]
    status = dict(zip(mine["partition_key"].astype(str), mine["status"]))
    lost = sorted(pk for pk, st in status.items() if st == "expired" and pk not in applied)
    if lost:
        raise ValueError(
            f"{tier} partitions {lost} were expired before the model at "
            f"{state_dir} folded them; fold before retention expires {tier}"
        )
    new_pks = sorted(pk for pk, st in status.items() if st == "done" and pk not in applied)
    if not new_pks:
        return []

    blocks = to_blocks(store.read_partitions(tier, new_pks).drop("part_key"))

    state = spark.read.parquet(state_dir)
    new_state = update_state(state, blocks, method=method)
    _swap_state(
        new_state, state_dir, {"tier": tier, "partitions": sorted(applied | set(new_pks))}
    )
    return new_pks
