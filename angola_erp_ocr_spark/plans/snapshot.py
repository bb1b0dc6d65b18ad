"""Snapshot-committed writes (Iceberg-fallback semantics, SURVEY §7.5).

When the Iceberg runtime is present, `writeTo(...).append()` gives atomic
snapshot commits for free. This module provides the same discipline over a
plain parquet directory so the engine behaves identically in the sandbox:

    table_dir/
      data/<snapshot_id>/part-*.parquet     (written FIRST)
      manifests/<seq>.json                  (committed SECOND — created
                                             O_CREAT|O_EXCL; its existence
                                             IS the commit AND the atomic
                                             claim on the sequence number)

Readers union only data directories referenced by committed manifests, so
a job killed after writing data but before the manifest rename leaves no
visible partial state — re-running resumes from the last committed
snapshot via the usual anti-join (`plans.pipeline.resume_filter`).
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession


def _manifest_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "manifests")


def committed_snapshots(table_dir: str) -> list[dict]:
    """Manifests in commit order (sequence-numbered).

    A manifest file that exists but holds no valid JSON yet is an
    in-flight (or abandoned) seq CLAIM from a concurrent
    ``snapshot_append`` — not a commit; it is skipped. (The claim's
    existence still blocks its seq from reallocation via the filename
    scan in ``_next_seq``.)"""
    mdir = _manifest_dir(table_dir)
    if not os.path.isdir(mdir):
        return []
    out = []
    for name in sorted(os.listdir(mdir)):
        if name.endswith(".json"):
            try:
                with open(os.path.join(mdir, name)) as f:
                    out.append(json.load(f))
            except (json.JSONDecodeError, OSError):
                continue
    return out


def _next_seq(mdir: str) -> int:
    """Next free sequence number from the manifest FILENAMES — claimed-
    but-unwritten files count, so a racing writer never spins on a seq
    another writer holds."""
    seqs = [-1]
    for name in os.listdir(mdir):
        stem = name.split(".", 1)[0]
        if stem.isdigit():
            seqs.append(int(stem))
    return max(seqs) + 1


def snapshot_append(df: DataFrame, table_dir: str,
                    run_id: str | None = None) -> dict:
    """Write `df` as a new snapshot: data first, manifest (the commit
    point) second via atomic rename. Returns the manifest dict."""
    run_id = run_id or uuid.uuid4().hex[:12]
    data_dir = os.path.join(table_dir, "data", run_id)
    df.write.mode("overwrite").parquet(data_dir)
    # count from the written footers, no Spark job (skips _SUCCESS/.crc)
    n_rows = ds.dataset(data_dir, format="parquet").count_rows()

    os.makedirs(_manifest_dir(table_dir), exist_ok=True)
    # Claim the sequence number atomically: O_CREAT|O_EXCL on the
    # seq-named manifest fails if a concurrent writer took this seq, and
    # we retry with the next one. Without this, two writers racing the
    # read-modify-write (max+1) could commit duplicate seqs, making the
    # commit order readers rely on ambiguous.
    # (max+1, NOT count: after expiry, count would reuse a live sequence
    # number and corrupt the lexicographic commit order.)
    while True:
        seq = _next_seq(_manifest_dir(table_dir))
        manifest = {
            "seq": seq,
            "snapshot_id": run_id,
            "data_dir": data_dir,
            "n_rows": n_rows,
            "committed_at_unix": int(time.time()),
        }
        # seq-only filename: the O_EXCL create collides exactly when two
        # writers claim the same seq (a run_id suffix would make their
        # paths distinct and defeat the exclusivity check)
        final = os.path.join(_manifest_dir(table_dir), f"{seq:06d}.json")
        try:
            fd = os.open(final, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            continue  # another writer claimed this seq — take the next
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        return manifest


def read_snapshots(spark: SparkSession, table_dir: str) -> DataFrame | None:
    """Union of all committed snapshots; None when nothing is committed.
    Uncommitted data directories (crash between write and manifest) are
    invisible by construction."""
    snaps = committed_snapshots(table_dir)
    if not snaps:
        return None
    return spark.read.parquet(*[s["data_dir"] for s in snaps])


def expire_snapshots(table_dir: str, keep_last: int = 10) -> list[str]:
    """K5-style maintenance: drop the oldest snapshots' manifests (data
    dirs are left for out-of-band deletion; listed in the return)."""
    snaps = committed_snapshots(table_dir)
    doomed = snaps[:-keep_last] if keep_last else snaps
    dropped = []
    for s in doomed:
        path = os.path.join(_manifest_dir(table_dir), f"{s['seq']:06d}.json")
        if os.path.exists(path):
            os.remove(path)
            dropped.append(s["data_dir"])
    return dropped

