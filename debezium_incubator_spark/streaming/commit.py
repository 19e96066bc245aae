"""The commit protocol for versioned state: the one place that writes and
reads the ``_LATEST`` pointer.

Every versioned tier in the package (upsert state, partitioned state,
the ANN/corpus/shards/vocab snapshots, the commitlog cell state) commits
one epoch in this order:

1. data: the epoch's files land under a path named for the epoch
   (``v{epoch}``, ``epoch={epoch}``, ...). A crash here leaves files no
   reader can reach, and a replay of the epoch overwrites them.
2. stats (partitioned tiers): ``stats_v{epoch}.json``, so a committed
   manifest always has its stats.
3. manifest (partitioned tiers): ``manifest_v{epoch}.json``, refused if
   the epoch already has a manifest with a different mapping.
4. pointer: ``_LATEST`` names the committed artifact, as a path relative
   to the tier dir. This write is the commit point.

Every small file of steps 2-4 lands by atomic rename (``atomic_write``):
a truncate-in-place write can leave a torn pointer that breaks every
reader, a rename leaves either the old file or the new one. A replayed
epoch rewrites the same data and re-commits the same pointer, so the
replay is idempotent. Anything newer than the pointer is in flight:
readers never serve it and vacuums never reclaim it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

POINTER = "_LATEST"


def atomic_write(path: str, text: str) -> None:
    """Write a small file crash-atomically: sibling ``.tmp``, then
    ``os.replace`` (POSIX rename atomicity)."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def commit_pointer(tier_dir: str, name: str) -> None:
    """Commit ``name`` (relative to ``tier_dir``) as the tier's current
    artifact."""
    atomic_write(os.path.join(tier_dir, POINTER), name)


def read_pointer(tier_dir: str) -> str | None:
    """The committed artifact's name, or None when nothing was ever
    committed."""
    try:
        with open(os.path.join(tier_dir, POINTER)) as f:
            return f.read().strip()
    except FileNotFoundError:
        return None


def parse_version(name: str) -> tuple[int, str] | None:
    """A version dir name as ``(epoch, run_id)``: ``v{n}`` gives
    ``(n, "")``, commitlog's lineage-qualified ``v{n}_{run_id}`` gives
    ``(n, run_id)``. Any other name gives None."""
    if not name.startswith("v"):
        return None
    num, _, run_id = name[1:].partition("_")
    if not num.isdigit():
        return None
    return int(num), run_id


def read_latest(spark: SparkSession, tier_dir: str) -> DataFrame:
    """Read the parquet artifact the pointer names."""
    name = read_pointer(tier_dir)
    if name is None:
        raise FileNotFoundError(f"{tier_dir} has no committed {POINTER}")
    return spark.read.parquet(os.path.join(tier_dir, name))
