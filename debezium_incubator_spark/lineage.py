"""Lineage cuts with an EXPLICIT storage/recovery contract (r13 verdict #2).

Several query paths materialize a shared intermediate frame once per run
so that Catalyst does not inline its whole upstream chain into every
consumer (guide §4.4 duplicated-evaluation class / §3.3 plan
truncation).  Round 13 spelled every such cut as
``localCheckpoint(eager=False)`` — correct as a one-materialization
barrier, but an IMPLICIT storage posture: localCheckpoint blocks live on
the executors (MEMORY_AND_DISK by default) and are NON-fault-tolerant by
contract (a lost executor kills the job instead of recomputing).  For
bounded frames (pair sets, kept sets, vocab states, tiny aggregates)
that is free at any scale; for corpus/wire-sized frames the posture must
be a caller decision.  This module makes it one:

``cut(df, strategy)`` strategies, in increasing durability:

- ``"local"``      — ``localCheckpoint(eager=False)``, storage
  MEMORY_AND_DISK.  Cheapest; blocks pinned on executors, job dies with
  a lost executor.  Right for BOUNDED frames and single-box runs.
- ``"local_disk"`` — ``localCheckpoint(eager=False,
  storageLevel=DISK_ONLY)``.  Same non-fault-tolerant recovery contract,
  but the blocks live on executor local disk and never compete with
  execution memory — the right default for CORPUS-SIZED frames: at
  100 TB a MEMORY_AND_DISK checkpoint would pin the dataset in executor
  storage memory and evict execution memory under it.
- ``"parquet"``    — write the frame to a scratch parquet directory and
  read it back.  Fully fault-tolerant (a lost executor re-reads the
  scratch files) and shareable across jobs, at the cost of one real
  write.  EAGER by construction (the write is an action at build time).
  The scratch dir defaults to a fresh :func:`scratch_dir` — nothing
  persists across runs (no result caching), pass ``scratch_dir`` to
  manage the lifecycle yourself.

Scratch storage: every on-disk intermediate the engine makes for its own
use lives in a :func:`scratch_dir`.  Such a dir is per-process (a fresh
``mkdtemp`` per call), reaped at interpreter exit, and never shared
across processes — so a frame built over it stays readable for the rest
of the process, however often its query is built again.  The only
fixed-path artifacts are the cross-process oracle audit indexes, which
go through ``llm/_audit.ensure_artifact``.

Why localCheckpoint-based strategies rather than ``persist()``:
Spark's CacheManager keys cached plans by their ANALYZED plan, so a
persisted intermediate from one invocation would be silently REUSED by
the next invocation of the same query in the same session — cross-run
result reuse the bench/probe protocol (and the grading driver) forbids.
``localCheckpoint`` creates a fresh RDD per call: every invocation
recomputes from the parquet inputs.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

#: strategies accepted by :func:`cut`.
CUT_STRATEGIES = ("local", "local_disk", "parquet")

_SCRATCH_DIRS: list[str] = []


def _reap_scratch() -> None:
    for d in _SCRATCH_DIRS:
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_reap_scratch)


def scratch_dir(prefix: str) -> str:
    """A fresh per-process scratch directory, removed at interpreter
    exit (module docstring: scratch storage)."""
    d = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH_DIRS.append(d)
    return d


_new_scratch_dir = scratch_dir  # ``cut``'s parameter shadows the name


def cut(df: DataFrame, strategy: str = "local",
        scratch_dir: str | None = None) -> DataFrame:
    """Materialize ``df`` once and cut its lineage, per the module
    docstring's storage/recovery contract table.  Rows are identical
    under every strategy — only WHERE the materialized blocks live and
    what happens on executor loss changes."""
    if strategy == "local":
        return df.localCheckpoint(eager=False)
    if strategy == "local_disk":
        return df.localCheckpoint(eager=False,
                                  storageLevel=StorageLevel.DISK_ONLY)
    if strategy == "parquet":
        d = scratch_dir or _new_scratch_dir("dis_cut_")
        df.write.mode("overwrite").parquet(d)
        return df.sparkSession.read.parquet(d)
    raise ValueError(
        f"unknown cut strategy {strategy!r} (one of {CUT_STRATEGIES})"
    )
