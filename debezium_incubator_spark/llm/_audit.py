"""Fixed-path audit artifacts for differential oracles.

Several ANN queries are oracled by having DuckDB ``read_parquet`` the
PERSISTED index the Spark query used — which requires a path that is
static at oracle-registration time. This helper owns the lifecycle that
makes a fixed /tmp path safe to share across processes and rebuilds:

- the fixed path is a SYMLINK to a stamp-named build directory
  (stamp = source file path + mtime + size), swapped by atomic
  ``os.replace`` so concurrent readers mid-query on the old target stay
  consistent;
- a ``_source`` marker written AFTER the build makes a crash mid-build
  leave a missing marker, never a lying one;
- an exclusive ``fcntl`` lock serializes builders of the same stamp —
  two processes racing a missing marker would otherwise interleave
  overwrite writes into ONE build dir and leave a corrupt index under
  a valid marker;
- ``atexit`` cleanup removes only the build dirs THIS PROCESS created
  (plus the symlink when it points at one of them), and since round 13
  only when no OTHER process still reads them: every process that
  resolves an artifact holds a SHARED ``fcntl`` lock on the build's
  lock file for its lifetime (the reader refcount — r12 verdict #9),
  and the builder's cleanup takes a non-blocking EXCLUSIVE probe
  before each rmtree — readers present → the build survives the
  builder's exit (the last exiting tenant that built it reaps it; a
  build no tenant created outlives everyone, bounded by /tmp). Since
  round 12 an exiting process that merely REUSED a valid artifact
  never deletes it either (an exiting probe JVM's blanket cleanup had
  destroyed a build the test suite was mid-write on).

Every fixed-path artifact goes through :func:`ensure_artifact`; the
engine's per-process scratch goes through ``lineage.scratch_dir``.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import shutil
from typing import Callable

_REGISTERED: set[str] = set()
#: build dirs THIS process created — cleanup reaps only these, so a
#: process that merely REUSED a valid artifact can't delete it out
#: from under the builder (round 12: a probe JVM's exit nuked a build
#: the test suite was mid-write on; the per-tenant contract stands,
#: but exiting readers no longer take builders down with them).
_BUILT: set[str] = set()
#: per-build-dir SHARED-lock file objects held for process lifetime —
#: the cross-process reader refcount (round 13): while this fd lives,
#: no other process's cleanup can acquire the exclusive probe on the
#: build's lock file, so the build can't be reaped under us.
_READER_LOCKS: dict[str, object] = {}


def _cleanup(fixed_path: str) -> None:
    import fcntl

    mine = [d for d in glob.glob(fixed_path + "-*") if d in _BUILT]
    # drop OUR reader locks first (flock fds conflict even within one
    # process) — we are exiting, so we no longer count as a reader
    for d in mine:
        fh = _READER_LOCKS.pop(d, None)
        if fh is not None:
            try:
                fh.close()
            except OSError:
                pass
    survivors: set[str] = set()
    for d in mine:
        # non-blocking EXCLUSIVE probe: succeeds only when no other
        # process holds the shared reader lock — a builder exiting
        # under live readers leaves the build in place (the r12 gap)
        try:
            with open(d + ".lock", "a") as lk:
                fcntl.flock(lk, fcntl.LOCK_EX | fcntl.LOCK_NB)
                shutil.rmtree(d, ignore_errors=True)
                _BUILT.discard(d)
        except OSError:
            survivors.add(d)
    try:
        if os.path.islink(fixed_path):
            target = os.path.realpath(fixed_path)
            if target in (
                os.path.realpath(d) for d in mine
            ) and target not in (os.path.realpath(d) for d in survivors):
                os.remove(fixed_path)
        # a PLAIN directory at fixed_path is a legacy-layout artifact
        # some OTHER process (or an older version) built — this process
        # never creates one (builds are stamp-named dirs + a symlink),
        # so deleting it here would be exactly the cross-process race
        # the round-12 only-reap-own-builds rule closed. Leave it; the
        # next ensure_artifact call replaces it with the symlink layout.
    except OSError:
        pass


def ensure_artifact(
    src_file: str,
    fixed_path: str,
    build: Callable[[str], None],
) -> str:
    """Build (or reuse) an artifact derived from ``src_file`` under a
    stamp-named directory and atomically point ``fixed_path`` at it.
    ``build(dir)`` is invoked only when no valid build for the current
    source stamp exists. Returns ``fixed_path``."""
    if fixed_path not in _REGISTERED:
        _REGISTERED.add(fixed_path)
        atexit.register(_cleanup, fixed_path)
    import fcntl

    st = os.stat(src_file)
    stamp = f"{src_file}\n{st.st_mtime_ns}:{st.st_size}"
    build_dir = (
        fixed_path + "-" + hashlib.md5(stamp.encode()).hexdigest()[:10]
    )
    marker = os.path.join(build_dir, "_source")

    def _valid() -> bool:
        try:
            with open(marker) as fh:
                return fh.read() == stamp
        except OSError:
            return False

    if not _valid():
        # if WE hold a reader lock on this build (its marker vanished
        # under us), release it — our own shared flock on a different
        # fd would deadlock the exclusive build lock below
        stale = _READER_LOCKS.pop(build_dir, None)
        if stale is not None:
            try:
                stale.close()
            except OSError:
                pass
        lock_path = build_dir + ".lock"
        with open(lock_path, "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            try:
                if not _valid():  # the race loser finds the winner's build
                    build(build_dir)
                    with open(marker, "w") as fh:
                        fh.write(stamp)
                    _BUILT.add(build_dir)
            finally:
                fcntl.flock(lk, fcntl.LOCK_UN)
    # register as a READER of this build for the rest of the process:
    # the held shared lock blocks any other process's exclusive-probe
    # cleanup from reaping the build while we may still re-read it
    if build_dir not in _READER_LOCKS:
        try:
            fh = open(build_dir + ".lock", "a")
            fcntl.flock(fh, fcntl.LOCK_SH)
            _READER_LOCKS[build_dir] = fh
        except OSError:
            pass
    if os.path.realpath(fixed_path) != os.path.realpath(build_dir):
        if os.path.isdir(fixed_path) and not os.path.islink(fixed_path):
            shutil.rmtree(fixed_path, ignore_errors=True)
        tmp_link = f"{build_dir}.lnk"
        try:
            os.remove(tmp_link)
        except OSError:
            pass
        os.symlink(build_dir, tmp_link)
        os.replace(tmp_link, fixed_path)
    return fixed_path
