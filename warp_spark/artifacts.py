"""The one on-disk artifact lifecycle.

Every persisted index/artifact in this repo (dedup minhash bands, BM25
postings, IVF-PQ codes, graph edge/wedge censuses, t-digest sketches)
is a directory ``path`` with one completion marker inside it,
``<path>/_<KIND>_COMPLETE``.  The catalog's ``_ensure_*`` builders and
its mutating entries all go through the helpers here, so the rules
below hold everywhere (reference: the cache step materialising
upstream state once, QBECacheStep.swift:15-140).

Marker format.  One line, ``<stamp>\n``.  A stamp is plain text that
names the artifact's build parameters and a content fingerprint of its
source, e.g. ``bm25 n_buckets=16 n_docs=.. idsum=.. crcsum=..``.
:func:`read_marker` returns it stripped, or ``None`` if absent.

Fingerprints.  A fingerprint is a Spark aggregate over the source
(counts plus exact decimal sums of ids / crc32s), so a content change
at unchanged cardinality changes the stamp.  :func:`memo_stamp`
memoises the fingerprint scan per (key, file-stat signature of the
part files inside the source dataset): it re-runs exactly when a part
file's mtime or size changes, and never across processes.

Stamp chaining.  An artifact built from another artifact embeds that
artifact's stamp in its own (``wedges cap=120 over [<edge stamp>]``),
so a source change propagates down the chain with no extra scan.

Reuse rule (:func:`ensure_artifact`).  An artifact is reused iff its
marker equals the stamp just computed; otherwise (or on ``rebuild``)
it is rebuilt.  A reused ensure touches nothing on disk.

Publish rule (:func:`publish_artifact`).  A build goes into a unique
sibling scratch directory, its marker is written LAST inside it, and
the finished tree is swapped into place under an exclusive
``<path>.lock`` flock (:func:`swap_artifact_dir`).  A failed build
leaves the previous tree and marker untouched and no scratch behind.

Sentinel rule (:func:`mutate_artifact`).  An in-place mutation first
sets the marker to :data:`SENTINEL`, which never equals a stamp, and
writes the done stamp only after the mutation returns.  A crash in
between leaves the sentinel, so the next ensure rebuilds instead of
reusing a half-mutated tree.  A mutation that refuses (returns a falsy
value: cap crossed, id re-delivered, shape drift) is replaced by
publishing the fallback build under the fallback stamp, so correctness
never depends on the fast path.

Swap-window note: POSIX cannot atomically exchange two directories from
Python (``renameat2(RENAME_EXCHANGE)`` is not exposed), so the swap is
two renames — old tree out to a unique trash name, new tree in — and
the reader-visible missing-directory window is two rename syscalls, not
a recursive ``rmtree`` of the whole old tree.  Writers serialize on the
``<path>.lock`` flock; readers stay lock-free (they re-ensure on a
missing/stale marker, the standing self-heal contract).
"""

from __future__ import annotations

import contextlib
import fcntl
import functools
import glob
import os
import shutil
import tempfile
from typing import Callable

__all__ = [
    "SENTINEL",
    "unique_sibling_tmp",
    "swap_artifact_dir",
    "index_mutation",
    "locked_mutation",
    "source_stat_sig",
    "memo_stamp",
    "read_marker",
    "publish_artifact",
    "ensure_artifact",
    "mutate_artifact",
]

# the marker text while an in-place mutation is in flight; never a stamp
SENTINEL = "mutating"


@contextlib.contextmanager
def index_mutation(path: str):
    """Hold the canonical ``<path>.lock`` flock across an ENTIRE
    read-verify-write mutation of the artifact rooted at ``path`` —
    the one lock every mutation verb (append / delete / compact)
    serializes on (r13 verdict item 3: the verbs previously locked
    per-subtree inconsistently — bands under ``<path>.lock`` but
    shingles under ``<path>/shingles.lock``, postings under their own
    lock, appends under none — so two different verbs on the same
    index serialized only when they happened to pick the same lock
    file).  Holding the root lock across the whole verify+mutate span
    also closes the TOCTOU the per-swap locks left open: two
    concurrent appends could both pass the cap/no-re-append
    precondition and then both append.

    Sub-artifact swaps inside the span call
    ``swap_artifact_dir(..., locked=True)`` — they are already
    serialized by this lock, and taking their own per-subtree flock
    would add nothing (different lock file) while suggesting mutual
    exclusion that does not exist.

    Readers stay lock-free (the standing self-heal contract): the
    worst case they observe is a momentary missing sub-directory
    between the two renames of a swap."""
    with open(path + ".lock", "w") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        try:
            yield
        finally:
            fcntl.flock(lk, fcntl.LOCK_UN)


def locked_mutation(fn):
    """Decorator form of :func:`index_mutation` for the mutation verbs,
    whose shared signature is ``fn(spark, path, ...)`` with ``path``
    the index root: the whole verb — precondition reads, verification
    joins, file appends, sub-artifact swaps, and the stats overwrite —
    runs under one exclusive ``<path>.lock``.  Any internal
    ``swap_artifact_dir`` call must pass ``locked=True`` (re-taking
    the same lock file on a fresh file description would
    self-deadlock)."""

    @functools.wraps(fn)
    def wrapper(spark, path, *args, **kwargs):
        with index_mutation(path):
            return fn(spark, path, *args, **kwargs)

    return wrapper


def unique_sibling_tmp(path: str, tag: str = "build") -> str:
    """A fresh, uniquely-named scratch directory NEXT TO ``path`` (same
    filesystem, so the final ``rename`` is atomic), private to this
    builder: concurrent builds each get their own tree instead of
    clobbering a shared ``<path>.build``."""
    parent = os.path.dirname(os.path.abspath(path)) or "."
    os.makedirs(parent, exist_ok=True)
    return tempfile.mkdtemp(
        prefix=os.path.basename(path) + f".{tag}.", dir=parent
    )


def _swap(path: str, tmp: str) -> str | None:
    """The two-rename swap itself; caller must hold the covering lock.
    Returns the trash directory to reclaim (outside the lock), if any."""
    trash = None
    if os.path.exists(path):
        # reserve a unique sibling name, then vacate it for the
        # rename (the covering flock is held, so no other writer
        # races for the name)
        trash = tempfile.mkdtemp(
            prefix=os.path.basename(path) + ".trash.",
            dir=os.path.dirname(os.path.abspath(path)) or ".",
        )
        os.rmdir(trash)
        os.rename(path, trash)
    os.rename(tmp, path)
    return trash


def swap_artifact_dir(path: str, tmp: str, locked: bool = False) -> None:
    """Atomically install the finished tree ``tmp`` as ``path`` under
    an exclusive ``<path>.lock`` flock.  The displaced old tree is
    renamed aside first (two cheap renames back-to-back) and reclaimed
    only after the lock is released, so a lock-free reader's worst case
    is a momentary ENOENT between renames — never a half-deleted or
    half-built directory.

    ``locked=True`` skips taking ``<path>.lock``: the caller asserts
    it already holds a lock covering this swap (the
    :func:`index_mutation` root lock for a sub-artifact swap inside a
    mutation verb — flock is per-open-file-description, so re-taking
    the SAME lock file here would self-deadlock, and taking a
    per-subtree lock file would serialize against nothing)."""
    if locked:
        trash = _swap(path, tmp)
    else:
        with open(path + ".lock", "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            try:
                trash = _swap(path, tmp)
            finally:
                fcntl.flock(lk, fcntl.LOCK_UN)
    if trash is not None:
        shutil.rmtree(trash, ignore_errors=True)


def source_stat_sig(src: str) -> tuple:
    """File-stat signature of a parquet dataset: (file, mtime_ns, size)
    of every part file INSIDE the dataset directory, not just the
    top-level path — an in-place rewrite of a part file changes neither
    the directory's mtime nor its size."""
    if os.path.isfile(src):
        files = [src]
    else:
        files = sorted(
            glob.glob(os.path.join(src, "**", "*.parquet"), recursive=True)
        ) or [src]
    sig = []
    for f in files:
        # a part file deleted between glob and stat (concurrent rewrite)
        # becomes a sentinel entry, so the signature MISMATCHES and the
        # caller re-fingerprints instead of raising FileNotFoundError
        try:
            st = os.stat(f)
            sig.append((f, st.st_mtime_ns, st.st_size))
        except FileNotFoundError:
            sig.append((f, -1, -1))
    return tuple(sig)


_STAMP_CACHE: dict = {}


def memo_stamp(key: str, src: str, compute: Callable[[], str]) -> str:
    """The stamp ``compute()`` returns, memoised per (``key``, stat
    signature of ``src``) within the process: the fingerprint scan
    re-runs exactly when a part file under ``src`` changes."""
    stat_sig = source_stat_sig(src)
    cached = _STAMP_CACHE.get(key)
    if cached is not None and cached[0] == stat_sig:
        return cached[1]
    stamp = compute()
    _STAMP_CACHE[key] = (stat_sig, stamp)
    return stamp


def read_marker(path: str, marker: str) -> str | None:
    """The stamp recorded in ``<path>/<marker>``, or None if absent."""
    try:
        with open(os.path.join(path, marker)) as f:
            return f.read().strip()
    except FileNotFoundError:
        return None


def _write_marker(path: str, marker: str, stamp: str) -> None:
    with open(os.path.join(path, marker), "w") as f:
        f.write(stamp + "\n")


def publish_artifact(
    path: str, marker: str, stamp: str, build: Callable[[str], object]
) -> None:
    """Run ``build(tmp)`` in a unique sibling scratch directory, write
    the marker last inside it, and swap the tree into ``path``.  A
    concurrent reader never sees a half-built tree, and two concurrent
    builders never share a scratch tree."""
    tmp = unique_sibling_tmp(path, tag="build")
    try:
        build(tmp)
        _write_marker(tmp, marker, stamp)
        swap_artifact_dir(path, tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise


def ensure_artifact(
    path: str,
    marker: str,
    stamp: str,
    build: Callable[[str], object],
    rebuild: bool = False,
) -> bool:
    """Reuse ``path`` if its marker equals ``stamp``, else publish
    ``build`` under ``stamp``.  Returns True iff it built."""
    if not rebuild and read_marker(path, marker) == stamp:
        return False
    publish_artifact(path, marker, stamp, build)
    return True


def mutate_artifact(
    path: str,
    marker: str,
    stamp: str,
    mutate: Callable[[str], object],
    base: str | None = None,
    fallback: Callable[[str], object] | None = None,
    fallback_stamp: str | None = None,
) -> bool:
    """Mutate the artifact at ``path`` in place under the sentinel rule.

    With ``base``, ``path`` first becomes a copy of the ``base`` tree
    (its marker excluded, and the old tree's marker removed before the
    old tree is, so no copy ever carries the base's stamp).  Then the
    marker is set to :data:`SENTINEL`, ``mutate(path)`` runs, and on a
    truthy result the marker becomes ``stamp``.  On a falsy result
    ``fallback`` is published under ``fallback_stamp`` (default
    ``stamp``).  Returns True iff the mutation was accepted."""
    if base is not None:
        if os.path.exists(path):
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(path, marker))
            shutil.rmtree(path)
        shutil.copytree(base, path, ignore=shutil.ignore_patterns(marker))
    _write_marker(path, marker, SENTINEL)
    if mutate(path):
        _write_marker(path, marker, stamp)
        return True
    if fallback is None:
        raise RuntimeError(f"mutation of {path} refused and no fallback given")
    publish_artifact(path, marker, fallback_stamp or stamp, fallback)
    return False
