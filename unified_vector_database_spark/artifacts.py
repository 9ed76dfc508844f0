"""One cache for everything built from an input file: in memory, lazy
table-loader frames, index fits (centroids, codebooks, PCA/OPQ
rotations) and HNSW graphs with their resident copies (`get`); on
disk, index codes, cell layouts, collections and stream sources
(`persisted`).

An entry is keyed by (kind, path). It stores the fingerprint of `path`
— (size, mtime_ns) of the file, or of each file under a directory —
and, for kinds that hold Spark handles, the application id of the
session that built it. A lookup whose fingerprint or application id
differs rebuilds the entry and replaces it in place: an overwritten
table never serves the old artifact, a restarted session never gets a
dead handle, and the cache holds at most one entry per (kind, path).
Plain values (fits, numpy twins) are stored without an application id,
so they survive a session restart.

Loader frames are worth caching even though they hold no data:
`spark.read.parquet` re-reads footers for schema inference (~0.1 s)
and `tables.load_parallel` plans the scan to size its copy. Most
registered queries load 1-3 tables, so that was ~0.2-0.3 s on nearly
every query. The frames stay lazy, with one exception: a `tables.load_parallel` frame reads the
table's hash-partitioned copy, which its build writes through
`persisted` the first time, so the repartition shuffle is paid once
per table and not by every action.

On disk, `persisted(kind, path, build)` names a directory by md5 of
(kind, path) and of `fingerprint(path)`, so an overwritten input gets
a new directory and the old one is removed. Every derived directory
is named here: `scratch` hands out the emptied directory of work that
its caller redoes on every call. That directory belongs to one process
(its name carries the pid) and is removed when the process exits, so
two processes working on one input never empty each other's work.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import shutil
import stat
import tempfile

_CACHE: dict[tuple, tuple] = {}
_SCRATCH: set[str] = set()


def fingerprint(path: str):
    """(size, mtime_ns) of a file — one stat() — or the sorted
    (name, size, mtime_ns) of each file under a directory; None when
    `path` does not exist."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_size, st.st_mtime_ns)
    out = []
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            s = os.stat(p)
            out.append((os.path.relpath(p, path), s.st_size, s.st_mtime_ns))
    return tuple(sorted(out))


def get(kind, path: str, build, spark=None):
    """The `kind` artifact built from `path`: cached if `path` and the
    session (when `spark` is passed) are unchanged, else `build()`."""
    app = spark.sparkContext.applicationId if spark is not None else None
    fp = fingerprint(path)
    hit = _CACHE.get((kind, path))
    if hit is not None and hit[0] == app and hit[1] == fp:
        return hit[2]
    value = build()
    _CACHE[(kind, path)] = (app, fp, value)
    return value


def _md5(value) -> str:
    return hashlib.md5(repr(value).encode()).hexdigest()[:16]


def dir_for(kind, path: str) -> str:
    """The stable directory name for `kind` derived from `path`, under
    the temp dir. md5, not hash(): str hashes are salted per process."""
    return os.path.join(tempfile.gettempdir(), f"uvdb_{_md5((kind, path))}")


def own_dir(kind, path: str) -> str:
    """This process's directory for `kind` derived from `path`."""
    return f"{dir_for(kind, path)}.{os.getpid()}"


def scratch(kind, path: str) -> str:
    """own_dir(kind, path), emptied: for work redone on every call.
    Removed when the process exits."""
    out = own_dir(kind, path)
    if not _SCRATCH:
        atexit.register(_remove_scratch)
    _SCRATCH.add(out)
    shutil.rmtree(out, ignore_errors=True)
    return out


def _remove_scratch() -> None:
    for d in _SCRATCH:
        shutil.rmtree(d, ignore_errors=True)


def persisted(kind, path: str, build) -> str:
    """The directory holding `build(dir)`'s output for the current
    content of `path`, built on first use.

    Its name carries md5(fingerprint(path)), and its existence is the
    commit marker: `build` writes into a pid-suffixed temp dir that one
    rename publishes. A build that raises leaves nothing behind; a
    rename that loses a race keeps the winner's directory. Publishing
    removes this (kind, path)'s directories for other fingerprints."""
    stem = dir_for(kind, path)
    out = f"{stem}_{_md5(fingerprint(path))}"
    if os.path.isdir(out):
        return out
    tmp = f"{out}.build.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)  # left by a killed build
    try:
        build(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, out)
    except OSError:  # lost a race: keep the winner's directory
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(out):
            raise
        return out
    for old in glob.glob(glob.escape(stem) + "_" + "?" * 16):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out
