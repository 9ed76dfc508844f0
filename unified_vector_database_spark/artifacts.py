"""One cache for everything built from an input file: lazy table-loader
frames, index fits (centroids, codebooks, PCA/OPQ rotations) and HNSW
graphs with their resident copies.

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
and `tables.load_parallel`'s partition probe forces a full physical
planning of the scan (~0.15 s). Most registered queries load 1-3
tables, so that was ~0.2-0.3 s on nearly every query. The frames stay
lazy; every action still computes from the parquet inputs.
"""

from __future__ import annotations

import os
import stat

_CACHE: dict[tuple, tuple] = {}


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
