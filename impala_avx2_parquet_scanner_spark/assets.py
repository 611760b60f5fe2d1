"""Write-once assets: layouts derived from a fixture directory, built once
and then only read (sorted/bucketed/partitioned parquet rewrites, other
formats, FLE containers, the benchmark's 10x replica).

The reference's table writer (hdfs-parquet-table-writer.cc) writes a
layout once; every such layout here goes through :func:`publish`, which
owns the two decisions a write-once cache has to get right:

* **The key.**  :func:`asset_key` is a fingerprint of the INPUTS —
  the fixture directory's absolute path, ``(relpath, size, mtime_ns)`` of
  every file under it (symlinks followed), and :data:`ASSET_VERSION`.
  Inputs regenerated in place get a new key, so a stale layout is never
  served; Impala needs an explicit ``REFRESH`` for the same case.
* **The "done" marker.**  A build runs into a private ``<name>.tmp-<uuid>``
  sibling that no reader looks at, and is published by one
  ``os.rename``.  A reader therefore sees a whole asset or none: a
  crashed or killed build leaves only its ``tmp-`` sibling behind.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import stat
import uuid

#: Bump when an encoder or layout builder changes what it writes for the
#: same inputs: every asset key changes with it, so old layouts are
#: simply never read again.
ASSET_VERSION = 1

#: Where published assets live, one directory per input fingerprint.
ROOT = "/tmp/spark_graft_assets"


def input_stamp(path: str) -> tuple:
    """``(relpath, size, mtime_ns)`` of every file under `path` (of `path`
    itself when it is a file), symlinks followed, sorted; ``()`` when
    nothing is there.  Rewriting any input file in place changes it."""
    try:
        st = os.stat(path)
    except OSError:
        return ()
    if not stat.S_ISDIR(st.st_mode):
        return (("", st.st_size, st.st_mtime_ns),)
    out = []
    for root, _dirs, files in os.walk(path, followlinks=True):
        for f in files:
            p = os.path.join(root, f)
            try:
                st = os.stat(p)
            except OSError:  # dangling link, or removed mid-walk
                continue
            out.append((os.path.relpath(p, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def asset_key(sf_dir: str) -> str:
    """The fingerprint of `sf_dir`'s current files, as a short hex name."""
    fp = repr((ASSET_VERSION, os.path.abspath(sf_dir), input_stamp(sf_dir)))
    return hashlib.sha256(fp.encode()).hexdigest()[:16]


def asset_dir(sf_dir: str, name: str) -> str:
    """Where the asset `name` derived from `sf_dir`'s current files lives."""
    return os.path.join(ROOT, asset_key(sf_dir), name)


def publish(sf_dir: str, name: str, build) -> str:
    """Return the published asset `name` for `sf_dir`, building it first
    if needed: ``build(tmp)`` fills a fresh private directory, which one
    ``os.rename`` then moves into place.  When another process published
    first, this copy is discarded and theirs returned.  When `build`
    raises, its directory is removed and the error propagates, so the
    next call builds again."""
    final = asset_dir(sf_dir, name)
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp-{uuid.uuid4().hex}"
    os.makedirs(tmp)
    try:
        build(tmp)
        try:
            os.rename(tmp, final)
        except OSError:  # a non-empty `final`: another process won
            if not os.path.isdir(final):
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)  # gone after a won rename
    return final
