"""Derived-fixture caches: one key, one validity check, one publish path.

Some plans read a derivative of a fixture table that is costly to build
and cheap to serve: PQ codebooks, k-means cells, the packed PQ index,
the MinHash band index, the bucketed and z-ordered layouts and two
staged stream sources.  Each is built once per source epoch through
:func:`derived_cache`, so a graded key times the read path, not the
build.

**Key.**  A cache lives at ``SCRATCH/<name>_<source>_<code>``:

- ``name`` says what the derivative is and carries its geometry
  (``pq_books_m32k16i2``);
- ``source`` is :func:`table_fingerprint` of the source table
  (``sources.readers.path_fingerprint`` of its path, the key the
  readers' schema memo uses too), so a regenerated source, even one
  with equal row counts, addresses a new entry;
- ``code`` is :func:`code_salt`, a digest of this package's sources,
  so any library edit rebuilds every cache once and a change to a
  producer's dependency, however indirect, is never missed.

**Hit.**  The directory's data-file inventory equals the ``_MANIFEST``
written when it was built.  The check is metadata-only (no Spark job),
and a partly wiped cache (a file missing or resized) fails it and is
rebuilt instead of serving a subset of its rows.

**Miss.**  ``build(private_dir)`` creates and fills a uuid-named
sibling directory; the manifest is written last, then
:func:`_promote_cache_build` renames the directory into place under an
exclusive ``flock``.  Readers never see a half-written cache, and a
directory a reader may be scanning is never deleted in place: a torn
entry is renamed aside before removal, and a build that loses the race
to a valid concurrent promotion is discarded (builds are
deterministic, so both are equivalent).
"""

from __future__ import annotations

import fcntl
import functools
import hashlib
import os
import shutil
import uuid
from typing import Callable

from data_ingest_utils_spark.sources.readers import path_fingerprint

#: Scratch space for derived caches and sink/read-back round trips
#: (NOT the read-only testdata tree).
SCRATCH = os.environ.get("SPARK_GRAFT_SCRATCH", "/tmp/data_ingest_utils_spark")

_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def table_fingerprint(sf_dir: str, table: str) -> str:
    """:func:`path_fingerprint` of the fixture table ``table``."""
    return path_fingerprint(os.path.join(sf_dir, f"{table}.parquet"))


@functools.cache
def code_salt() -> str:
    """sha256 over every Python source of this package (relpath and
    bytes), computed once per process."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(_PKG_ROOT):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for fn in sorted(f for f in filenames if f.endswith(".py")):
            path = os.path.join(dirpath, fn)
            with open(path, "rb") as f:
                h.update(f"{os.path.relpath(path, _PKG_ROOT)}\0".encode())
                h.update(f.read())
    return h.hexdigest()[:12]


def cache_path(sf_dir: str, table: str, name: str) -> str:
    """Where the ``name`` derivative of ``table`` lives for this source
    epoch and this code."""
    return f"{SCRATCH}/{name}_{table_fingerprint(sf_dir, table)}_{code_salt()}"


def derived_cache(
    sf_dir: str, table: str, name: str, build: Callable[[str], None]
) -> str:
    """Path of a valid ``name`` cache of ``table``, running
    ``build(private_dir)`` and promoting its output on a miss."""
    path = cache_path(sf_dir, table, name)
    if not _cache_manifest_ok(path):
        private = f"{path}.build_{uuid.uuid4().hex[:12]}"
        try:
            build(private)
            _write_cache_manifest(private)
            _promote_cache_build(private, path)
        finally:
            shutil.rmtree(private, ignore_errors=True)  # only left on failure
    return path


def _cache_part_inventory(path: str) -> list[str]:
    """Sorted (relpath|size) lines of the directory's own DATA files;
    underscore/dot-prefixed entries are excluded, matching what Spark's
    file index reads."""
    out = []
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn.startswith(("_", ".")):
                continue
            st = os.stat(os.path.join(dirpath, fn))
            rel = os.path.relpath(os.path.join(dirpath, fn), path)
            out.append(f"{rel}|{st.st_size}")
    return out


def _write_cache_manifest(path: str) -> None:
    """Record a finished build's file inventory (underscore-prefixed,
    so Spark's file index and the file-stream source skip it)."""
    tmp = f"{path}/_MANIFEST.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        f.write("\n".join(_cache_part_inventory(path)))
    os.replace(tmp, f"{path}/_MANIFEST")


def _cache_manifest_ok(path: str) -> bool:
    """The hit check: the current data-file inventory equals the
    manifest.  An absent directory or manifest is a miss."""
    try:
        with open(f"{path}/_MANIFEST") as f:
            recorded = f.read().splitlines()
    except OSError:
        return False
    return recorded == _cache_part_inventory(path)


def _promote_cache_build(build: str, src: str) -> None:
    """Rename a finished ``build`` directory into place at ``src``.

    Promoters serialize on an exclusive ``flock`` of ``src.lock`` (a
    crashed holder releases it with its process), and ``src`` is
    re-checked under the lock: if a concurrent promoter made it valid,
    the build is discarded; if it is torn, it is renamed aside and only
    the aside copy is removed.  A torn ``src`` that cannot be displaced
    raises instead of being served as-is."""
    lock_fd = os.open(f"{src}.lock", os.O_CREAT | os.O_RDWR, 0o644)
    try:
        fcntl.flock(lock_fd, fcntl.LOCK_EX)
        if _cache_manifest_ok(src):
            shutil.rmtree(build, ignore_errors=True)  # concurrent winner
            return
        if os.path.exists(src):
            aside = f"{src}.torn_{uuid.uuid4().hex[:12]}"
            try:
                os.rename(src, aside)
            except OSError:
                pass  # src vanished under us, or could not be displaced
            else:
                shutil.rmtree(aside, ignore_errors=True)
        try:
            os.rename(build, src)
        except OSError:
            shutil.rmtree(build, ignore_errors=True)
            if not _cache_manifest_ok(src):
                raise RuntimeError(
                    f"cache promotion failed: torn cache at {src} could "
                    f"not be displaced and would be served as-is"
                )
    finally:
        os.close(lock_fd)  # closing the fd releases the flock
