"""The fingerprint-keyed artifact store: every build-once / read-many
entry (LSH band index, LM LUT, IVF/PQ codebooks, inverted file, CDC
snapshot, rollup view) lives at ``ROOT/<family>/<key>``, its key carrying
the content fingerprint of the fixture it was built from.

One commit rule (``commit``): an entry is served only once it holds
``_SUCCESS``; a build writes into a unique sibling dir and renames it into
place, so concurrent builders never share a half-written dir -- the first
rename wins and the losers drop their copies. A dir at the final path
without the marker (a torn in-place build) is moved aside and deleted,
never read.

Cache-probe caveat (ADVICE r6): the ``_SUCCESS`` probe and the rename use
driver-local ``os``, which only sees local-filesystem paths. On HDFS/S3
the probe would always miss and rebuild; a cluster deployment should
route both through the Hadoop FileSystem API
(``jvm.org.apache.hadoop.fs.FileSystem``) so they match the write path's
filesystem. Local FS is the contract here.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid
from functools import lru_cache

ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "artifacts")


def fingerprint(sf_dir: str, table: str) -> str:
    """The content key of one fixture table: md5 of its bytes, 16 hex.
    Content-based, so a byte-identical regenerated fixture still hits
    while any data change rebuilds; memoized per (path, size, mtime), so
    a process hashes each unchanged file once."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    st = os.stat(path)
    return _md5(path, st.st_size, st.st_mtime_ns)


@lru_cache(maxsize=256)
def _md5(path: str, size: int, mtime_ns: int) -> str:
    h = hashlib.md5()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()[:16]


def commit(path: str, write) -> str:
    """``path`` once it holds ``_SUCCESS``; else ``write(stage)`` into a
    unique sibling dir, mark it and rename it into place."""
    marker = os.path.join(path, "_SUCCESS")
    if os.path.exists(marker):
        return path
    stage = f"{path}.tmp-{uuid.uuid4().hex}"
    try:
        if os.path.isdir(path):  # torn (no marker): move aside, never read
            try:
                os.rename(path, stage)
            except FileNotFoundError:  # another builder moved it first
                pass
            shutil.rmtree(stage, ignore_errors=True)
        write(stage)
        open(os.path.join(stage, "_SUCCESS"), "a").close()
        try:
            os.rename(stage, path)
        except OSError:  # another builder committed first: serve theirs
            if not os.path.exists(marker):
                raise
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return path


def parquet(spark, family: str, key: str, build):
    """The parquet entry ``ROOT/family/key``, built from ``build()`` once."""
    path = os.path.join(ROOT, family, key)
    return spark.read.parquet(commit(path, lambda p: build().write.parquet(p)))
