"""Scheme-aware filesystem helpers, and the one crash-safe rewrite of a
directory that one writer owns (refresh targets, streaming sinks,
compaction): `overwrite_dir` (1) has ``write(tmp)`` fill a hidden
sibling ``.<name>.tmp-<uuid>``, (2) renames ``dst`` aside to
``.<name>.old-<uuid>``, (3) renames the tmp to ``dst`` and (4) deletes
the aside. A crash between (2) and (3) leaves ``dst`` missing beside a
complete tmp, which the next rewrite of ``dst`` renames forward before
it deletes ``dst``'s other leftovers. It touches no sibling's swap:
parallel jobs rewrite sibling directories of one parent. Temp names
start with ``.``, which Spark's file index and pyarrow skip (Spark reads
a ``_``-prefixed name holding ``=`` as a partition).

Paths resolve through the Hadoop FileSystem API against the session's
Hadoop configuration, as `spark.read.parquet` does, so a check and a
read never disagree; with no JVM (``spark`` None, Spark Connect) they
are local paths. Directory renames are atomic on HDFS and local disks;
on object stores a rename is a copy, so there only a table format's
commit makes the swap atomic.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid
from typing import Callable, List, Optional, TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")
_SWAP = re.compile(r"\.(.+)\.(tmp|old)-([0-9a-f]{32})$")


class _Fs:
    """The calls a swap makes, on the filesystem ``path``'s scheme names."""

    def __init__(self, spark: Optional[SparkSession], path: str):
        jvm, jsc = getattr(spark, "_jvm", None), getattr(spark, "_jsc", None)
        self._jvm = jvm if jsc is not None else None
        if self._jvm is not None:
            self._fs = self._p(path).getFileSystem(jsc.hadoopConfiguration())

    def _p(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def exists(self, path: str) -> bool:
        return os.path.exists(path) if self._jvm is None else bool(self._fs.exists(self._p(path)))

    def names(self, parent: str) -> List[str]:
        if self._jvm is None:
            return os.listdir(parent) if os.path.isdir(parent) else []
        if not self._fs.exists(self._p(parent)):
            return []
        return [s.getPath().getName() for s in self._fs.listStatus(self._p(parent))]

    def rename(self, src: str, dst: str) -> None:
        if self._jvm is None:
            os.rename(src, dst)
        elif not self._fs.rename(self._p(src), self._p(dst)):
            raise IOError(f"rename failed: {src} -> {dst}")

    def delete(self, path: str) -> None:
        if self._jvm is None:
            shutil.rmtree(path)
        else:
            self._fs.delete(self._p(path), True)


def path_exists(spark: Optional[SparkSession], path: str) -> bool:
    """True if `path` exists on the filesystem its scheme names."""
    return _Fs(spark, path).exists(path)


def overwrite_dir(spark: Optional[SparkSession], dst: str, write: Callable[[str], T]) -> T:
    """Replace directory ``dst`` with what ``write(tmp)`` puts in ``tmp``
    (see the module docstring) and return what ``write`` returns. A
    half-done swap of ``dst`` is settled first, so ``write`` may read it."""
    dst = dst.rstrip("/")
    parent, name = os.path.split(dst)
    parent, fs = parent or ".", _Fs(spark, dst)
    names = set(fs.names(parent))
    ours = [m for m in map(_SWAP.match, sorted(names)) if m and m.group(1) == name]
    for m in ours:  # a crash between the renames left dst missing: its tmp is complete
        tmp = f".{name}.tmp-{m.group(3)}"
        if m.group(2) == "old" and name not in names and tmp in names:
            fs.rename(os.path.join(parent, tmp), dst)
            names ^= {tmp, name}
    for m in ours:
        if m.group(0) in names:
            fs.delete(os.path.join(parent, m.group(0)))
    tag = uuid.uuid4().hex
    tmp, old = (os.path.join(parent, f".{name}.{kind}-{tag}") for kind in ("tmp", "old"))
    out = write(tmp)
    replacing = fs.exists(dst)
    if replacing:
        fs.rename(dst, old)
    fs.rename(tmp, dst)
    if replacing:
        fs.delete(old)
    return out
