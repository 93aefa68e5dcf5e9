"""Scheme-aware filesystem helpers, and the one crash-safe directory
rewrite: refresh jobs, streaming sinks, compaction and the admin ledger
replace a directory only through `overwrite_dir`, which (1) has
``write(tmp)`` fill a hidden sibling ``.<name>.tmp-<uuid>``, (2) renames
the old ``dst`` aside to ``.<name>.old-<uuid>``, (3) renames the tmp to
``dst`` and (4) deletes the aside.

The one crash state a reader can notice is ``dst`` missing while an
``.old-<uuid>`` exists. Its tmp was complete before step 2, so
`settle_dirs` renames it forward (and drops asides of finished swaps).
A tmp with no aside may be a live writer's; the next rewrite of
``dst`` deletes it. A rewrite settles only ``dst``'s own swaps:
parallel jobs rewrite sibling directories of one parent. Temp names
start with ``.``, which Spark's file index, pyarrow and the ledger's
partition listing all skip (Spark would read a ``_``-prefixed name
holding ``=`` as a partition).

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
from typing import Callable, List, Optional, Set, TypeVar

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


def settle_dirs(spark: Optional[SparkSession], parent: str) -> Set[str]:
    """Finish every swap a crash left half-done among ``parent``'s
    children: where ``<name>`` is missing but ``.<name>.old-<uuid>``
    exists, rename the complete ``.<name>.tmp-<uuid>`` to ``<name>``;
    then delete each aside whose swap is finished. Returns the names
    left in ``parent``."""
    fs = _Fs(spark, parent)
    names = set(fs.names(parent))
    for m in filter(None, map(_SWAP.match, list(names))):
        _settle(fs, parent, names, m)
    return names


def _settle(fs: _Fs, parent: str, names: Set[str], m: "re.Match[str]") -> None:
    """Finish the swap that sibling ``m`` belongs to, keeping ``names`` current."""
    name, old, tmp = m.group(1), m.group(2) == "old", f".{m.group(1)}.tmp-{m.group(3)}"
    if old and name not in names and tmp in names:
        fs.rename(os.path.join(parent, tmp), os.path.join(parent, name))
        names ^= {tmp, name}
    if old and name in names and tmp not in names:
        fs.delete(os.path.join(parent, m.group(0)))
        names.discard(m.group(0))


def overwrite_dir(spark: Optional[SparkSession], dst: str, write: Callable[[str], T]) -> T:
    """Replace directory ``dst`` with what ``write(tmp)`` puts in ``tmp``
    (see the module docstring) and return what ``write`` returns. It
    runs once a half-done swap on ``dst`` is settled, so it may read
    ``dst``. One writer per ``dst``: it deletes the leftovers it finds.
    It touches no sibling's swap, since another writer may be mid-way
    through it."""
    dst = dst.rstrip("/")
    parent, name = os.path.split(dst)
    parent, fs = parent or ".", _Fs(spark, dst)
    names = set(fs.names(parent))
    ours = [m for m in map(_SWAP.match, sorted(names)) if m and m.group(1) == name]
    for m in ours:
        _settle(fs, parent, names, m)
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
