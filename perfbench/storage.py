"""On-disk accounting of a dataset directory, and a way to restore one."""

from __future__ import annotations

import copy
import os
import shutil


def parquet_files(root: str) -> dict[str, int]:
    """Size of every Parquet file under ``root``, by path."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def new_bytes(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes of the files that appeared or changed between two listings."""
    return sum(size for p, size in after.items() if before.get(p) != size)


def storage_metrics(
    root: str, live_user_bytes: int, bytes_written: int, user_bytes_in: int
) -> dict[str, float]:
    """Layout and size metrics; a ratio whose denominator is 0 (nothing
    live, nothing written) is left out."""
    files = parquet_files(root)
    per_part: dict[str, int] = {}
    for p in files:
        per_part[os.path.dirname(p)] = per_part.get(os.path.dirname(p), 0) + 1
    counts = list(per_part.values())
    out: dict[str, float] = {}
    if live_user_bytes:
        out["bytes_per_user_byte"] = sum(files.values()) / live_user_bytes
    if counts:
        out["hive_dataset.fragments_per_partition"] = sum(counts) / len(counts)
        out["hive_dataset.fragments_per_partition.max"] = max(counts)
    if user_bytes_in:
        out["hive_dataset.bytes_written_per_user_byte"] = bytes_written / user_bytes_in
    return out


class Restorable:
    """Lets a workload start again from the state it is in now: a copy of
    its dataset directory plus the attributes named in ``STATE``.

    A traced run restores it before each of its two halves, so both halves
    run the same operations on the same data.
    """

    STATE: tuple[str, ...] = ()
    url: str

    def snapshot(self) -> None:
        self._saved_dir = self.url + ".snapshot"
        shutil.rmtree(self._saved_dir, ignore_errors=True)
        shutil.copytree(self.url, self._saved_dir)
        self._saved = copy.deepcopy({k: getattr(self, k) for k in self.STATE})

    def restore(self, spark) -> None:
        shutil.rmtree(self.url)
        shutil.copytree(self._saved_dir, self.url)
        for k, v in copy.deepcopy(self._saved).items():
            setattr(self, k, v)
        self.bind(spark)
