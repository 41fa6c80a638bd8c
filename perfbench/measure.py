"""Measurements taken from outside the engine: percentiles, peak RSS
from ``/proc`` and on-disk warehouse size from a filesystem walk."""

from __future__ import annotations

import os

import numpy as np


def pct(values, q: float) -> float:
    """q-th percentile (linear interpolation); NaN for no samples."""
    if len(values) == 0:
        return float("nan")
    return float(np.percentile(np.asarray(values, dtype=float), q))


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process, from /proc/<pid>/status."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_bytes(root: str) -> int:
    """Bytes of the regular files under ``root``, each inode counted
    once: snapshots share unchanged data files by hard link, and a
    linked file occupies its blocks only once."""
    seen: set[int] = set()
    total = 0
    for d, _dirs, files in os.walk(root):
        for name in files:
            try:
                st = os.lstat(os.path.join(d, name))
            except FileNotFoundError:
                continue  # a temp file renamed away mid-walk
            if st.st_ino not in seen:
                seen.add(st.st_ino)
                total += st.st_size
    return total


def new_file_bytes(snapshot_dir: str) -> int:
    """Bytes of the files in a just-written snapshot that are not hard
    links carried over from an earlier version."""
    total = 0
    for d, _dirs, files in os.walk(snapshot_dir):
        for name in files:
            st = os.lstat(os.path.join(d, name))
            if st.st_nlink == 1:
                total += st.st_size
    return total


def versions_retained(warehouse: str) -> int:
    """Snapshot directories (``<table>/v<N>``) on disk."""
    n = 0
    for table in os.listdir(warehouse):
        tdir = os.path.join(warehouse, table)
        if os.path.isdir(tdir):
            n += sum(1 for v in os.listdir(tdir)
                     if v.startswith("v") and v[1:].isdigit())
    return n
