"""Size and row count of a warehouse directory, read from the files."""

from __future__ import annotations

import os


def _files(root: str):
    for d, dirs, files in os.walk(root):
        # skip in-flight or swapped-out copies the engine is about to drop
        dirs[:] = [x for x in dirs if "__stage__" not in x and "__old__" not in x]
        for f in files:
            yield os.path.join(d, f)


def size_bytes(root: str) -> int:
    return sum(os.path.getsize(p) for p in _files(root))


def parquet_rows(root: str) -> int:
    """Rows in every parquet part file, from the footers alone."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(p).metadata.num_rows
        for p in _files(root)
        if p.endswith(".parquet") and not os.path.basename(p).startswith((".", "_"))
    )
