"""Order-insensitive comparison of a Spark result with its DuckDB oracle,
by the engine's oracle gate's own rule (``tools/check_oracles.py``): cells
normalized (floats to 6 decimals, timestamps to ISO), columns sorted by
name, rows sorted."""

from __future__ import annotations

import hashlib

from tools.check_oracles import frame_signature as sorted_lines


def frame_signature(cols: list[str], rows) -> str:
    """Digest of a result that ignores row and column order and the case
    of column names."""
    cols = [c.lower() for c in cols]
    h = hashlib.sha256(",".join(sorted(cols)).encode())
    for line in sorted_lines(cols, rows):
        h.update(b"\n" + line.encode())
    return h.hexdigest()
