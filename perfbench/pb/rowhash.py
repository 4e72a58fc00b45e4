"""Order-insensitive row hash for the output checks.

Each row is rendered canonically (timestamps as integer microseconds,
nulls as a marker distinct from any string) and hashed with BLAKE2b;
the digests are summed modulo 2**128. The sum ignores row order but
counts duplicates, so it matches exactly when the two outputs hold the
same multiset of rows. ``emit_seq`` is one of the hashed columns, so an
emission-order change inside a conversation is caught too.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

ASSEMBLED_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "emit_seq"]
_NULL = "\x00null"
_MOD = 1 << 128


def _canon_col(s: pd.Series) -> list[str]:
    if pd.api.types.is_datetime64_any_dtype(s):
        us = s.to_numpy(dtype="datetime64[us]").astype(np.int64)
        return [_NULL if pd.isna(t) else str(v) for t, v in zip(s, us)]
    if pd.api.types.is_float_dtype(s):
        return [_NULL if pd.isna(v) else repr(float(v)) for v in s]
    if pd.api.types.is_integer_dtype(s):
        return [str(int(v)) for v in s]
    return [_NULL if v is None or (isinstance(v, float) and np.isnan(v)) else str(v) for v in s]


def row_hash(df: pd.DataFrame, cols: list[str] = ASSEMBLED_COLS) -> tuple[int, str]:
    """(row count, hex digest) over ``cols``."""
    rendered = [_canon_col(df[c].reset_index(drop=True)) for c in cols]
    total = 0
    for row in zip(*rendered):
        h = hashlib.blake2b("\x1f".join(row).encode("utf-8"), digest_size=16)
        total = (total + int.from_bytes(h.digest(), "big")) % _MOD
    return len(df), f"{total:032x}"
