"""Column-batch helpers shared by filters and sketches: pandas Series ->
key bytes -> 128-bit digests.

A value's key bytes depend on the value alone, never on its batch:

- ``str`` -> UTF-8; ``bytes`` / ``bytearray`` as they are;
- every pandas null (``None``, NaN, ``pd.NA``, ``NaT``) -> ``b''``;
- an integer -> its decimal text, ``str(int)``;
- an integral float with ``|v| <= 2**53`` -> the text of ``int(v)``, so
  ``1.0`` -> ``b'1'``; any other float -> ``str(v)``. Spark hands a
  ``long`` column whose Arrow batch holds a null to pandas as ``float64``,
  and this keeps such a key's digest equal to the one it gets from a batch
  without a null. pandas' int64 -> float64 widening is exact only up to
  ``2**53``; a long past that has already lost its low bits, so it cannot
  match and keeps ``str(v)``;
- anything else -> ``str(v)`` as UTF-8.

``digest_series`` encodes without per-row Python for the columns
``mapInPandas`` hands the sketches: object columns that Arrow converts to
string or binary (``str``, ``bytes``, a mix of the two, nulls), pandas
``string`` columns and integer columns (numpy or nullable). Such a column
goes through ``pa.array(s, from_pandas=True)`` (C-level) and its offsets and
data buffers feed ``hashes.pack_spans``. Every other column (floats, bool,
datetimes, categoricals, objects of mixed types) takes the per-row
``series_to_bytes`` loop. Both paths yield the same bytes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

from .hashes import digest128, pack_bytes, pack_spans

# the largest |v| a float64 holds every integer up to
_FLOAT_INT_LIMIT = float(2**53)


def _is_null(v) -> bool:
    return v is None or (pd.api.types.is_scalar(v) and bool(pd.isna(v)))


def series_to_bytes(s: pd.Series) -> list[bytes]:
    """Column values -> key bytes, one value at a time (the module's rule)."""
    out = []
    for v in s:
        if isinstance(v, str):
            out.append(v.encode("utf-8"))
        elif isinstance(v, bytes):
            out.append(v)
        elif isinstance(v, int):  # bool too: str(True) is its text
            out.append(str(v).encode("utf-8"))
        elif isinstance(v, (float, np.floating)):
            if v != v:
                out.append(b"")
            elif float(v).is_integer() and abs(v) <= _FLOAT_INT_LIMIT:
                out.append(str(int(v)).encode("utf-8"))
            else:
                out.append(str(v).encode("utf-8"))
        elif isinstance(v, bytearray):
            out.append(bytes(v))
        elif _is_null(v):
            out.append(b"")
        else:
            out.append(str(v).encode("utf-8"))
    return out


def _arrow_keys(s: pd.Series) -> pa.Array | None:
    """The column's key bytes as one Arrow ``large_binary`` array (nulls
    stay null), or None when the column takes the per-row path."""
    if s.dtype.kind not in "iuO":
        return None
    try:
        arr = pa.array(s, from_pandas=True)
    except (pa.ArrowInvalid, pa.ArrowTypeError, pa.ArrowNotImplementedError,
            UnicodeError, OverflowError):
        return None
    t = arr.type
    if pa.types.is_integer(t):
        arr = arr.cast(pa.string())
    elif not (
        pa.types.is_null(t)
        or pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or pa.types.is_binary(t)
        or pa.types.is_large_binary(t)
    ):
        return None
    arr = arr.cast(pa.large_binary())
    return arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr


def pack_series(s: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """``pack_bytes(series_to_bytes(s))``, from the column's Arrow buffers
    where it has them."""
    arr = _arrow_keys(s) if len(s) else None
    if arr is None:
        return pack_bytes(series_to_bytes(s))
    _, offsets, data = arr.buffers()
    off = np.frombuffer(offsets, dtype=np.int64)[arr.offset : arr.offset + len(arr) + 1]
    lens = np.diff(off)
    if arr.null_count:
        lens[arr.is_null().to_numpy(zero_copy_only=False)] = 0
    data = np.frombuffer(data, dtype=np.uint8)[off[0] : off[-1]]
    return pack_spans(data, off[:-1] - off[0], lens)


def digest_series(s: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """(d0, d1) uint64 digest lanes for each value in the Series."""
    return digest128(*pack_series(s))
