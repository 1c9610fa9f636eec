"""Per-file bloom-filter key index for moontable MERGE probing.

MERGE's exact touched-file resolution (storage.MoonTable._probe_by_keys)
scans the pk columns of every stat-envelope candidate.  For a
scattered-key CDC batch on a big table the envelope admits EVERY file,
so the probe reads the pk column of the whole snapshot each tick — at
100 TB that is the dominant cost of the CDC-apply hot path.  A per-file
bloom filter over the primary key answers "could this file contain any
batch key?" from O(files) driver-side sidecar reads instead (cacheable:
data files are immutable, so their blooms are too — a steady-state sync
loop serves them from memory), the same role Hudi's bloom index and
parquet's column-bloom play.

Determinism contract: the hash here must agree between stage time and
probe time FOREVER (a sidecar written today is probed years later), so
it is hand-rolled from fixed constants — splitmix64 over a canonical
64-bit encoding per column (int64 value / FNV-1a-64 of utf-8 / epoch
days), vectorized in numpy; no library hash whose implementation could
drift (pandas' hash_array makes no cross-version promise).  Both sides
run on the driver: stage time hashes the pk columns read back from the
staged parquet files (:func:`arrow_key_hashes`), probe time the batch
keys collected as Arrow — no Python worker is involved, so the package
never has to be importable on executors.  False positives only cost a
wasted probe read; a false NEGATIVE would silently drop an update,
which is why nothing environment-dependent is allowed in this file.

Sidecar format (``_index/bloom-<datafile>.bin``):
``MBF1 | uint32 k | uint64 m | ceil(m/8) bitmap bytes`` (little-endian).
"""

from __future__ import annotations

import struct
from typing import Iterator, Optional

import numpy as np

_MAGIC = b"MBF1"
_BITS_PER_KEY = 10
_K = 7  # ~optimal for 10 bits/key: k = m/n * ln2 ≈ 6.9
_MIN_M = 1 << 10
_MAX_M = 1 << 24  # 2 MiB bitmap cap (≈1.7 M keys at 10 bits/key)

# splitmix64 constants (Steele et al., public domain reference sequence)
_SM_GAMMA = np.uint64(0x9E3779B97F4A7C15)
_SM_M1 = np.uint64(0xBF58476D1CE4E5B9)
_SM_M2 = np.uint64(0x94D049BB133111EB)

_FNV_OFFSET = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(0x100000001B3)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = (x + _SM_GAMMA).astype(np.uint64)
    x ^= x >> np.uint64(30)
    x *= _SM_M1
    x ^= x >> np.uint64(27)
    x *= _SM_M2
    x ^= x >> np.uint64(31)
    return x


def _fnv1a64(value: bytes) -> int:
    h = 0xCBF29CE484222325
    for b in value:
        h = ((h ^ b) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def supported_pk_types(schema, pk: list[str]) -> bool:
    """Bloom-indexable key column types.  Anything else (float keys,
    decimals, timestamps) simply skips the index — pruning is an
    optimization, never a requirement."""
    from pyspark.sql import types as T

    ok = (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.StringType,
          T.DateType)
    by_name = {f.name: f.dataType for f in schema.fields}
    return all(isinstance(by_name.get(k), ok) for k in pk)


def _fnv1a64_utf8(values) -> np.ndarray:
    """:func:`_fnv1a64` of each string's utf-8 bytes, vectorized: one
    numpy step per byte position over only the strings at least that
    long (sorted longest first, so they are a prefix) — O(total bytes)
    array work and no per-value Python call."""
    import pyarrow as pa

    arr = pa.array(values, type=pa.large_string())
    _, offs_buf, data_buf = arr.buffers()
    offs = np.frombuffer(offs_buf, dtype=np.int64)[: len(arr) + 1]
    data = (
        np.frombuffer(data_buf, dtype=np.uint8)
        if data_buf is not None
        else np.empty(0, dtype=np.uint8)
    )
    lens = np.diff(offs)
    order = np.argsort(-lens, kind="stable")
    starts = offs[:-1][order]
    ascending = lens[order][::-1]
    h = np.full(len(arr), _FNV_OFFSET, dtype=np.uint64)
    for j in range(int(ascending[-1]) if len(arr) else 0):
        live = len(arr) - int(np.searchsorted(ascending, j, side="right"))
        h[:live] ^= data[starts[:live] + j].astype(np.uint64)
        h[:live] *= _FNV_PRIME
    out = np.empty_like(h)
    out[order] = h
    return out


def key_hash_array(cols: list["np.ndarray | object"]) -> np.ndarray:
    """Canonical uint64 hash per row from the pk column arrays (pandas
    Series values).  Integers hash by value, strings by FNV-1a-64 of
    utf-8, dates by epoch day; columns fold left with splitmix64 so
    (1, 2) and (2, 1) differ.  An all-string column takes the vectorized
    FNV path; mixed object columns (dates, NULLs) loop per value."""
    import datetime

    import pandas as pd

    n = len(cols[0])
    acc = np.zeros(n, dtype=np.uint64)
    for series in cols:
        s = pd.Series(series)
        if pd.api.types.is_integer_dtype(s.dtype):
            enc = np.asarray(s.fillna(0), dtype=np.int64).view(np.uint64)
        elif pd.api.types.is_datetime64_any_dtype(s.dtype):
            enc = (
                s.to_numpy().astype("datetime64[D]").astype(np.int64)
            ).view(np.uint64)
        elif pd.api.types.infer_dtype(s, skipna=False) == "string":
            enc = _fnv1a64_utf8(s.tolist())
        else:
            vals = s.tolist()
            out = np.empty(n, dtype=np.uint64)
            epoch = datetime.date(1970, 1, 1)
            for i, v in enumerate(vals):
                if v is None:
                    out[i] = np.uint64(0)
                elif isinstance(v, str):
                    out[i] = np.uint64(_fnv1a64(v.encode("utf-8")))
                elif isinstance(v, (int, np.integer)):
                    out[i] = np.uint64(int(v) & 0xFFFFFFFFFFFFFFFF)
                elif isinstance(v, datetime.date):
                    out[i] = np.uint64((v - epoch).days & 0xFFFFFFFFFFFFFFFF)
                else:
                    out[i] = np.uint64(_fnv1a64(str(v).encode("utf-8")))
            enc = out
        acc = _splitmix64(acc ^ enc)
    return acc


def arrow_key_hashes(table, pk: list[str]) -> Optional[np.ndarray]:
    """:func:`key_hash_array` over the ``pk`` columns of a pyarrow
    Table, or None when any key is NULL: pandas would coerce a nullable
    integer column to float64 and corrupt the canonical encoding of the
    real keys (a false-negative risk), so NULL-key data is never
    bloom-indexed or bloom-pruned."""
    if any(table.column(c).null_count for c in pk):
        return None
    pdf = table.select(pk).to_pandas(date_as_object=True)
    return key_hash_array([pdf[c] for c in pk])


def bloom_m_for(rows: int) -> int:
    m = 1
    target = max(int(rows) * _BITS_PER_KEY, _MIN_M)
    while m < target:
        m <<= 1
    return min(m, _MAX_M)


def positions(h: np.ndarray, m: int, k: int = _K) -> Iterator[np.ndarray]:
    """k probe positions per hash via double hashing (Kirsch-Mitzenmacher):
    pos_i = (h1 + i*h2) mod m, h1/h2 independent splitmix64 streams."""
    h1 = _splitmix64(h)
    h2 = _splitmix64(h ^ _SM_M1) | np.uint64(1)
    mm = np.uint64(m)
    for i in range(k):
        yield ((h1 + np.uint64(i) * h2) % mm).astype(np.int64)


def build_bitmap(h: np.ndarray, m: int) -> np.ndarray:
    bits = np.zeros(m, dtype=bool)
    for pos in positions(h, m):
        bits[pos] = True
    return bits


def might_contain_any(
    bitmap: np.ndarray, m: int, h: np.ndarray, k: int = _K
) -> bool:
    """True iff ANY of the hashed keys passes the filter (all k bits set)."""
    alive = np.ones(len(h), dtype=bool)
    for pos in positions(h, m, k):
        alive &= bitmap[pos]
        if not alive.any():
            return False
    return True


def serialize(bitmap: np.ndarray, m: int) -> bytes:
    return (
        _MAGIC
        + struct.pack("<IQ", _K, m)
        + np.packbits(bitmap, bitorder="little").tobytes()
    )


def deserialize(blob: bytes) -> Optional[tuple[np.ndarray, int, int]]:
    """(bitmap, m, k) or None for an unknown format (forward compat:
    an unreadable sidecar just disables pruning for that file)."""
    if len(blob) < 16 or blob[:4] != _MAGIC:
        return None
    k, m = struct.unpack("<IQ", blob[4:16])
    bitmap = np.unpackbits(
        np.frombuffer(blob[16:], dtype=np.uint8), bitorder="little"
    )[:m].astype(bool)
    return bitmap, int(m), int(k)
