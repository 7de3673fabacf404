"""Pure helpers shared by the benchmark: seeded inputs, summary
statistics and an order-independent row digest.

Nothing here starts Spark, so the helpers are unit-tested on their own
(``perfbench/tests``) and the digest also runs inside Spark's Python
workers (``spark_digest``)."""

from __future__ import annotations

import random
import statistics

import numpy as np
import pandas as pd
import pyarrow as pa

# Row ids are drawn from [ID_LO, ID_HI): every id has nine decimal
# digits, so the url column (which embeds the id) has the same length
# distribution in every window and seeds compare like for like.
ID_LO = 100_000_000
ID_HI = 900_000_000
MASK64 = (1 << 64) - 1
_MIX = np.uint64(0x100000001B3)
_NULL_HASH = np.uint64(0x9E3779B97F4A7C15)


def seed_window(seed: int, rows: int) -> tuple[int, int]:
    """[start, stop) row-id window fed to the ``pages_table`` generator
    for ``seed``. Pure function of (seed, rows)."""
    rng = random.Random(f"window:{seed}")
    start = rng.randrange(ID_LO, ID_HI - rows)
    return start, start + rows


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, beyond) for the highest percentile that still
    has at least ten samples beyond it: with ``n`` sorted samples, the
    sample at index ``n - 11`` (ten larger samples follow it), at
    percentile ``100 * (n - 10) / n``. Below 21 samples that percentile
    is at or under the median, so the median is reported instead, with
    the number of samples actually beyond it."""
    s = sorted(samples)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    if n < 21:
        return median(s), 50.0, n // 2
    return s[n - 11], 100.0 * (n - 10) / n, 10


def median(samples: list[float]) -> float:
    return float(statistics.median(samples))


# ---------------------------------------------------------------- digest
def _column_hash(arr: pa.Array) -> np.ndarray:
    """uint64 hash per value; nulls hash to one fixed constant."""
    t = arr.type
    if pa.types.is_timestamp(t) or pa.types.is_date(t) or pa.types.is_time(t):
        arr = arr.cast(pa.int64())
    if pa.types.is_dictionary(t):
        arr = arr.cast(t.value_type)
    vals = arr.to_numpy(zero_copy_only=False)
    if vals.dtype.kind in "iufb":
        valid = arr.is_valid().to_numpy(zero_copy_only=False)
        filled = np.where(valid, vals, 0) if arr.null_count else vals
        h = pd.util.hash_array(np.asarray(filled))
        if arr.null_count:
            h = np.where(valid, h, _NULL_HASH)
        return h.astype(np.uint64, copy=False)
    # str / bytes / None objects: pandas hashes str and bytes of the same
    # content alike and maps None to a constant
    return pd.util.hash_array(vals.astype(object, copy=False)).astype(np.uint64, copy=False)


def row_hashes(table: pa.Table, columns: list[str]) -> np.ndarray:
    """One uint64 per row, combining the row's values in column order."""
    h = np.zeros(table.num_rows, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for name in columns:
            col = table.column(name).combine_chunks()
            h = h * _MIX ^ _column_hash(col)
    return h


def table_digest(table: pa.Table, columns: list[str] | None = None) -> tuple[int, int]:
    """(rows, sum of row hashes mod 2^64): independent of row order and
    of how the rows are split across partitions, so partial digests
    combine by ``add_digests``."""
    cols = columns or table.column_names
    if table.num_rows == 0:
        return 0, 0
    return table.num_rows, int(row_hashes(table, cols).sum(dtype=np.uint64))


def add_digests(parts) -> tuple[int, int]:
    rows = total = 0
    for r, d in parts:
        rows += int(r)
        total = (total + int(d)) & MASK64
    return rows, total


DIGEST_DDL = "key long, rows long, digest decimal(20,0)"


def spark_digests(df, columns: list[str], key: str | None = None) -> dict[int, tuple[int, int]]:
    """``table_digest`` of a Spark DataFrame per value of the integer
    column ``key`` (one group, 0, without it), computed in the Python
    workers one partial per batch and summed on the driver."""
    from decimal import Decimal

    schema = pa.schema([("key", pa.int64()), ("rows", pa.int64()), ("digest", pa.decimal128(20, 0))])

    def partial(batches):
        for b in batches:
            t = pa.Table.from_batches([b])
            keys = t.column(key).to_numpy() if key else np.zeros(t.num_rows, np.int64)
            out = {"key": [], "rows": [], "digest": []}
            for k in np.unique(keys):
                n, d = table_digest(t.filter(pa.array(keys == k)), columns)
                out["key"].append(int(k))
                out["rows"].append(n)
                out["digest"].append(Decimal(d))
            yield pa.RecordBatch.from_pydict(out, schema=schema)

    parts: dict[int, list] = {}
    sel = columns + ([key] if key else [])
    for r in df.select(*sel).mapInArrow(partial, DIGEST_DDL).collect():
        parts.setdefault(r["key"], []).append((r["rows"], int(r["digest"])))
    return {k: add_digests(v) for k, v in parts.items()}


def spark_digest(df, columns: list[str]) -> tuple[int, int]:
    return spark_digests(df, columns).get(0, (0, 0))
