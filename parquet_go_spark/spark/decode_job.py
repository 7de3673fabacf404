"""Distributed decode job: read partition files -> Arrow batches.

Column projection mirrors the reference's read-side SELECT
(``file_reader.go:112-130`` / ``skipChunk``): unselected chunks are seeked
past in the partition file and never decoded.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

import numpy as np

from ..core.chunk import chunk_page_index, chunk_ptype, decode_chunk
from ..core.columns import one_chunk, to_arrow
from . import manifest as mf
from .encode_job import parse_partition_file, partition_file_epoch
from .session import empty_frame


_NUM_PTYPES = {"int32", "int64", "float", "double"}


def _bound_kind(ptype: str | None) -> str:
    """Ordering family a column's string bounds were WRITTEN with
    (``core.chunk.column_minmax`` + ``bound_str``): numeric ptypes and
    flba (decimal/int carrier keys) compare numerically, bytes and bool
    compare as strings. Unknown ptype -> "none" (no ordering proof —
    the pre-fix code guessed numerically whenever both sides parsed as
    floats, which inverted pruning on string columns holding
    numeric-looking values: lexicographic bounds '100'..'99' read as
    the numeric interval [100, 99], provably 'excluding' the value '5'
    that the partition actually contains)."""
    if ptype in _NUM_PTYPES or ptype == "flba":
        return "num"
    if ptype in ("bytes", "bool"):
        return "str"
    return "none"


def _le_bound(a, b, kind: str = "num"):
    """Conservative ordered compare shared by partition- and page-level
    pruning: True/False when the ordering is PROVEN, None when no proof
    is possible (NaN bounds, unparseable or cross-type operands, or an
    unknown column kind) — callers must treat None as 'cannot
    exclude'. NaN matters: ``float('nan') <= x`` is False for every x,
    and the pre-fix code read that False as proof of exclusion, so one
    NaN in a float column silently pruned partitions containing real
    matches (the sibling compat/page_index.py guard, mirrored here)."""
    if kind == "num":
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return None
        if fa != fa or fb != fb:  # NaN bound or probe: no ordering proof
            return None
        return fa <= fb
    if kind == "str":
        try:
            sa = a.decode("utf-8") if isinstance(a, bytes) else str(a)
            sb = b.decode("utf-8") if isinstance(b, bytes) else str(b)
        except UnicodeDecodeError:
            return None
        return sa <= sb
    return None


def _bounds_exclude_eq(value, mn, mx, kind: str = "num") -> bool:
    """[mn, mx] provably excludes ``== value`` (None bound or unprovable
    ordering never excludes)."""
    if mn is not None and _le_bound(mn, value, kind) is False:
        return True
    if mx is not None and _le_bound(value, mx, kind) is False:
        return True
    return False


def _nan_ranks_top(ptype: str | None) -> bool:
    """Float columns: bounds skip NaN, and Spark orders NaN above every
    value, so a NaN row satisfies any ``>=`` and no bound proves one."""
    return ptype in ("float", "double")


def _max_excludes_ge(value, mx, ptype: str | None) -> bool:
    """Upper bound ``mx`` proves ``>= value`` unsatisfiable."""
    if mx is None or _nan_ranks_top(ptype):
        return False
    return _le_bound(value, mx, _bound_kind(ptype)) is False


def _page_excludes(op: str, value, page: dict) -> bool:
    """True when a page's stats provably exclude the predicate
    (None bound = unknown, never excludes)."""
    mn, mx = page["min_str"], page["max_str"]
    kind = _bound_kind(page.get("ptype"))
    if op == "==":
        return _bounds_exclude_eq(value, mn, mx, kind)
    if op == "in":
        return all(_bounds_exclude_eq(v, mn, mx, kind) for v in value)
    if op == "<=":
        return mn is not None and _le_bound(mn, value, kind) is False
    if op == ">=":
        return _max_excludes_ge(value, mx, page.get("ptype"))
    if op == "notnull":
        # every row of the page is null ⇒ no non-null value can match
        return page.get("nulls", 0) >= page["row_hi"] - page["row_lo"]
    return False


def _intersect_ranges(a: list[tuple], b: list[tuple]) -> list[tuple]:
    """Intersection of two sorted non-overlapping range lists."""
    out, i, j = [], 0, 0
    while i < len(a) and j < len(b):
        lo = max(a[i][0], b[j][0])
        hi = min(a[i][1], b[j][1])
        if lo < hi:
            out.append((lo, hi))
        if a[i][1] <= b[j][1]:
            i += 1
        else:
            j += 1
    return out


def _dict_key(v, ptype: str):
    """Normalize a predicate value to the form ``chunk_dict_values``
    emits; None = not comparable (never excludes). flba dictionaries
    hold RAW storage bytes (big-endian unscaled decimals / fixed
    binary): only a bytes probe can match them — ``bytes(5)`` is five
    NUL bytes, not the number 5, so a numeric probe must yield NO proof
    rather than a guaranteed miss that falsely excludes the chunk."""
    try:
        if ptype == "bytes":
            if isinstance(v, str):
                return v.encode()
            return bytes(v) if isinstance(v, (bytes, bytearray, memoryview)) else None
        if ptype == "flba":
            return bytes(v) if isinstance(v, (bytes, bytearray, memoryview)) else None
        if ptype in ("int32", "int64"):
            return int(v)
        if ptype in ("float", "double"):
            f = float(np.float32(v)) if ptype == "float" else float(v)
            # NaN never equals a set member, yet Spark's NaN = NaN holds
            return None if f != f else f
    except (TypeError, ValueError, UnicodeEncodeError):
        return None
    return None


def _read_chunk_dict(enc_dir: str, pid: int, col: str) -> set | None:
    """The chunk's complete dictionary, via one bounded read: the
    partition file is mmapped so the header walk and the dict payload
    fault in a few pages while every data page stays untouched (the
    parquet side's bounded-pread bloom/dict probes, same idea)."""
    import mmap
    import os as _os

    from ..core.chunk import chunk_dict_values

    path = _os.path.join(enc_dir, f"part-{pid:05d}.bin")
    try:
        with open(path, "rb") as f, mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ) as mm:
            blob = parse_partition_file(mm, {col}).pop(col, None)
            try:
                return chunk_dict_values(blob) if blob is not None else None
            finally:
                # the view points into the mmap; release it before the
                # mmap context closes (else BufferError)
                if blob is not None:
                    blob.release()
    except (OSError, ValueError):
        return None  # unreadable/forged: no proof, no prune


def surviving_partitions(
    enc_dir: str, prune: list[tuple], within: "set[int] | None" = None
) -> list[int]:
    """Committed partition ids the predicates cannot exclude, from three
    proofs per equality probe: manifest min/max bounds, the per-chunk
    bloom filter (probabilistic), and — when the manifest shows the
    column ``rle_dict``-encoded — the chunk's dictionary page itself
    (EXACT: every non-null value is a dict member, so a missed probe
    excludes with zero false positives; parquet-mr DictionaryFilter
    semantics on the native container). Conservative: a partition is
    dropped only on proof of absence. ``within`` restricts the candidate
    set (time travel)."""
    _le = _le_bound
    dict_cache: dict[tuple[int, str], set | None] = {}

    def _excludes_point(r: dict, v, pid: int, col: str) -> bool:
        """min/max + bloom + dict proof that ``v`` is absent from chunk ``r``."""
        if _bounds_exclude_eq(v, r["min_str"], r["max_str"], _bound_kind(r["ptype"])):
            return True
        # bloom probe: min/max rarely excludes a point lookup on
        # high-cardinality keys (every partition spans the range); the
        # manifest bloom proves absence instead
        if r.get("bloom") is not None:
            from ..kernels.bloom import bloom_might_contain, hash_scalar

            h = hash_scalar(v, r["ptype"])
            if h is not None and not bloom_might_contain(r["bloom"], h):
                return True
        # dictionary probe (exact, one bounded read per partition+column,
        # dict <= 32767 values by construction): only for chunks the
        # manifest proves fully dictionary-encoded
        if r.get("encoding") == "rle_dict":
            key = (pid, col)
            if key not in dict_cache:
                dict_cache[key] = _read_chunk_dict(enc_dir, pid, col)
            d = dict_cache[key]
            if d is not None:
                k = _dict_key(v, r["ptype"])
                if k is not None and k not in d:
                    return True
        return False

    pids = mf.committed_partitions(enc_dir)
    if within is not None:
        pids &= within

    def _pid_survives(pid: int) -> bool:
        rows = {r["column"]: r for r in mf.read_partition_manifest(enc_dir, pid)}
        for col_name, op, value in prune:
            r = rows.get(col_name)
            if r is None:
                continue  # no stats -> cannot prune
            mn, mx = r["min_str"], r["max_str"]  # each may be None (inexact)
            kind = _bound_kind(r["ptype"])
            if op == "==":
                if _excludes_point(r, value, pid, col_name):
                    return False
            elif op == "in":
                if all(_excludes_point(r, v, pid, col_name) for v in value):
                    return False
            elif op == "<=" and mn is not None and _le(mn, value, kind) is False:
                return False
            elif op == ">=" and _max_excludes_ge(value, mx, r["ptype"]):
                return False
            elif op == "notnull" and r["null_count"] >= r["num_rows"]:
                return False  # all-null chunk: no non-null value to match
        return True

    ordered = sorted(pids)
    # plan IO (per-partition manifest reads + bounded dict probes) is
    # IO-bound and independent per partition — thread it like the parquet
    # planner; each pid touches only its own dict_cache keys
    if len(ordered) <= 1:
        flags = [_pid_survives(p) for p in ordered]
    else:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(32, len(ordered))) as ex:
            flags = list(ex.map(_pid_survives, ordered))
    return [p for p, ok in zip(ordered, flags) if ok]


def _surviving_ranges(prune: list[tuple], blobs: dict) -> tuple[list[tuple] | None, int]:
    """(global row ranges the predicates cannot exclude, chunk row count)
    from the page stats of each predicate column (``chunk_page_index``);
    ranges is None when no predicate column carries page stats (full
    decode)."""
    ranges = None
    total = 0
    for col_name, op, value in prune:
        blob = blobs.get(col_name)
        if blob is None:
            continue
        pidx = chunk_page_index(blob)
        if pidx is None:
            continue
        total = max(total, pidx[-1]["row_hi"] if pidx else 0)
        keep = []
        for p in pidx:
            if not _page_excludes(op, value, p):
                # extend the previous range instead of appending (pages
                # are already sorted and non-overlapping)
                if keep and keep[-1][1] == p["row_lo"]:
                    keep[-1] = (keep[-1][0], p["row_hi"])
                else:
                    keep.append((p["row_lo"], p["row_hi"]))
        keep = [tuple(r) for r in keep]
        ranges = keep if ranges is None else _intersect_ranges(ranges, keep)
    return ranges, total


def _num_probe(v) -> float | None:
    """A numeric column's probe as the float the page tier compares it
    as (``_le_bound`` "num"); None = no proof: a non-numeric Python
    type, a bool, NaN, or an int past the float range."""
    if isinstance(v, (bool, np.bool_)) or not isinstance(v, (int, float, np.integer, np.floating)):
        return None
    try:
        f = float(v)
    except OverflowError:
        return None
    return None if f != f else f


def _str_probe(v) -> bytes | None:
    """A string column's probe as UTF-8 bytes, whose byte order is the
    page tier's codepoint order; None = no proof: a non-string type, or
    bytes that do not decode (``_le_bound`` cannot order them)."""
    try:
        if isinstance(v, str):
            return v.encode("utf-8")
        if isinstance(v, bytes):
            v.decode("utf-8")
            return v
    except (UnicodeEncodeError, UnicodeDecodeError):
        pass
    return None


def _row_probes(op: str, value, ptype: str | None) -> list | None:
    """The predicate's probes in the form ``_row_keep`` compares, or
    None when the row tier cannot prove it on this column: an unknown
    op, a nested, bool or flba (decimal) column, ``>=`` on a float
    column (``_nan_ranks_top``), or any probe whose Python type does not
    match the column's ordering family."""
    kind = "none" if ptype in ("bool", "flba") else _bound_kind(ptype)
    if kind == "none":
        return None
    if op == "notnull":
        return []
    if op not in ("==", "in", "<=", ">=") or (op == ">=" and _nan_ranks_top(ptype)):
        return None
    try:
        raw = tuple(value) if op == "in" else (value,)
    except TypeError:
        return None
    conv = _num_probe if kind == "num" else _str_probe
    probes = [conv(v) for v in raw]
    return None if any(p is None for p in probes) else probes


def _bool_values(arr: "pa.BooleanArray") -> np.ndarray:
    """Null-free Arrow booleans -> numpy bool, by unpacking the bitmap
    (``to_numpy(zero_copy_only=False)`` would import pandas)."""
    if not len(arr):
        return np.zeros(0, dtype=bool)
    bits = np.frombuffer(arr.buffers()[1], dtype=np.uint8)
    return np.unpackbits(bits, count=arr.offset + len(arr), bitorder="little")[arr.offset :].view(bool)


def _str_hits(op: str, probes: list, cd) -> np.ndarray:
    """Per non-null value of a bytes column: may it satisfy the
    predicate? Byte-wise compare through Arrow; a value that is not
    valid UTF-8 always may (the page tier has no order for it)."""
    import pyarrow.compute as pc

    n = len(cd.lengths)
    offsets = np.zeros(n + 1, np.int64)
    np.cumsum(cd.lengths, out=offsets[1:])
    bufs = [None, pa.py_buffer(offsets), pa.py_buffer(np.ascontiguousarray(cd.data))]
    arr = pa.Array.from_buffers(pa.large_binary(), n, bufs)
    if op == "in":
        res = pc.is_in(arr, value_set=pa.array(probes, pa.large_binary()))
    else:
        cmp = {"==": pc.equal, "<=": pc.less_equal, ">=": pc.greater_equal}[op]
        res = cmp(arr, pa.scalar(probes[0], pa.large_binary()))
    hits = _bool_values(res)
    try:
        pa.Array.from_buffers(pa.large_string(), n, bufs).validate(full=True)
    except pa.ArrowInvalid:
        data = cd.data
        for i in np.flatnonzero(~hits):
            try:
                bytes(data[offsets[i] : offsets[i + 1]]).decode("utf-8")
            except UnicodeDecodeError:
                hits[i] = True
    return hits


def _row_keep(op: str, probes: list, cd) -> np.ndarray:
    """Row tier: keep mask over a decoded flat column's rows for one
    predicate (``probes`` from ``_row_probes``). It is ``_page_excludes``
    applied to one-row pages: a row drops only when a page whose min and
    max are both its value would be excluded. NaN values never drop, and
    a null row drops only under ``notnull``."""
    if op == "notnull":
        return cd.validity
    if cd.ptype == "bytes":
        hits = _str_hits(op, probes, cd)
    else:
        v = cd.values.astype(np.float64, copy=False)
        if op == "in":
            hits = np.isin(v, probes)
        elif op == "==":
            hits = v == probes[0]
        elif op == "<=":
            hits = v <= probes[0]
        else:
            hits = v >= probes[0]
        if _nan_ranks_top(cd.ptype):
            hits |= np.isnan(v)
    keep = np.ones(cd.num_rows, dtype=bool)  # null rows stay
    keep[cd.validity] = hits
    return keep


def _prove_rows(prune: list[tuple], blobs: dict, logicals: dict, row_sel) -> tuple[dict, "np.ndarray | None"]:
    """Decode each provable predicate column over the page tier's
    ``row_sel`` and AND their ``_row_keep`` masks. Returns ({column:
    decoded ColumnData}, keep mask over those rows or None when no
    predicate proves anything)."""
    decoded: dict = {}
    keep = None
    for col, op, value in prune:
        blob = blobs.get(col)
        if blob is None:
            continue  # evolved away: no proof
        probes = _row_probes(op, value, chunk_ptype(blob))
        if probes is None:
            continue
        if col not in decoded:
            decoded[col] = decode_chunk(blob, logical=logicals.get(col, ""), row_sel=row_sel)
        m = _row_keep(op, probes, decoded[col])
        keep = m if keep is None else keep & m
    return decoded, keep


def _selected_rows(row_sel, n: int) -> np.ndarray:
    """Partition row ids a decode over ``row_sel`` returns, in order
    (all ``n`` rows when ``row_sel`` is None)."""
    if row_sel is None:
        return np.arange(n, dtype=np.int64)
    r = np.asarray(row_sel, dtype=np.int64).reshape(-1, 2)
    lens = r[:, 1] - r[:, 0]
    return np.repeat(r[:, 0] - np.cumsum(lens) + lens, lens) + np.arange(lens.sum())


def _runs(ids: np.ndarray) -> np.ndarray:
    """Ascending row ids -> (k, 2) ``[lo, hi)`` runs of consecutive ids."""
    brk = np.flatnonzero(np.diff(ids) != 1) + 1
    lo = ids[np.concatenate([[0], brk])]
    hi = ids[np.concatenate([brk - 1, [len(ids) - 1]])] + 1
    return np.stack([lo, hi], axis=1)


def missing_column_rows(enc_dir: str, pid: int, missing: set[str]) -> int:
    """Validate that the ``missing`` selected columns were never written
    to partition ``pid`` (schema evolution: the column was added after
    this partition committed, or the appended batch omitted it) rather
    than lost (corruption: the manifest has the row but the chunk is
    gone), and return the partition's row count for null-filling."""
    rows = mf.read_partition_manifest(enc_dir, pid)
    lost = missing & {r["column"] for r in rows}
    if lost:
        raise ValueError(
            f"column(s) {sorted(lost)} present in the manifest but missing "
            f"from partition file part-{pid:05d}.bin (corrupt or truncated file)"
        )
    return rows[0]["num_rows"] if rows else 0


def decode_blobs_to_batch(
    blobs: dict,
    cols: list[str],
    nested_cols: set[str],
    logicals: dict[str, str],
    prune: list[tuple] | None,
    arrow_types: "dict | None" = None,
    fallback_rows: int | None = None,
    delete_pos: "np.ndarray | None" = None,
    eq_deletes: "list[tuple] | None" = None,
) -> "pa.RecordBatch | None":
    """Decode one partition's column blobs into a row-aligned Arrow
    batch. ``prune`` narrows the rows in two tiers: the page tier
    (``_surviving_ranges``) seeks past pages whose stats exclude a
    predicate, then the row tier (``_prove_rows``) decodes each
    predicate column over the surviving pages and keeps only the rows
    no predicate provably excludes; every other column then decodes
    just the pages holding a surviving row. None when every row is
    pruned or the partition is empty. Selected columns absent from
    ``blobs`` (schema evolution) are filled with typed nulls
    (``arrow_types``);
    ``fallback_rows`` supplies the row count when NO selected column is
    present in the partition. ``delete_pos`` (sorted int64 row ordinals
    within the partition, merge-on-read sidecars) drops those rows from
    the decoded batch — positions are partition-global, so they compose
    with page-seek decode via the surviving row ranges. ``eq_deletes``
    ([(column, values), ...], equality sidecars scoped to this
    partition) drops rows whose column value is in the set; the key
    column rides along in the decode even when unselected (same
    mechanism as predicate columns) and is trimmed from the result."""
    cols_in = list(cols)
    if eq_deletes:
        cols = cols_in + [c for c, _ in eq_deletes if c not in cols_in]
        # dedupe, order-stable
        cols = list(dict.fromkeys(cols))
    row_sel = None
    pre: dict = {}
    proven = None  # row-tier mask over the rows ``pre`` holds
    if prune:
        ranges, total = _surviving_ranges(prune, blobs)
        if ranges is not None:
            if not ranges:
                return None  # every page of some predicate excluded
            if ranges != [(0, total)]:  # partial ⇒ page-seek decode
                row_sel = ranges
        pre, proven = _prove_rows(prune, blobs, logicals, row_sel)
        if proven is not None:
            if not proven.any():
                return None  # no row can satisfy every predicate
            if proven.all():
                proven = None
            else:
                row_sel = _runs(_selected_rows(row_sel, len(proven))[proven])
                proven = pa.array(proven)
    decoded = {}
    n_rows = None
    for c in cols:
        if c not in blobs:
            continue
        logical = logicals[c]
        if c in pre:
            # decoded by the row tier over the page ranges: trim it to
            # the surviving rows instead of decoding it again
            arr = to_arrow(pre[c])
            decoded[c] = arr if proven is None else arr.filter(proven)
        elif row_sel is not None and c in nested_cols:
            # nested containers can't seek pages; decode fully and
            # row-align with an Arrow-level take
            arr = one_chunk(to_arrow(decode_chunk(blobs[c], logical=logical)))
            decoded[c] = arr.take(pa.array(_selected_rows(row_sel, 0)))
        else:
            decoded[c] = to_arrow(decode_chunk(blobs[c], logical=logical, row_sel=row_sel))
        n_rows = len(decoded[c])
    if n_rows is None:  # projection selected only evolved-away columns
        n_rows = len(_selected_rows(row_sel, fallback_rows or 0))
    if not n_rows:
        return None
    arrays = []
    for c in cols:
        a = decoded.get(c)
        if a is None:
            if arrow_types is None or c not in arrow_types:
                raise ValueError(f"column {c!r} missing and no arrow type to null-fill")
            a = pa.nulls(n_rows, arrow_types[c])
        arrays.append(one_chunk(a))
    batch = pa.RecordBatch.from_arrays(arrays, names=list(cols))
    if delete_pos is not None and len(delete_pos):
        row_ids = _selected_rows(row_sel, n_rows)
        # delete_pos is sorted: membership via searchsorted, no hash set
        idx = np.searchsorted(delete_pos, row_ids)
        idx[idx == len(delete_pos)] = 0
        keep = delete_pos[idx] != row_ids
        if not keep.all():
            batch = batch.filter(pa.array(keep))
        if not batch.num_rows:
            return None
    if eq_deletes:
        import pyarrow.compute as pc

        for col, values in eq_deletes:
            if col not in batch.schema.names:
                continue  # column never written here (evolution): no match
            c = batch.column(col)
            try:
                vset = pa.array(values, type=c.type)
            except (pa.ArrowInvalid, pa.ArrowTypeError):
                vset = pa.array(values).cast(c.type)
            m = pc.is_in(c, value_set=vset)
            if m.null_count:
                m = pc.fill_null(m, False)  # null key never matches
            keep = pc.invert(m)
            if not pc.all(keep).as_py():
                batch = batch.filter(keep)
            if not batch.num_rows:
                return None
        if cols != cols_in:
            batch = batch.select(cols_in)
    return batch

_DDL_LOGICAL = {
    "string": "string",
    "binary": "binary",
    "timestamp": "timestamp[us]",
    "bigint": "int64",
    "int": "int32",
    "smallint": "int16",
    "tinyint": "int8",
    "double": "double",
    "float": "float",
    "boolean": "bool",
    "date": "date32[day]",
}


_DDL_ARROW = {
    "string": pa.string(),
    "binary": pa.binary(),
    "timestamp": pa.timestamp("us"),
    "timestamp_ntz": pa.timestamp("us"),
    "bigint": pa.int64(),
    "int": pa.int32(),
    "smallint": pa.int16(),
    "tinyint": pa.int8(),
    "double": pa.float64(),
    "float": pa.float32(),
    "boolean": pa.bool_(),
    "date": pa.date32(),
}


def _split_top(s: str) -> list[str]:
    """Split on commas at angle-bracket depth 0 (DDL type lists)."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(s[start:i])
            start = i + 1
    out.append(s[start:])
    return out


def arrow_type_of_ddl(ddl: str) -> "pa.DataType":
    """Spark DDL type string -> pyarrow type, without a JVM (the pyspark
    DDL parser needs an active session, which Python DataSource workers
    don't have). Used to null-fill evolved columns."""
    ddl = ddl.strip()
    if ddl.startswith("array<") and ddl.endswith(">"):
        return pa.list_(arrow_type_of_ddl(ddl[6:-1]))
    if ddl.startswith("map<") and ddl.endswith(">"):
        k, v = _split_top(ddl[4:-1])
        return pa.map_(arrow_type_of_ddl(k), arrow_type_of_ddl(v))
    if ddl.startswith("struct<") and ddl.endswith(">"):
        fields = []
        for part in _split_top(ddl[7:-1]):
            name, ftype = part.split(":", 1)
            fields.append(pa.field(name.strip(), arrow_type_of_ddl(ftype)))
        return pa.struct(fields)
    if ddl.startswith("decimal(") and ddl.endswith(")"):
        p, s = ddl[len("decimal(") : -1].split(",")
        return pa.decimal128(int(p), int(s))
    if ddl not in _DDL_ARROW:
        raise ValueError(f"unsupported DDL type for null fill: {ddl!r}")
    return _DDL_ARROW[ddl]


def logical_of_ddl(ddl: str) -> str:
    """Spark DDL type string -> the engine's logical-type tag."""
    ddl = ddl.strip()
    if ddl.startswith("array<") and ddl.endswith(">"):
        return f"list<{logical_of_ddl(ddl[6:-1])}>"
    if ddl.startswith("map<") and ddl.endswith(">"):
        return ddl  # only the map< prefix matters; entries self-describe
    if ddl.startswith("struct<"):
        return "struct"  # PGSS container stores field names + logicals
    if ddl.startswith("decimal(") and ddl.endswith(")"):
        return "decimal128(" + ddl[len("decimal(") :]
    return _DDL_LOGICAL.get(ddl, "binary")


def binary_value_view(arr: "pa.Array", i: int) -> "pa.Buffer":
    """Zero-copy ``pa.Buffer`` view of ``arr[i]`` for a (large_)binary
    array. ``arr[i].as_buffer()`` (and ``.as_py()``) materialize a COPY
    of the value in this pyarrow — a full extra memcpy of every
    partition file per decode task, doubling peak task RSS on
    production-sized partitions. Slicing the data buffer through the
    offsets buffer views the batch's own memory; the buffer's parent
    refcount keeps it alive for every chunk view decode hands out."""
    off_buf, data_buf = arr.buffers()[1], arr.buffers()[2]
    dt = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    width = np.dtype(dt).itemsize
    offs = np.frombuffer(off_buf, dt, len(arr) + 1, arr.offset * width)
    return data_buf.slice(int(offs[i]), int(offs[i + 1] - offs[i]))


def decode_table(
    spark: SparkSession,
    enc_dir: str,
    columns: list[str] | None = None,
    validate_crc: bool = False,
    prune: list[tuple] | None = None,
    as_of: "int | str | None" = None,
    pids: set[int] | None = None,
) -> DataFrame:
    """Decode an encoded table directory back into a DataFrame.

    ``as_of`` time-travels: read only the partitions pinned by snapshot
    ``seq`` (``manifest.snapshot_partitions``) — the table exactly as it
    stood when that snapshot was committed, regardless of appends since.
    A non-int ``as_of`` (ISO-8601 string, datetime, or epoch seconds as
    float) resolves to the snapshot current at that instant first —
    Iceberg ``TIMESTAMP AS OF`` (``manifest.seq_as_of_timestamp``).

    ``pids`` restricts the read to an explicit partition-id subset
    (intersected with the ``as_of`` pin when both are given) — the
    planner hook ``read_changes`` uses for incremental snapshot-diff
    scans. Delete sidecars still apply per the ``as_of`` version.

    ``validate_crc=True`` checks each selected chunk's CRC32 against the
    partition manifest before decoding (reference ``WithCRC32Validation``,
    ``file_reader.go:134-139`` / ``chunk_reader.go:173-177``).

    ``prune`` = [(column, op, value), ...] with op in {"==", "<=", ">=",
    "in", "notnull"} ("in" takes a tuple of values and survives when any
    value might be present; "notnull" drops all-null chunks/pages/rows)
    narrows the read in four tiers:

    1. manifest min/max: partitions whose bounds provably exclude the
       predicate are never read (the stats-pruning the reference writes
       stats for but never uses, ``README.md:47``);
    2. bloom / dictionary: equality probes consult the per-chunk bloom
       filter (``bloom_columns``) and, for ``rle_dict`` chunks, the
       dictionary itself — the point-lookup path for keys whose min/max
       spans every partition (urls);
    3. page stats (``page_stats=True``): the predicate column's page
       index (header walk, no decompression) yields the surviving row
       ranges;
    4. rows: inside the task each predicate's own column is decoded over
       those ranges and a per-row keep mask is built; every other
       selected column then decodes only the pages holding a surviving
       row, and the batch carries only the surviving rows.

    The row tier is the page tier applied to one-row pages: a row is
    dropped only when ``_page_excludes`` would exclude a page whose min
    and max are both that row's value (NaN values and probes never
    prove, a null row drops only under "notnull"). Probes whose Python
    type does not match the column, and bool, decimal and nested
    columns, give no row proof. Pruning is conservative throughout;
    the caller still applies the exact filter for what the tiers cannot
    prove."""
    if as_of is not None and not isinstance(as_of, int):
        as_of = mf.seq_as_of_timestamp(enc_dir, as_of)
    fields = mf.read_table_schema(enc_dir)
    by_name = {f["name"]: f for f in fields}
    cols = columns or [f["name"] for f in fields]
    out_ddl = ", ".join(f"`{c}` {by_name[c]['ddl']}" for c in cols)
    import glob as _glob

    paths = sorted(_glob.glob(f"{enc_dir}/part-*.bin"))
    pinned = mf.snapshot_partitions(enc_dir, as_of) if as_of is not None else None
    if pids is not None:
        pinned = set(pids) if pinned is None else (pinned & set(pids))
    if prune:
        keep = {
            f"part-{pid:05d}.bin"
            for pid in surviving_partitions(enc_dir, prune, within=pinned)
        }
    elif pinned is not None:
        keep = {f"part-{pid:05d}.bin" for pid in pinned}
    else:
        keep = None
    if keep is not None:
        import os as _os

        paths = [p for p in paths if _os.path.basename(p) in keep]
    if not paths:
        # empty input (zero-task encode) or everything pruned
        return empty_frame(spark, out_ddl)
    files = spark.read.format("binaryFile").load(paths).select("path", "content")

    # merge-on-read delete sidecars: the apply set is pinned by the
    # snapshot under time travel (a version before a MOR delete still
    # reads the rows), else every sidecar on disk. Planned on the driver
    # so every task applies the same consistent set.
    del_names = (
        mf.snapshot_delete_files(enc_dir, as_of)
        if as_of is not None
        else mf.list_delete_files(enc_dir)
    )
    del_by_pid: dict[int, list[str]] = {}
    for name in del_names:
        del_by_pid.setdefault(int(name[len("del-") : len("del-") + 5]), []).append(name)
    # time travel pins the apply set: an older-epoch/missing pinned
    # sidecar must RAISE 'invalidated' (the rewrite baked in more than
    # this version's deletes), never silently serve post-rewrite bytes
    pin_deletes = as_of is not None
    eq_names = (
        mf.snapshot_eq_delete_files(enc_dir, as_of)
        if as_of is not None
        else mf.list_eq_delete_files(enc_dir)
    )
    eq_by_pid = mf.eq_deletes_by_pid(enc_dir, eq_names) if eq_names else {}
    # equality-delete key columns ride along in the decode (and in the
    # type maps) even when unselected, like predicate columns
    eq_cols = {c for specs in eq_by_pid.values() for c, _ in specs if c in by_name}

    typed = list(dict.fromkeys(list(cols) + sorted(eq_cols)))
    nested_cols = {
        c for c in typed if by_name[c]["ddl"].strip().startswith(("array<", "map<", "struct<"))
    }
    logicals = {c: logical_of_ddl(by_name[c]["ddl"]) for c in typed}
    arrow_types = {}
    for c in typed:
        try:
            arrow_types[c] = arrow_type_of_ddl(by_name[c]["ddl"])
        except ValueError:
            # only matters if this column actually needs a null fill;
            # decode_blobs_to_batch errors then, not here
            continue

    def decode_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import os as _os
        import zlib as _zlib

        # predicate columns ride along so the page and row tiers can read
        # them even when not selected
        want = set(cols) | ({p[0] for p in prune} if prune else set())
        for b in batches:
            content_arr = b.column("content")
            for i, path in enumerate(b.column("path")):
                name = _os.path.basename(path.as_py())
                pid = int(name[len("part-") : -len(".bin")])
                eq_specs = eq_by_pid.get(pid)
                want_here = (
                    want | {c for c, _ in eq_specs if c in by_name} if eq_specs else want
                )
                payload = binary_value_view(content_arr, i)
                blobs = parse_partition_file(payload, want_here)
                dpos = (
                    mf.delete_positions(
                        enc_dir,
                        pid,
                        files=del_by_pid[pid],
                        # epoch of the bytes THIS task holds: sidecars
                        # from before an in-place rewrite are skipped
                        # with proof, never applied to compacted rows —
                        # except under time travel, where an older-epoch
                        # pinned sidecar means the version is gone: raise
                        file_epoch=partition_file_epoch(payload),
                        pinned=pin_deletes,
                    )
                    if pid in del_by_pid
                    else None
                )
                missing = set(cols) - set(blobs)
                fallback = None
                if missing:
                    # schema evolution (never written here → null fill)
                    # vs corruption (manifest row exists → raise)
                    fallback = missing_column_rows(enc_dir, pid, missing)
                if not blobs and not missing:
                    continue
                if validate_crc:
                    crc_of = {
                        r["column"]: r["crc32"] for r in mf.read_partition_manifest(enc_dir, pid)
                    }
                    # every decoded chunk validates — including eq-delete
                    # key columns that ride along beyond the selection
                    # (want_here): a bit-flipped key chunk would delete
                    # the wrong rows, the exact class this flag catches
                    for c in sorted(want_here & set(blobs)):
                        if c not in crc_of:
                            raise ValueError(
                                f"manifest for {name} has no CRC row for column {c}: "
                                "cannot validate (truncated or partial manifest)"
                            )
                        got = _zlib.crc32(blobs[c])
                        if got != crc_of[c]:
                            raise ValueError(
                                f"crc mismatch for column {c} in {name}: "
                                f"{got:#x} != manifest {crc_of[c]:#x}"
                            )
                batch = decode_blobs_to_batch(
                    blobs,
                    cols,
                    nested_cols,
                    logicals,
                    prune,
                    arrow_types=arrow_types,
                    fallback_rows=fallback,
                    delete_pos=dpos,
                    eq_deletes=eq_specs,
                )
                if batch is not None:
                    yield batch

    return files.mapInArrow(decode_partition, schema=out_ddl)


def read_changes(
    spark: SparkSession,
    enc_dir: str,
    from_seq: int,
    to_seq: int | None = None,
    columns: list[str] | None = None,
    prune: list[tuple] | None = None,
) -> DataFrame:
    """Incremental snapshot-diff read (Iceberg incremental append scan):
    the rows in partitions committed AFTER snapshot ``from_seq`` and AT
    OR BEFORE ``to_seq`` (default: the latest snapshot), as visible at
    ``to_seq`` — i.e. ``to_seq``'s positional/equality delete sidecars
    apply, so a row appended and then MOR-deleted inside the window is
    not reported. This is the batch complement of the ``pgs`` streaming
    source (which tails committed partitions): a downstream consumer
    polls ``read_changes(last_seen, latest)`` instead of rescanning.

    Append-only semantics: only ADDED rows are reported. Rows removed
    between the versions by in-place rewrites (COW delete / merge /
    rollback) tombstone the snapshots whose partitions they rewrote, so
    ``from_seq``/``to_seq`` raise 'invalidated' instead of silently
    misrepresenting the diff — the same contract as ``as_of``. One
    driver-side metadata op plans the scan; each fresh partition is one
    task (no data read outside the diff)."""
    snaps = mf.read_snapshots(enc_dir)
    if to_seq is None:
        if not snaps:
            raise ValueError(f"no snapshots at {enc_dir}: nothing to diff")
        to_seq = snaps[-1]["seq"]
    if from_seq == to_seq:
        new_pids: set[int] = set()
    else:
        if from_seq > to_seq:
            raise ValueError(f"from_seq={from_seq} is after to_seq={to_seq}")
        new_pids = mf.snapshot_partitions(enc_dir, to_seq) - mf.snapshot_partitions(
            enc_dir, from_seq
        )
    return decode_table(
        spark, enc_dir, columns=columns, prune=prune, as_of=to_seq, pids=new_pids
    )
