"""Distributed real-Parquet source: scan a directory of ``.parquet``
files written by ANY implementation (pyarrow, Spark, DuckDB, the
reference Go writer) through this engine's decode kernels.

This is the reference's read side (``file_reader.go`` NextRow /
``SeekToRowGroup``) re-expressed at cluster scale: the driver plans from
footers alone (two tail preads per file, no data pages — the analogue of
``ReadFileMetaData``, ``file_meta.go:14-74``), and each Spark task
decodes ONE ROW GROUP columnar through ``compat.parquet_reader``
(hybrid / dict / delta / BSS kernels, V1+V2 pages, 4 codecs) over an
mmap of the file — column projection means unselected chunks are never
decoded and their pages never fault in (reference ``skipChunk``,
``file_reader.go:112-130``).

Scale shape: one task per row group, no shuffle, no driver data
movement — a 100 TB table fans out to its row-group count whatever the
file sizes, so one multi-gigabyte file cannot pin a single executor.
Row-group pruning plugs in ahead of the scan via the footers'
Statistics (``plan_scan_tasks`` below), the same conservative min/max
contract as the engine's own manifest pruning.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from ..core.columns import one_chunk
from ..compat.parquet_reader import (
    field_arrow_type,
    file_meta_path,
    read_table_arrow,
    schema_tree,
)
from .session import empty_frame

__all__ = ["read_parquet_table", "parquet_scan_schema", "file_prunes"]


def _ddl_of_arrow(t: pa.DataType) -> str:
    """Arrow type -> Spark DDL. Unsigned ints widen to the next signed
    Spark type (Spark has no unsigned integers)."""
    if pa.types.is_list(t):
        return f"array<{_ddl_of_arrow(t.value_type)}>"
    if pa.types.is_map(t):
        return f"map<{_ddl_of_arrow(t.key_type)},{_ddl_of_arrow(t.item_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(f"{f.name}:{_ddl_of_arrow(f.type)}" for f in t)
        return f"struct<{inner}>"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_timestamp(t):
        return "timestamp"
    simple = {
        "string": "string",
        "binary": "binary",
        "bool": "boolean",
        "int8": "tinyint",
        "int16": "smallint",
        "int32": "int",
        "int64": "bigint",
        "uint8": "smallint",
        "uint16": "int",
        "uint32": "bigint",
        "uint64": "decimal(20,0)",
        "float": "float",
        "double": "double",
        "date32[day]": "date",
    }
    key = str(t)
    if key not in simple:
        raise ValueError(f"unsupported parquet leaf type for Spark scan: {t}")
    return simple[key]


def parquet_scan_schema(path: str) -> list[tuple[str, pa.DataType, str]]:
    """(field, arrow type, spark DDL) per top-level field of one file's
    footer, in schema order — every shape (scalar, list, struct, map,
    mixed), planned without touching data pages."""
    tree = schema_tree(file_meta_path(path))
    out = []
    for node in tree["children"]:
        at = field_arrow_type(node)
        out.append((node["name"], at, _ddl_of_arrow(at)))
    return out


def _list_files(path: str) -> list[str]:
    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    else:
        files = sorted(glob.glob(path)) if any(c in path for c in "*?[") else [path]
    if not files:
        raise FileNotFoundError(f"no parquet files under {path!r}")
    return files


def file_prunes(files: list[str], prune: list[tuple]) -> list[str]:
    """Footer-statistics file pruning: drop files whose row-group
    column Statistics (thrift field 12 of ColumnMetaData: ordered
    min_value/max_value in fields 6/5, legacy min/max in 2/1) provably
    exclude every predicate
    match. Conservative — missing stats keep the file. Footer preads
    run through a thread pool (IO-bound; order preserved)."""
    from ..compat.parquet_reader import file_meta, table_fields  # noqa: F401

    def survives(f: str) -> bool:
        return not _footer_excludes(file_meta_path(f), prune)

    if len(files) <= 1:
        flags = [survives(f) for f in files]
    else:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(32, len(files))) as ex:
            flags = list(ex.map(survives, files))
    return [f for f, ok in zip(files, flags) if ok]


def _decode_stat(raw: bytes, ptype: int):
    import struct as _s

    if raw is None:
        return None
    if ptype == 1:
        return _s.unpack("<i", raw)[0]
    if ptype == 2:
        return _s.unpack("<q", raw)[0]
    if ptype == 4:
        return _s.unpack("<f", raw)[0]
    if ptype == 5:
        return _s.unpack("<d", raw)[0]
    if ptype == 6:
        try:
            return raw.decode()
        except UnicodeDecodeError:
            return None
    return None


def _rg_chunks_by_name(rg: dict) -> dict[str, dict]:
    by_name = {}
    for ch in rg[1]:
        md = ch.get(3)
        if md is None:
            continue
        by_name[b".".join(md[3]).decode()] = md
    return by_name


def _rg_point_lookup_excluded(path: str, rg: dict, eq: list[tuple]) -> bool:
    """Point-lookup exclusion for ==/IN predicates the Statistics
    couldn't decide: probe the chunk's parquet BloomFilter
    (BloomFilter.md; probabilistic, no false negatives), then — when the
    chunk's encoding_stats prove full dictionary encoding — the
    dictionary page itself (parquet-mr DictionaryFilter semantics: the
    dict IS the exact distinct set, so a miss is proof). One bounded
    pread per probe, never a data page. Anything inconclusive keeps the
    group."""
    from ..compat.bloom_filter import bloom_probe_file
    from ..compat.dict_filter import dict_probe_file

    by_name = _rg_chunks_by_name(rg)
    for col, values in eq:
        md = by_name.get(col)
        if md is None:
            continue
        if not any(bloom_probe_file(path, md, v) for v in values):
            return True
        if not dict_probe_file(path, md, values):
            return True
    return False


def _rg_excluded(rg: dict, prune: list[tuple]) -> bool:
    """One row group provably excluded by some predicate?"""
    by_name = _rg_chunks_by_name(rg)
    for col, op, value in prune:
        md = by_name.get(col)
        if md is None or 12 not in md:
            continue
        st = md[12]
        ptype = md[1]
        if op == "notnull":
            # Statistics.null_count == value count ⇒ the chunk is all
            # null ⇒ no row satisfies IsNotNull
            if st.get(3) is not None and st[3] >= md[5]:
                return True
            continue
        if ptype == 6:
            # byte arrays: trust only the ORDERED min_value/max_value
            # (fields 6/5). Legacy min/max (2/1) were computed with
            # signed-byte ordering by old parquet-mr (PARQUET-686), so
            # range-pruning strings on them wrongly excludes row groups
            # whose values sort differently unsigned — parquet-mr's
            # CorruptStatistics rule is to ignore them, and so do we.
            mx = _decode_stat(st.get(5), ptype)
            mn = _decode_stat(st.get(6), ptype)
        else:
            mx = _decode_stat(st.get(5, st.get(1)), ptype)
            mn = _decode_stat(st.get(6, st.get(2)), ptype)
        if mn is None or mx is None:
            continue
        try:
            if op == "==" and (value < mn or value > mx):
                return True
            if op == "in" and all(v < mn or v > mx for v in value):
                return True
            if op == "<=" and mn > value:
                return True
            if op == ">=" and mx < value:
                return True
        except TypeError:
            continue
    return False


def _footer_excludes(meta: dict, prune: list[tuple]) -> bool:
    """True when EVERY row group is provably excluded by some predicate."""
    rgs = meta.get(4) or []
    if not rgs:
        return False
    return all(_rg_excluded(rg, prune) for rg in rgs)


def plan_scan_tasks(files: list[str], prune: list[tuple] | None) -> list[tuple[str, int]]:
    """(path, row_group) task list from footers alone: the scan unit is
    a ROW GROUP, not a file, so one multi-gigabyte file fans out across
    executors instead of pinning one task (reference
    ``SeekToRowGroup``, ``file_reader.go:144-155``, distributed).
    Row groups whose Statistics provably exclude the predicates are
    never planned; ==/IN predicates additionally probe any parquet
    BloomFilters the writer stored and — on fully dictionary-encoded
    chunks — the dictionary page itself (exact membership, parquet-mr
    DictionaryFilter semantics), one bounded pread each.

    Planning is IO-bound (tail preads + index probes, no CPU), so files
    plan through a thread pool: a 100k-file table's planning latency is
    max(pread latency) x files/32, not their sum. Results keep the
    files' order, so the task list stays deterministic."""
    eq = [
        (c, (v,) if op == "==" else tuple(v))
        for c, op, v in (prune or [])
        if op in ("==", "in")
    ]

    def plan_file(f: str) -> list[tuple[str, int]]:
        out = []
        meta = file_meta_path(f)
        for rgi, rg in enumerate(meta.get(4) or []):
            if prune and _rg_excluded(rg, prune):
                continue
            if eq and _rg_point_lookup_excluded(f, rg, eq):
                continue
            out.append((f, rgi))
        return out

    if len(files) <= 1:
        per_file = [plan_file(f) for f in files]
    else:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(32, len(files))) as ex:
            per_file = list(ex.map(plan_file, files))
    return [t for group in per_file for t in group]


def read_parquet_table(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    prune: list[tuple] | None = None,
) -> DataFrame:
    """Read a directory/glob/file of real Parquet into a DataFrame via
    this engine's kernels — one task per ROW GROUP, projection inside
    the task (unselected column chunks never decoded; the mmap-backed
    buffer never faults their pages in), optional footer-stats
    row-group pruning (``prune`` uses the same ``[(col, op, value)]``
    contract as ``decode_table``; conservative, re-apply the exact
    filter)."""
    files = _list_files(path)
    schema = parquet_scan_schema(files[0])
    if columns is not None:
        known = {n for n, _, _ in schema}
        missing = [c for c in columns if c not in known]
        if missing:
            raise KeyError(f"columns not in parquet schema: {missing}")
        schema = sorted(
            (s for s in schema if s[0] in set(columns)),
            key=lambda s: columns.index(s[0]),
        )
    cols = [n for n, _, _ in schema]
    out_ddl = ", ".join(f"`{n}` {ddl}" for n, _, ddl in schema)
    tasks = plan_scan_tasks(files, prune)
    if not tasks:
        return empty_frame(spark, out_ddl)
    target = {n: _spark_arrow_type(ddl) for n, _, ddl in schema}

    fdf = spark.createDataFrame(
        [(f, rg) for f, rg in tasks], "path string, rg int"
    ).repartition(min(len(tasks), 4096), "path", "rg")

    def scan(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import mmap

        from ..compat.page_index import page_prune_ranges
        from ..compat.parquet_reader import file_meta

        for b in batches:
            for p, rg in zip(b.column("path"), b.column("rg")):
                with open(p.as_py(), "rb") as fh:
                    with mmap.mmap(fh.fileno(), 0, access=mmap.ACCESS_READ) as mm:
                        ranges = None
                        if prune:
                            # page tier: the file's own PageIndex
                            # (ColumnIndex/OffsetIndex) narrows this row
                            # group to surviving PAGES — excluded pages'
                            # bytes never decompress or fault in.
                            # None = writer emitted no index: read all.
                            ranges = page_prune_ranges(
                                mm, file_meta(mm), rg.as_py(), prune
                            )
                        tbl = read_table_arrow(
                            mm,
                            columns=cols,
                            row_groups=[rg.as_py()],
                            row_ranges=ranges,
                        )
                        arrays = [
                            one_chunk(tbl.column(n)).cast(target[n]) for n in cols
                        ]
                out = pa.table(dict(zip(cols, arrays)))
                yield from out.to_batches(max_chunksize=1 << 16)

    return fdf.mapInArrow(scan, schema=out_ddl)


def _spark_arrow_type(ddl: str) -> pa.DataType:
    from .decode_job import arrow_type_of_ddl

    return arrow_type_of_ddl(ddl)
