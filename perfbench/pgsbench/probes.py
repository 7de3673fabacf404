"""Single-process layer probes: the package's public functions called
directly on one core, timed by the benchmark.

* ``read_table`` decodes every chunk of an encoded table the way a
  decode task does (``decode_chunk`` then ``to_arrow``).
* ``core_layers`` / ``kernel_layers`` time ``core.columns``,
  ``core.selector``, ``core.chunk`` and each codec on one partition.
* ``replay_native`` / ``replay_parquet`` replay the lookup mix through
  the native prune planner and through the real-Parquet path
  (``compat`` writer, reader and page index, ``parquet_source``
  planner), counting what each tier read.

``parquet_interop`` is the one probe that runs Spark jobs: it writes the
input as real Parquet through ``spark.parquet_sink`` and runs the lookup
mix through ``spark.parquet_source.read_parquet_table``; the files it
writes are the ones ``replay_parquet`` reads.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

import numpy as np
import pyarrow as pa

from .tracing import Tracer

# codecs each physical type can be forced to (the selector's candidate
# families); regret compares the chosen codec against all of them
APPLICABLE = {
    "bytes": ("plain", "rle_dict", "delta_length", "delta_bytes", "fsst", "zdict"),
    "int64": ("plain", "rle_dict", "delta_bp", "for_bp", "bss"),
    "int32": ("plain", "rle_dict", "delta_bp", "for_bp", "bss"),
    "double": ("plain", "rle_dict", "bss", "alp"),
    "bool": ("plain", "rle_bool"),
}
PAGES_CODECS = ("plain", "rle_dict", "delta_bp", "for_bp", "bss", "delta_length", "delta_bytes", "fsst", "zdict")
LINEITEM_CODECS = ("alp", "rle_bool")
REPS = 3
# rows per codec probe: enough for steady MB/s, small enough that the
# slowest kernels (fsst, rle_bool) stay well under a second per pass
KERNEL_ROWS = 1000
# real Parquet written by parquet_interop, under the run's work directory
PARQUET_DIR = "parquet"


def _timed(fn, reps: int = REPS) -> tuple[float, object]:
    """(median wall seconds over ``reps`` calls, last result)."""
    walls, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls), out


def read_table(enc_dir: str) -> list[pa.Table]:
    """One Arrow table per partition, decoding every chunk."""
    from parquet_go_spark.core.chunk import decode_chunk
    from parquet_go_spark.core.columns import to_arrow
    from parquet_go_spark.spark import manifest as mf
    from parquet_go_spark.spark.decode_job import logical_of_ddl
    from parquet_go_spark.spark.encode_job import parse_partition_file

    fields = mf.read_table_schema(enc_dir)
    tables = []
    for path in sorted(glob.glob(os.path.join(enc_dir, "part-*.bin"))):
        with open(path, "rb") as fh:
            blobs = parse_partition_file(fh.read())
        arrays = [to_arrow(decode_chunk(blobs[f["name"]], logical_of_ddl(f["ddl"]))) for f in fields]
        tables.append(pa.Table.from_arrays(arrays, names=[f["name"] for f in fields]))
    return tables


# ------------------------------------------------------------ core layers
def core_layers(table: pa.Table, compression: str, work_dir: str) -> dict[str, float]:
    """``core.*`` and the per-partition ``spark.encode_job`` /
    ``spark.manifest`` spans on one partition, single core."""
    from parquet_go_spark.core import chunk
    from parquet_go_spark.core.columns import from_arrow, to_arrow
    from parquet_go_spark.core.selector import choose_encoding
    from parquet_go_spark.spark.encode_job import encode_columns_to_partition

    out: dict[str, float] = {}
    names = table.column_names
    t_from, cols = _timed(lambda: {n: from_arrow(table.column(n)) for n in names})
    out["core.columns.from_arrow_ms"] = t_from * 1e3
    select_total = encode_total = to_arrow_total = 0.0
    compress_per_column: list[float] = []
    tracer = Tracer()
    tracer.patch("parquet_go_spark.core.chunk", "_compress", "core.chunk.compress")
    try:
        for n in names:
            col = cols[n]
            t_sel, _ = _timed(lambda: choose_encoding(col, compression))
            mark = len(tracer.spans)
            t_enc, (blob, meta) = _timed(lambda: chunk.encode_chunk(col, compression=compression))
            compress_per_column.append(sum(s.end - s.start for s in tracer.spans[mark:]) / REPS)
            t_dec, dec = _timed(lambda: chunk.decode_chunk(blob, col.logical))
            t_to, _ = _timed(lambda: to_arrow(dec))
            out[f"core.selector.select_ms.{n}"] = t_sel * 1e3
            out[f"core.chunk.encode_ms.{n}"] = t_enc * 1e3
            out[f"core.chunk.decode_ms.{n}"] = t_dec * 1e3
            best = min(
                len(chunk.encode_chunk(col, compression=compression, encoding=e)[0])
                for e in APPLICABLE[col.ptype]
                if e != "rle_dict" or meta.distinct <= chunk.DICT_MAX
            )
            out[f"core.selector.regret.{n}"] = meta.encoded_bytes / best
            select_total += t_sel
            encode_total += t_enc
            to_arrow_total += t_to
    finally:
        tracer.restore()
    out["core.columns.to_arrow_ms"] = to_arrow_total * 1e3
    out["core.selector.share"] = select_total / encode_total
    out["core.chunk.compress_ms"] = sum(compress_per_column) * 1e3

    # one partition through the encode task's own entry point, with the
    # manifest commit it makes timed as a child span
    tracer = Tracer()
    tracer.patch("parquet_go_spark.spark.manifest", "commit_partition", "spark.manifest.commit")
    part_dir = os.path.join(work_dir, "probe_partition")
    os.makedirs(part_dir, exist_ok=True)
    try:
        t_write, _ = _timed(
            lambda: encode_columns_to_partition(table, names, part_dir, 0, compression=compression)
        )
    finally:
        tracer.restore()
    commits = [s.end - s.start for s in tracer.named("spark.manifest.commit")]
    out["spark.encode_job.write_partition_ms"] = t_write * 1e3
    out["spark.manifest.commit_ms"] = statistics.median(commits) * 1e3
    return out


def lineitem_columns(seed: int, rows: int) -> dict[str, pa.Array]:
    """TPC-H lineitem-shaped columns (dbgen's price formula): decimal
    doubles for ALP and a return-flag boolean for RLE."""
    rng = np.random.default_rng(seed)
    partkey = rng.integers(1, 20_000, rows)
    retail = (90_000 + (partkey // 10) % 20_001 + 100 * (partkey % 1_000)) / 100
    qty = rng.integers(1, 51, rows)
    return {
        "l_extendedprice": pa.array(np.round(qty * retail, 2)),
        "l_discount": pa.array(rng.integers(0, 11, rows) / 100),
        "l_tax": pa.array(rng.integers(0, 9, rows) / 100),
        "l_returnflag_r": pa.array(rng.random(rows) < 0.25),
    }


def kernel_layers(table: pa.Table, lineitem: dict[str, pa.Array]) -> dict[str, float]:
    """``kernels.<codec>.encode_mbps`` / ``decode_mbps``: each codec
    forced through ``encode_chunk`` / ``decode_chunk`` with no block
    compression, over the columns whose type it applies to. The chunk
    framing (levels, min/max, CRC) is the same for every codec."""
    from parquet_go_spark.core.chunk import decode_chunk, encode_chunk
    from parquet_go_spark.core.columns import from_arrow

    table = table.slice(0, KERNEL_ROWS)
    pages = {n: from_arrow(table.column(n)) for n in table.column_names}
    items = {n: from_arrow(a.slice(0, KERNEL_ROWS)) for n, a in lineitem.items()}
    out: dict[str, float] = {}
    for codec in PAGES_CODECS + LINEITEM_CODECS:
        pool = pages if codec in PAGES_CODECS else items
        cols = [c for c in pool.values() if codec in APPLICABLE[c.ptype]]
        raw = sum(c.raw_bytes for c in cols)
        t_enc, blobs = _timed(lambda: [encode_chunk(c, encoding=codec)[0] for c in cols])
        t_dec, _ = _timed(lambda: [decode_chunk(b, c.logical) for b, c in zip(blobs, cols)])
        out[f"kernels.{codec}.encode_mbps"] = raw / 1e6 / t_enc
        out[f"kernels.{codec}.decode_mbps"] = raw / 1e6 / t_dec
    return out


# ---------------------------------------------------------- query replay
def _page_counts(result, args, kwargs) -> dict:
    """Pages a ``decode_chunk`` call decoded, out of the chunk's pages:
    with ``row_sel`` only pages overlapping a selected row range."""
    from parquet_go_spark.core.chunk import chunk_page_index

    pidx = chunk_page_index(args[0])
    row_sel = kwargs.get("row_sel", args[2] if len(args) > 2 else None)
    if pidx is None:
        return {"pages": 1, "pages_read": 1}
    read = sum(
        1
        for p in pidx
        if row_sel is None or any(lo < p["row_hi"] and hi > p["row_lo"] for lo, hi in row_sel)
    )
    return {"pages": len(pidx), "pages_read": read}


def replay_native(enc_dir: str, ctx) -> dict[str, float]:
    """The lookup mix through ``decode_job``'s planner and partition
    decoder, one query at a time, each answer checked by ``ctx``."""
    from parquet_go_spark.spark import manifest as mf
    from parquet_go_spark.spark import decode_job as dj
    from parquet_go_spark.spark.encode_job import parse_partition_file

    fields = mf.read_table_schema(enc_dir)
    cols = [f["name"] for f in fields]
    logicals = {f["name"]: dj.logical_of_ddl(f["ddl"]) for f in fields}
    arrow_types = {f["name"]: dj.arrow_type_of_ddl(f["ddl"]) for f in fields}
    total_parts = len(mf.committed_partitions(enc_dir))
    tracer = Tracer()
    tracer.patch("parquet_go_spark.core.chunk", "decode_chunk", "core.chunk.decode", _page_counts)
    plans, read, useful = [], 0, 0
    try:
        for q in ctx.queries:
            prune = [tuple(p) for p in q.prune]
            t0 = time.perf_counter()
            pids = dj.surviving_partitions(enc_dir, prune)
            plans.append(time.perf_counter() - t0)
            read += len(pids)
            batches = []
            for pid in pids:
                with open(os.path.join(enc_dir, f"part-{pid:05d}.bin"), "rb") as fh:
                    blobs = parse_partition_file(fh.read(), set(cols))
                b = dj.decode_blobs_to_batch(blobs, cols, set(), logicals, prune, arrow_types=arrow_types)
                if b is None:
                    continue
                t = pa.Table.from_batches([b]).filter(q.arrow_mask(pa.Table.from_batches([b])))
                useful += t.num_rows > 0
                batches.append(t)
            got = pa.concat_tables(batches) if batches else None
            ctx.record(ctx.check_answer(q, got), f"native replay of query {q.qid}")
    finally:
        tracer.restore()
    dec = tracer.named("core.chunk.decode")
    pages = sum(s.counts["pages"] for s in dec)
    return {
        "spark.decode_job.plan_ms": statistics.median(plans) * 1e3,
        "spark.decode_job.partitions_read_ratio": read / (total_parts * len(ctx.queries)),
        "spark.decode_job.useful_read_ratio": useful / read if read else 0.0,
        "core.chunk.pages_read_ratio": sum(s.counts["pages_read"] for s in dec) / pages if pages else 0.0,
    }


def parquet_interop(ctx, compression: str) -> dict[str, float]:
    """Write the input as real Parquet with ``encode_table_parquet``
    (one file per partition, PageIndex and a url bloom filter) and check
    that pyarrow opens every file with the manifest's row count; then run
    the lookup mix through ``read_parquet_table(prune=...)`` plus the
    exact filter, each answer checked by ``ctx``."""
    import pyarrow.parquet as pq

    from parquet_go_spark.spark.parquet_sink import encode_table_parquet
    from parquet_go_spark.spark.parquet_source import read_parquet_table

    out_dir = os.path.join(ctx.work, PARQUET_DIR)
    t0 = time.perf_counter()
    man = encode_table_parquet(
        ctx.src,
        out_dir,
        partitions=ctx.partitions,
        compression=compression,
        page_index=True,
        bloom_columns=["url"],
    ).collect()
    write_s = time.perf_counter() - t0
    rows = {r["file"]: r["num_rows"] for r in man}
    ctx.record(sum(rows.values()) == ctx.rows, "parquet sink manifest row total")
    for path, n in sorted(rows.items()):
        ctx.record(pq.ParquetFile(path).metadata.num_rows == n, f"pyarrow row count of {path}")
    walls = []
    for q in ctx.queries:
        t0 = time.perf_counter()
        df = read_parquet_table(ctx.spark, out_dir, prune=[tuple(p) for p in q.prune])
        got = df.where(q.spark_filter()).toArrow()
        walls.append(time.perf_counter() - t0)
        ctx.record(ctx.check_answer(q, got), f"read_parquet_table answer of query {q.qid}")
    return {
        "spark.parquet_sink.write_ms": write_s * 1e3,
        "spark.parquet_source.query_ms": statistics.median(walls) * 1e3,
    }


def replay_parquet(tables: list[pa.Table], compression: str, ctx) -> dict[str, float]:
    """Time ``write_parquet`` on the table's partitions (PageIndex, url
    bloom filter), then replay the lookup mix over the files
    ``parquet_interop`` wrote, through ``parquet_source``'s planner and
    the ``compat`` page-index reader."""
    import mmap

    import pyarrow.parquet as pq

    from parquet_go_spark.compat.page_index import page_prune_ranges
    from parquet_go_spark.compat.parquet_reader import file_meta, read_table_arrow
    from parquet_go_spark.compat.parquet_writer import write_parquet
    from parquet_go_spark.spark.parquet_source import plan_scan_tasks

    write_s = 0.0
    for t in tables:
        t0 = time.perf_counter()
        write_parquet(t, compression=compression, page_index=True, bloom_columns=["url"])
        write_s += time.perf_counter() - t0
    files = sorted(glob.glob(os.path.join(ctx.work, PARQUET_DIR, "*.parquet")))
    total_rgs = sum(pq.ParquetFile(f).metadata.num_row_groups for f in files)
    cols = tables[0].column_names
    plans, reads, planned, useful = [], [], 0, 0
    for q in ctx.queries:
        prune = [tuple(p) for p in q.prune]
        t0 = time.perf_counter()
        tasks = plan_scan_tasks(files, prune)
        plans.append(time.perf_counter() - t0)
        planned += len(tasks)
        parts = []
        t0 = time.perf_counter()
        for path, rg in tasks:
            with open(path, "rb") as fh, mmap.mmap(fh.fileno(), 0, access=mmap.ACCESS_READ) as mm:
                ranges = page_prune_ranges(mm, file_meta(mm), rg, prune)
                t = read_table_arrow(mm, columns=cols, row_groups=[rg], row_ranges=ranges)
            t = t.filter(q.arrow_mask(t))
            useful += t.num_rows > 0
            parts.append(t)
        reads.append(time.perf_counter() - t0)
        got = pa.concat_tables(parts) if parts else None
        ctx.record(ctx.check_answer(q, got), f"parquet replay of query {q.qid}")
    return {
        "compat.parquet_writer.write_ms": write_s * 1e3,
        "compat.parquet_reader.read_ms": statistics.median(reads) * 1e3,
        "spark.parquet_source.plan_ms": statistics.median(plans) * 1e3,
        "spark.parquet_source.row_groups_read_ratio": planned / (total_rgs * len(ctx.queries)),
        "spark.parquet_source.useful_read_ratio": useful / planned if planned else 0.0,
    }
