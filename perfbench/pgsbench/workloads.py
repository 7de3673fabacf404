"""The benchmark's workloads. Each is a closed loop with one client: the
next operation starts when the previous one has returned and its output
has been checked.

A workload has three phases, all driven by ``runner.run``:

* ``setup(rep)`` — the engine work the timed loop needs (encoding the
  table it reads, or the reference encode ingest is compared with).
  The runner repeats it and reports the median as ``setup_s``.
* ``op(i)`` — operation ``i``; returns its wall time (the check of
  its answer excluded) and whether the answer was right.
* ``finish(walls)`` — metrics from the timed operations' walls and from
  the table the workload wrote or read. Every workload ends by scanning
  that table in full with ``decode_table`` (``decode_gbps``) and checking
  the decoded rows against the input.
"""

from __future__ import annotations

import os
import shutil
import time

from .common import median, spark_digest
from .queries import MIX

COMPRESSION = "snappy"
SCANS = 7
# the lookup table: range layout on warc_ts, page statistics, url bloom
LOOKUP_LAYOUT = {"key_col": "warc_ts", "layout": "range", "page_stats": True, "bloom_columns": ["url"]}


class Workload:
    name = ""
    # a run ends on a multiple of this many ops, so every run samples
    # the same mix of operation kinds
    cycle = 1

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.setup_walls: list[float] = []
        self.table_dir: str | None = None
        self.table_bytes = (0, 0)  # (raw, encoded) of table_dir
        self.ref_bytes: int | None = None

    def _encode(self, out_dir: str, **kw) -> tuple[float, list]:
        from parquet_go_spark.spark.encode_job import encode_table

        t0 = time.perf_counter()
        man = encode_table(
            self.ctx.src, out_dir, partitions=self.ctx.partitions, compression=COMPRESSION, **kw
        ).collect()
        return time.perf_counter() - t0, man

    def _reference(self, rep: int, **layout) -> float:
        """Encode the input with ``profile="reference"`` and the given
        layout; ``ref_bytes`` is its encoded size, the denominator of
        ``size_vs_reference``. Returns the encode's wall."""
        wall, man = self._encode(self._rep_dir("reference", rep), profile="reference", **layout)
        ref = self._bytes(man)[1]
        self.ctx.record(self._rows_ok(man) and self.ref_bytes in (None, ref), "reference encode")
        self.ref_bytes = ref
        return wall

    @staticmethod
    def _bytes(man) -> tuple[int, int]:
        return sum(r["raw_bytes"] for r in man), sum(r["encoded_bytes"] for r in man)

    def _rep_dir(self, kind: str, rep: int) -> str:
        prev = os.path.join(self.ctx.work, f"{kind}-{rep - 1}")
        shutil.rmtree(prev, ignore_errors=True)
        return os.path.join(self.ctx.work, f"{kind}-{rep}")

    def _rows_ok(self, man) -> bool:
        """Every column's manifest row total equals the input rows."""
        per_col: dict[str, int] = {}
        for r in man:
            per_col[r["column"]] = per_col.get(r["column"], 0) + r["num_rows"]
        return sorted(per_col) == sorted(self.ctx.columns) and set(per_col.values()) == {self.ctx.rows}

    def scan(self) -> float:
        """Median wall of ``SCANS`` full ``decode_table`` reads of
        ``table_dir`` into the noop sink, after one untimed read that
        warms the decode path (ingest's loop never decodes). Then the
        decoded rows, digested in Spark, must equal the input's digest."""
        from parquet_go_spark.spark.decode_job import decode_table

        spark = self.ctx.spark
        walls = []
        for _ in range(SCANS + 1):
            t0 = time.perf_counter()
            decode_table(spark, self.table_dir).write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t0)
        got = spark_digest(decode_table(spark, self.table_dir), self.ctx.columns)
        self.ctx.record(got == self.ctx.input_digest, "decoded-rows digest")
        return median(walls[1:])

    def setup(self, rep: int) -> None:
        raise NotImplementedError

    def op(self, i: int) -> tuple[float, bool]:
        raise NotImplementedError

    def finish(self, walls: list[float]) -> dict[str, float]:
        raise NotImplementedError


class Ingest(Workload):
    name = "ingest"

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.first_crcs = None

    def setup(self, rep: int) -> None:
        self.setup_walls.append(self._reference(rep, key_col="url"))

    def op(self, i: int) -> tuple[float, bool]:
        out = self._rep_dir("encode", i)
        wall, man = self._encode(out, key_col="url", profile="auto")
        self.table_bytes = self._bytes(man)
        crcs = sorted((r["partition"], r["column"], r["crc32"]) for r in man)
        if self.first_crcs is None:
            self.first_crcs = crcs
        self.table_dir = out
        # same seed, same bytes: every encode of the input is identical
        return wall, self._rows_ok(man) and crcs == self.first_crcs

    def finish(self, walls: list[float]) -> dict[str, float]:
        raw, enc = self.table_bytes
        return {
            "encode_gbps": raw / 1e9 / median(walls),
            "decode_gbps": raw / 1e9 / self.scan(),
            "stored_bytes_per_raw_byte": enc / raw,
            "size_vs_reference": enc / self.ref_bytes,
        }


class Lookup(Workload):
    name = "lookup"
    cycle = len(MIX)

    def setup(self, rep: int) -> None:
        out = self._rep_dir("lookup", rep)
        wall, man = self._encode(out, profile="auto", **LOOKUP_LAYOUT)
        self.setup_walls.append(wall)
        self.ctx.record(self._rows_ok(man), "lookup table encode")
        self.table_dir = out
        self.table_bytes = self._bytes(man)

    def op(self, i: int) -> tuple[float, bool]:
        from parquet_go_spark.spark.decode_job import decode_table

        q = self.ctx.queries[i % len(self.ctx.queries)]
        t0 = time.perf_counter()
        df = decode_table(self.ctx.spark, self.table_dir, prune=[tuple(p) for p in q.prune])
        got = df.where(q.spark_filter()).toArrow()
        return time.perf_counter() - t0, self.ctx.check_answer(q, got)

    def finish(self, walls: list[float]) -> dict[str, float]:
        raw, enc = self.table_bytes
        # the same layout encoded with the reference's decision, untimed
        self._reference(0, **LOOKUP_LAYOUT)
        return {
            # the table's encodes: the median of the set-up reps
            "encode_gbps": raw / 1e9 / median(self.setup_walls),
            "decode_gbps": raw / 1e9 / self.scan(),
            "stored_bytes_per_raw_byte": enc / raw,
            "size_vs_reference": enc / self.ref_bytes,
        }


WORKLOADS = {w.name: w for w in (Ingest, Lookup)}
