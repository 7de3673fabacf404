"""One benchmark run: start Spark, generate the seeded input, set up the
workload, run its closed loop for the given seconds, check every output
and report the metrics.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
same set-up, then half the seconds untraced and half traced, and reports
the per-layer metrics: spans the benchmark records around the package's
public functions, the single-process layer probes, and ``spark.job.*``
from Spark's file event log."""

from __future__ import annotations

import multiprocessing
import os
import shutil
import sys
import time
import traceback
from concurrent.futures import ProcessPoolExecutor

import pyarrow as pa
from parquet_go_spark.spark.pages_table import SCHEMA, _gen_block

from . import eventlog, probes
from .common import add_digests, median, seed_window, spark_digests, table_digest, tail
from .procstat import PeakRss, cpu_jiffies, steal_share, tree_pids
from .queries import build_queries
from .tracing import Tracer, clip, union_length
from .workloads import COMPRESSION, WORKLOADS

ROWS = 64_000
SETUP_REPS = 5
WARMUP_S = 2.0
N_QUERIES = 12
CANARY_REPS = 5
# the JVM heap cap: the session's default (24g) is more than the RAM of
# a 4-core, 15 GB VM, where an uncapped run's process tree reached
# 12.6 GB resident; the cap is above what these runs use (3-4 GB)
DRIVER_HEAP = "4g"

END_TO_END = {
    "setup_s": "s",
    "encode_gbps": "GB/s",
    "decode_gbps": "GB/s",
    "query_p50_ms": "ms",
    "query_tail_ms": "ms",
    "stored_bytes_per_raw_byte": "ratio",
    "size_vs_reference": "ratio",
    "error_rate": "ratio",
    "peak_rss_mb": "MB",
}
# error_rate is 0 whenever the run is correct; the result line carries it
# as ``failed`` / ``attempted`` rather than as a gated metric
GATED = [m for m in END_TO_END if m != "error_rate"]

PAGES_COLUMNS = ("url", "warc_ts", "html", "text", "lang")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit."""
    units: dict[str, str] = {}
    for codec in probes.PAGES_CODECS + probes.LINEITEM_CODECS:
        units[f"kernels.{codec}.encode_mbps"] = "MB/s"
        units[f"kernels.{codec}.decode_mbps"] = "MB/s"
    units["core.columns.from_arrow_ms"] = "ms"
    units["core.columns.to_arrow_ms"] = "ms"
    for c in PAGES_COLUMNS:
        units[f"core.selector.select_ms.{c}"] = "ms"
    units["core.selector.share"] = "ratio"
    for c in PAGES_COLUMNS:
        units[f"core.selector.regret.{c}"] = "ratio"
    for c in PAGES_COLUMNS:
        units[f"core.chunk.encode_ms.{c}"] = "ms"
    units["core.chunk.compress_ms"] = "ms"
    for c in PAGES_COLUMNS:
        units[f"core.chunk.decode_ms.{c}"] = "ms"
    units["core.chunk.pages_read_ratio"] = "ratio"
    for m in eventlog.JOB_METRICS:
        units[f"spark.job.{m}"] = eventlog.JOB_UNITS[m]
    units["spark.encode_job.write_partition_ms"] = "ms"
    units["spark.manifest.commit_ms"] = "ms"
    units["spark.decode_job.plan_ms"] = "ms"
    units["spark.decode_job.partitions_read_ratio"] = "ratio"
    units["spark.decode_job.useful_read_ratio"] = "ratio"
    units["compat.parquet_writer.write_ms"] = "ms"
    units["compat.parquet_reader.read_ms"] = "ms"
    units["spark.parquet_source.plan_ms"] = "ms"
    units["spark.parquet_source.row_groups_read_ratio"] = "ratio"
    units["spark.parquet_source.useful_read_ratio"] = "ratio"
    units["spark.parquet_sink.write_ms"] = "ms"
    units["spark.parquet_source.query_ms"] = "ms"
    units["trace.overhead_share"] = "ratio"
    units["trace.unattributed_share"] = "ratio"
    return units


class Context:
    """What a workload needs from the run: the session, the seeded input
    and its digest, the query mix with ground truth, and the tally of
    checked operations."""

    def __init__(self, spark, work: str, rows: int, partitions: int) -> None:
        self.spark = spark
        self.work = work
        self.rows = rows
        self.partitions = partitions
        self.src = None
        self.columns: list[str] = []
        self.input_digest = (0, 0)
        self.queries: list = []
        self.truth: dict[int, tuple[int, int]] = {}
        self.attempted = 0
        self.failed = 0
        self.ops_run = 0  # across warm-up and timed loops

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"pgsbench: check failed: {what}", file=sys.stderr, flush=True)

    def check_answer(self, q, table) -> bool:
        got = table_digest(table, self.columns) if table is not None else (0, 0)
        return got == self.truth.get(q.qid, (0, 0))


def _canary() -> float:
    from bench_scaling import _noise_probe

    return median([_noise_probe() for _ in range(CANARY_REPS)])


def _start_spark(root: str, work: str, cores: int, trace: bool):
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the package and these helpers by module
    # path, whatever directory the benchmark was started from
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (here, root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    # shuffle and spill files stay inside the checkout
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_HEAP
    # no perf-data file, which the JVM would otherwise write under /tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    extra = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        extra["spark.eventLog.enabled"] = "true"
        extra["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
    from parquet_go_spark.spark.session import get_spark

    spark = get_spark(app="pgsbench", cores=cores, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM it launched (it exits when its
    stdin closes) and wait until every process the run started, the
    JVM's Python workers included, has ended."""
    from pyspark import SparkContext

    started = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while any(os.path.exists(f"/proc/{p}") for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)


INPUT_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def _write_part(path: str, lo: int, hi: int) -> tuple[int, int]:
    """Generate rows ``[lo, hi)``, write them as one Parquet file and
    return their digest."""
    import numpy as np
    import pyarrow.parquet as pq

    rows = pa.Table.from_pandas(_gen_block(np.arange(lo, hi, dtype=np.int64)), preserve_index=False)
    rows = rows.cast(INPUT_SCHEMA)
    pq.write_table(rows, path)
    return table_digest(rows)


def _write_input(pool, path: str, window: tuple[int, int], parts: int) -> list:
    """Materialize the seeded pages rows as Parquet, one file per
    partition, each generated in its own process of ``pool`` while the
    Spark JVM starts. Returns the futures of the files' digests."""
    os.makedirs(path)
    bounds = [window[0] + (window[1] - window[0]) * i // parts for i in range(parts + 1)]
    return [
        pool.submit(_write_part, os.path.join(path, f"part-{i:05d}.parquet"), lo, hi)
        for i, (lo, hi) in enumerate(zip(bounds, bounds[1:]))
    ]


def _read_back(ctx: Context) -> tuple[int, int]:
    """One pass over the input through Spark's built-in reader: returns
    the digest of every row and sets ``ctx.truth``, the digest of each
    query's answer under Spark's own filter."""
    from pyspark.sql import functions as F

    whole = -1  # no query has this id
    tags = [F.lit(whole)] + [F.when(q.spark_filter(), F.lit(q.qid)) for q in ctx.queries]
    hits = F.filter(F.array(*tags), lambda x: x.isNotNull())
    digests = spark_digests(ctx.src.withColumn("_qid", F.explode(hits)), ctx.columns, key="_qid")
    ctx.truth = {k: v for k, v in digests.items() if k != whole}
    return digests.get(whole, (0, 0))


def _loop(ctx: Context, wl, seconds: float, tag: str, tracer: Tracer | None = None):
    """Closed loop until ``seconds`` have passed and a whole number of
    the workload's op cycles has run. Returns the op tags, which also
    label the ops' Spark jobs, and the walls of the ops that returned."""
    sc = ctx.spark.sparkContext
    tags, walls = [], []
    deadline = time.perf_counter() + seconds
    while not tags or time.perf_counter() < deadline or len(tags) % wl.cycle:
        op_tag = f"{tag}{len(tags)}"
        sc.setLocalProperty(eventlog.OP_PROPERTY, op_tag)
        i, ctx.ops_run = ctx.ops_run, ctx.ops_run + 1
        try:
            if tracer is not None:
                tracer.op = op_tag
                with tracer.span("op"):
                    wall, ok = wl.op(i)
            else:
                wall, ok = wl.op(i)
            walls.append(wall)
        except Exception:  # one failed operation must not end the run
            traceback.print_exc()
            ok = False
        ctx.record(ok, f"operation {op_tag}")
        tags.append(op_tag)
    sc.setLocalProperty(eventlog.OP_PROPERTY, None)
    return tags, walls


def _patch_driver(tracer: Tracer) -> None:
    """Spans around the driver-side entry points the ops call."""
    tracer.patch("parquet_go_spark.spark.encode_job", "encode_table", "spark.encode_job.encode_table")
    tracer.patch("parquet_go_spark.spark.decode_job", "decode_table", "spark.decode_job.decode_table")
    tracer.patch("parquet_go_spark.spark.decode_job", "surviving_partitions", "spark.decode_job.plan")


def _unattributed(tracer: Tracer, per_op_tasks: dict[str, list[dict]], tags: list[str]) -> float:
    """Share of the traced ops' wall time covered by no layer span: the
    driver-side spans plus the executor tasks of the op's Spark jobs."""
    wall = covered = 0.0
    for tag in tags:
        root = tracer.named("op", tag)[0]
        layers = [(s.start, s.end) for s in tracer.spans if s.op == tag and s.name != "op"]
        layers += eventlog.task_intervals(per_op_tasks.get(tag, []))
        wall += root.end - root.start
        covered += union_length(clip(layers, root.start, root.end))
    return 1 - covered / wall if wall else 0.0


def _end_to_end(ctx: Context, wl, walls: list[float], e2e: dict, peak_rss: int, info: dict) -> dict:
    t_val, t_pct, t_beyond = tail(walls)
    e2e.update(
        setup_s=median(wl.setup_walls),
        query_p50_ms=median(walls) * 1e3,
        query_tail_ms=t_val * 1e3,
        peak_rss_mb=peak_rss / 1e6,
        error_rate=ctx.failed / ctx.attempted,
    )
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    info.update(
        ops=len(walls),
        query_tail_percentile=t_pct,
        query_tail_samples_beyond=t_beyond,
        op_walls_ms=[round(w * 1e3, 1) for w in walls],
        setup_walls_s=wl.setup_walls,
        raw_bytes=wl.table_bytes[0],
        input_share_of_ram=wl.table_bytes[0] / ram,
        end_to_end={m: {"value": e2e[m], "unit": u} for m, u in END_TO_END.items()},
    )
    return {m: {"value": e2e[m], "unit": END_TO_END[m]} for m in GATED}


def _per_layer(ctx: Context, wl, seed, tracer, tags, walls, plain_walls, layers: dict, info: dict, root: str) -> dict:
    """Probes, then the event log of the stopped session, then the spans
    written next to the checkout's other run outputs. ``layers`` holds
    what was measured while the session ran."""
    tables = probes.read_table(wl.table_dir)
    layers.update(probes.core_layers(tables[0], COMPRESSION, ctx.work))
    layers.update(probes.kernel_layers(tables[0], probes.lineitem_columns(seed, tables[0].num_rows)))
    if wl.name == "lookup":
        layers.update(probes.replay_native(wl.table_dir, ctx))
        layers.update(probes.replay_parquet(tables, COMPRESSION, ctx))
    events = eventlog.read_events(eventlog.find_log(os.path.join(ctx.work, "eventlog")))
    for k, v in eventlog.job_metrics(events, tags).items():
        layers[f"spark.job.{k}"] = v
    layers["trace.overhead_share"] = median(walls) / median(plain_walls) - 1
    layers["trace.unattributed_share"] = _unattributed(tracer, eventlog.tasks_by_op(events), tags)
    spans = os.path.join(".perfbench_traces", f"{wl.name}-seed{seed}-{os.getpid()}.jsonl")
    os.makedirs(os.path.join(root, ".perfbench_traces"), exist_ok=True)
    tracer.dump(os.path.join(root, spans))
    info.update(spans=spans, ops={"untraced": len(plain_walls), "traced": len(walls)})
    return {m: {"value": layers[m], "unit": u} for m, u in per_layer_units().items()}


def run(workload: str, seed: int, seconds: float, trace: bool, root: str) -> tuple[dict, dict]:
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".perfbench_work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    info: dict = {"workload": workload, "seed": seed, "trace": int(trace), "cores": cores}
    spark = None
    try:
        window = seed_window(seed, ROWS)
        input_dir = os.path.join(work, "input")
        t0 = time.perf_counter()
        # forked, not spawned: spawning starts a resource-tracker process
        # that would outlive the pool
        with ProcessPoolExecutor(cores, mp_context=multiprocessing.get_context("fork")) as pool:
            written = _write_input(pool, input_dir, window, cores)
            spark = _start_spark(root, work, cores, trace)
            info["spark_start_s"] = time.perf_counter() - t0
            input_digest = add_digests(f.result() for f in written)
        ctx = Context(spark, work, ROWS, cores)
        # the schema is given so the reader infers nothing
        ctx.src = spark.read.schema(SCHEMA).parquet(input_dir)
        ctx.columns = ctx.src.columns
        ctx.input_digest = input_digest
        if workload == "lookup":
            ctx.queries = build_queries(seed, window, N_QUERIES)
        # the first Python-worker job of the run, untimed
        ctx.record(_read_back(ctx) == input_digest, "built-in reader digest of the input")
        info["input_s"] = time.perf_counter() - t0
        info["window"] = list(window)
        info["queries"] = [{"qid": q.qid, "kind": q.kind, "rows": ctx.truth.get(q.qid, (0, 0))[0]} for q in ctx.queries]
        wl = WORKLOADS[workload](ctx)
        t0 = time.perf_counter()
        for rep in range(SETUP_REPS):
            wl.setup(rep)
        info["setup_total_s"] = time.perf_counter() - t0

        # JIT and Python-worker warm-up of the operation's own path
        info["warmup_ops"] = len(_loop(ctx, wl, WARMUP_S, "warm")[0])
        info["canary_ms_before"] = _canary()
        jiffies = cpu_jiffies()
        with PeakRss() as rss:
            if not trace:
                tags, walls = _loop(ctx, wl, seconds, "op")
            else:
                _, plain_walls = _loop(ctx, wl, seconds / 2, "plain")
                tracer = Tracer()
                _patch_driver(tracer)
                try:
                    tags, walls = _loop(ctx, wl, seconds / 2, "traced", tracer)
                finally:
                    tracer.restore()
        info["steal_share"] = steal_share(jiffies, cpu_jiffies())
        info["canary_ms_after"] = _canary()
        t0 = time.perf_counter()
        e2e = wl.finish(walls)
        info["finish_s"] = time.perf_counter() - t0

        if trace:
            layers = dict.fromkeys(per_layer_units(), 0.0)
            if workload == "lookup":
                layers.update(probes.parquet_interop(ctx, COMPRESSION))
            _stop_spark(spark)  # flushes the event log
            spark = None
            metrics = _per_layer(ctx, wl, seed, tracer, tags, walls, plain_walls, layers, info, root)
        else:
            metrics = _end_to_end(ctx, wl, walls, e2e, rss.peak, info)
        info["attempted"], info["failed"] = ctx.attempted, ctx.failed
        result = {
            "correct": ctx.failed == 0,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": metrics,
        }
        return info, result
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
