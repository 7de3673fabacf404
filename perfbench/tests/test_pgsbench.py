"""Tests for the benchmark's own helpers. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

from pgsbench import eventlog  # noqa: E402
from pgsbench.common import (  # noqa: E402
    ID_HI,
    ID_LO,
    add_digests,
    seed_window,
    table_digest,
    tail,
)
from pgsbench.tracing import Tracer, clip, union_length  # noqa: E402


# ------------------------------------------------------------------ tail
def test_tail_keeps_ten_samples_beyond():
    samples = [float(i) for i in range(1, 101)]  # 1..100
    value, pct, beyond = tail(samples)
    assert (value, pct, beyond) == (90.0, 90.0, 10)
    assert sum(s > value for s in samples) == 10


def test_tail_shuffled_input_and_odd_count():
    rng = np.random.default_rng(0)
    samples = rng.permutation(np.arange(1, 41)).astype(float).tolist()  # 1..40
    value, pct, beyond = tail(samples)
    assert value == 30.0 and pct == 75.0
    assert sum(s > value for s in samples) == beyond == 10


def test_tail_falls_back_to_median_below_21_samples():
    assert tail([float(i) for i in range(1, 21)]) == (10.5, 50.0, 10)
    assert tail([5.0]) == (5.0, 50.0, 0)
    value, pct, _ = tail([float(i) for i in range(1, 22)])
    assert value == 11.0 and pct > 50.0
    with pytest.raises(ValueError):
        tail([])


# ---------------------------------------------------------------- digest
def _pages(n: int = 50) -> pa.Table:
    from parquet_go_spark.spark.pages_table import pages_arrow

    return pages_arrow(n)


def test_digest_ignores_row_order_and_partitioning():
    t = _pages()
    cols = t.column_names
    base = table_digest(t, cols)
    perm = pa.array(np.random.default_rng(1).permutation(t.num_rows))
    assert table_digest(t.take(perm), cols) == base
    parts = [t.slice(0, 7), t.slice(7, 30), t.slice(37)]
    assert add_digests(table_digest(p, cols) for p in parts) == base
    assert base[0] == t.num_rows


def test_digest_sees_values_nulls_and_duplicates():
    t = _pages()
    cols = t.column_names
    base = table_digest(t, cols)
    text = t.column("text").to_pylist()
    text[3] = (text[3] or "") + "x"
    assert table_digest(t.set_column(3, "text", pa.array(text)), cols) != base
    ts = t.column("warc_ts").cast(pa.int64()).to_pylist()
    ts[5] = None
    changed = t.set_column(1, "warc_ts", pa.array(ts, pa.int64()).cast(t.schema.field("warc_ts").type))
    assert table_digest(changed, cols) != base
    # a duplicated row and a dropped row differ from the original
    dup = pa.concat_tables([t.slice(0, t.num_rows - 1), t.slice(0, 1)])
    assert table_digest(dup, cols) != base


def test_digest_is_type_width_agnostic():
    """Spark hands strings to Python workers as large_string in some
    plans; the digest must not depend on the offset width."""
    t = pa.table({"s": pa.array(["a", None, "bc"]), "b": pa.array([b"x", b"", None])})
    wide = pa.table({"s": t.column("s").cast(pa.large_string()), "b": t.column("b").cast(pa.large_binary())})
    assert table_digest(t) == table_digest(wide)
    assert table_digest(t.slice(0, 0)) == (0, 0)


# ------------------------------------------------------------- seeding
def test_seed_window_is_deterministic_and_bounded():
    assert seed_window(7, 64_000) == seed_window(7, 64_000)
    windows = {seed_window(s, 64_000) for s in range(50)}
    assert len(windows) == 50
    for lo, hi in windows:
        assert hi - lo == 64_000
        assert ID_LO <= lo and hi <= ID_HI
        assert len(str(lo)) == len(str(hi - 1)) == 9


def test_queries_follow_the_seed():
    from pgsbench.queries import MIX, build_queries

    w = seed_window(3, 64_000)
    a, b = build_queries(3, w, 12), build_queries(3, w, 12)
    assert a == b
    assert build_queries(4, seed_window(4, 64_000), 12) != a
    assert [q.kind for q in a] == [MIX[i % len(MIX)] for i in range(12)]


def test_query_masks_match_generated_rows():
    from parquet_go_spark.spark.pages_table import _gen_block

    from pgsbench.queries import build_queries

    w = (ID_LO, ID_LO + 31 * 64)  # every language run appears once
    rows = pa.Table.from_pandas(_gen_block(np.arange(*w)), preserve_index=False)
    for q in build_queries(9, w, 6):
        hits = rows.filter(q.arrow_mask(rows)).num_rows
        if q.kind == "url":
            assert hits == 1
        elif q.kind == "url_miss":
            assert hits == 0
        else:
            assert hits > 0


# ------------------------------------------------------------ event log
def _task_end(stage: int, run_ms: int, py_ms: str) -> dict:
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {
            "Launch Time": 1_000,
            "Finish Time": 1_000 + run_ms,
            "Accumulables": [
                {"Name": "time to run Python workers", "Update": py_ms},
                {"Name": "data sent to Python workers", "Update": "100"},
                {"Name": "number of output rows", "Update": "5"},
            ],
        },
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": 2_000_000,
            "JVM GC Time": 1,
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 3,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 10, "Shuffle Write Time": 4_000_000},
            "Shuffle Read Metrics": {"Fetch Wait Time": 2},
            "Input Metrics": {"Bytes Read": 50},
        },
    }


def _events() -> list[dict]:
    return [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1], "Properties": {eventlog.OP_PROPERTY: "op0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        _task_end(0, 100, "80"),
        _task_end(1, 10, "5"),
        _task_end(1, 30, "5"),
        _task_end(1, 20, "5"),
        _task_end(2, 999, "999"),  # untagged job: ignored
    ]


def test_event_log_round_trip_through_zstd(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    text = "\n".join(json.dumps(e) for e in _events()).encode()
    with pa.CompressedOutputStream(str(app / "events_1_local-1.zstd"), "zstd") as out:
        out.write(text)
    (app / "appstatus_local-1").write_text("")
    assert eventlog.find_log(str(tmp_path)) == str(app)
    events = eventlog.read_events(str(app))
    assert [e["Event"] for e in events] == [e["Event"] for e in _events()]


def test_job_metrics_sum_per_op_and_skew():
    m = eventlog.job_metrics(_events(), ["op0"])
    assert m["tasks"] == 4
    assert m["executor_run_ms"] == 160
    assert m["executor_cpu_ms"] == pytest.approx(8.0)
    assert m["python_run_ms"] == 95
    assert m["to_python_bytes"] == 400
    assert m["shuffle_write_ms"] == pytest.approx(16.0)
    assert m["spill_bytes"] == 12
    # stage 0 ran longest in total (100 ms vs 60 ms): one task, skew 1
    assert m["task_skew"] == 1.0
    assert set(m) == set(eventlog.JOB_METRICS)
    per = eventlog.tasks_by_op(_events())
    assert set(per) == {"op0"}
    assert eventlog.task_intervals(per["op0"])[0] == (1.0, 1.1)


def test_job_metrics_median_over_ops():
    ev = _events() + [
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {eventlog.OP_PROPERTY: "op1"}},
        _task_end(3, 10, "1"),
        _task_end(3, 30, "1"),
    ]
    m = eventlog.job_metrics(ev, ["op0", "op1"])
    assert m["tasks"] == 3.0  # median of 4 and 2
    assert m["task_skew"] == pytest.approx((1.0 + 1.5) / 2)


# --------------------------------------------------------------- tracing
def test_union_and_clip():
    assert union_length([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4
    assert clip([(0, 10), (12, 13)], 5, 12) == [(5, 10)]


def test_tracer_patches_every_alias_and_restores():
    from parquet_go_spark.core import chunk
    from parquet_go_spark.spark import decode_job

    orig = chunk.decode_chunk
    tracer = Tracer()
    tracer.patch("parquet_go_spark.core.chunk", "decode_chunk", "core.chunk.decode")
    try:
        assert decode_job.decode_chunk is chunk.decode_chunk is not orig
        col = pa.array([1, 2, None], pa.int64())
        from parquet_go_spark.core.columns import from_arrow

        blob, _ = chunk.encode_chunk(from_arrow(col))
        decode_job.decode_chunk(blob)
    finally:
        tracer.restore()
    assert chunk.decode_chunk is orig and decode_job.decode_chunk is orig
    spans = tracer.named("core.chunk.decode")
    assert len(spans) == 1 and spans[0].end >= spans[0].start


# ---------------------------------------------------------- metric names
def test_benchmark_json_matches_reported_metrics():
    from pgsbench.runner import END_TO_END, GATED, per_layer_units
    from pgsbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == GATED
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {m: END_TO_END[m] for m in GATED}
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
