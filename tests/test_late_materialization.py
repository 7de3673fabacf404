"""Late materialization in the decode task: the row tier.

``decode_blobs_to_batch`` decodes each prune predicate's own column over
the pages the page tier keeps, proves the predicates row by row
(``_row_keep``: the page tier applied to one-row pages), and then
decodes every other column over the surviving rows only, so pages with
no surviving row are never decompressed. Covered here: the vectorized
page row mask behind ``decode_chunk(row_sel=...)``, the one-row-page
proof rule (differential, against ``_page_excludes`` and against Spark's
own filter), page skipping, exact results without a re-applied filter,
and composition with delete sidecars, nested columns and the ``pgs``
DataSource."""

from __future__ import annotations

import datetime as dt
import random
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pytest

from parquet_go_spark.core import chunk as chunk_mod
from parquet_go_spark.core.chunk import chunk_page_index, decode_chunk, encode_chunk
from parquet_go_spark.core.columns import from_arrow, to_arrow
from parquet_go_spark.spark import decode_job as dj

SMALL_PAGE = 1 << 10


def _ranges_of(mask: np.ndarray) -> list[tuple[int, int]]:
    """Runs of True in ``mask`` as sorted ``[lo, hi)`` ranges."""
    edges = np.flatnonzero(np.diff(np.concatenate([[0], mask.astype(np.int8), [0]])))
    return [(int(a), int(b)) for a, b in zip(edges[::2], edges[1::2])]


def _row_sel_columns(rng) -> dict[str, pa.Array]:
    n = 3000
    nulls = rng.random(n) < 0.1
    words = [f"w{i}".encode() * int(rng.integers(1, 6)) for i in range(n)]
    return {
        "int64": pa.array(rng.integers(-(1 << 40), 1 << 40, n), mask=nulls),
        "double": pa.array(rng.normal(size=n)),
        "bytes": pa.array([None if m else w for m, w in zip(nulls, words)], pa.binary()),
        "dict": pa.array([["de", "fr", "en"][i % 3] for i in range(n)], pa.string()),
        "decimal": pa.array(
            [None if m else Decimal(i).scaleb(-2) for i, m in enumerate(nulls)],
            pa.decimal128(12, 2),
        ),
    }


@pytest.mark.parametrize("kind", ["int64", "double", "bytes", "dict", "decimal"])
def test_row_sel_random_ranges_match_full_decode_take(kind):
    rng = np.random.default_rng(11)
    arr = _row_sel_columns(rng)[kind]
    blob, meta = encode_chunk(from_arrow(arr), max_page=SMALL_PAGE, page_stats=True)
    assert meta.num_pages > 4
    pages = chunk_page_index(blob)
    full = to_arrow(decode_chunk(blob))
    n = len(full)
    for trial in range(40):
        shape = trial % 5
        mask = np.zeros(n, dtype=bool)
        if shape == 1:  # sparse single rows
            mask[rng.integers(0, n, 15)] = True
        elif shape == 2:  # long runs spanning several pages
            for lo in rng.integers(0, n, 4):
                mask[lo : lo + int(rng.integers(1, 900))] = True
        elif shape == 3:  # whole pages, and ranges touching page boundaries
            for p in rng.choice(pages, 4, replace=False):
                mask[p["row_lo"] : p["row_hi"]] = True
                mask[max(p["row_lo"] - 1, 0)] = True
                mask[min(p["row_hi"], n - 1)] = True
            mask[pages[2]["row_hi"] - 1] = True
        elif shape == 4:
            mask[:] = True
        ranges = _ranges_of(mask)  # shape 0: the empty list
        want = full.take(pa.array(np.flatnonzero(mask)))
        got = to_arrow(decode_chunk(blob, row_sel=ranges))
        assert got.equals(want), (kind, shape)
        as_array = np.array(ranges, dtype=np.int64).reshape(-1, 2)
        assert to_arrow(decode_chunk(blob, row_sel=as_array)).equals(want)


def test_page_row_mask_touches_only_overlapping_ranges():
    lo = np.array([0, 10, 20, 30], dtype=np.int64)
    hi = np.array([5, 12, 25, 40], dtype=np.int64)
    assert chunk_mod._page_row_mask(lo, hi, 5, 5) is None  # falls in a gap
    m = chunk_mod._page_row_mask(lo, hi, 4, 20)  # rows 4..23
    assert np.flatnonzero(m).tolist() == [0, 6, 7, 16, 17, 18, 19]
    assert chunk_mod._page_row_mask(lo, hi, 30, 10).all()
    assert chunk_mod._page_row_mask(lo, hi, 40, 10) is None  # starts at a range end


# ------------------------------------------------------------ differential
_STRINGS = [
    b"5", b"10", b"100", b"99", b"-1", b"1e3", b"0.5", "é".encode(), "日本".encode(),
    b"zebra", b"", b"\xff\xfe", b"a\x80b", b"\xc3", b"x" * 70 + b"a", b"x" * 70 + b"b",
    ("Ω" * 40).encode(), None,
]
_INTS = [0, 1, -1, 5, 2**53 - 1, 2**53, 2**53 + 1, 2**63 - 1, -(2**63), 10**15, None]
_DOUBLES = [float("nan"), 0.0, -0.0, 1.5, -2.25, float("inf"), float("-inf"), 2.0**53, 5.0, None]
_TS0 = 1_700_000_000_000_000
_TIMESTAMPS = [_TS0 + k for k in (0, 1, 999, 10**6, 86_400 * 10**6)] + [None]

_PROBES = {
    "string": [
        "5", "10", "9", "é", "日本", "zebra", "", "x" * 70 + "a", "x" * 71, "Ω" * 40,
        b"5", b"zebra", "é".encode(), b"\xff\xfe", bytearray(b"5"), 5, 5.0, None, "\ud800",
    ],
    "int": [
        0, 5, -1, 2**53, 2**53 + 1, 2**63 - 1, 10**15, 5.0, 5.5, float("nan"), float("inf"),
        np.int64(5), "5", b"5", True, 2**70, None,
    ],
    "double": [
        0.0, -0.0, 1.5, 5, 5.0, 2.0**53, float("nan"), float("inf"), float("-inf"), "1.5",
        True, np.float32(1.5), None,
    ],
    "ts": [_TS0, _TS0 + 999, _TS0 + 10**6, float(_TS0), dt.datetime(2023, 11, 14), "x", None],
}

_COLUMNS = {
    "string": (_STRINGS, pa.binary()),
    "int": (_INTS, pa.int64()),
    "double": (_DOUBLES, pa.float64()),
    "ts": (_TIMESTAMPS, pa.timestamp("us")),
}


def _one_row_page(value, ptype: str) -> dict:
    """The page the row tier is defined against: one row, whose min and
    max are both the row's own value."""
    return {"row_lo": 0, "row_hi": 1, "min_str": value, "max_str": value,
            "nulls": int(value is None), "ptype": ptype}


def _random_predicate(r: random.Random, kind: str):
    op = r.choice(["==", "in", "<=", ">=", "notnull"])
    if op == "notnull":
        return op, None
    if op == "in":
        return op, tuple(r.choice(_PROBES[kind]) for _ in range(r.randrange(4)))
    return op, r.choice(_PROBES[kind])


@pytest.mark.parametrize("kind", sorted(_COLUMNS))
def test_row_tier_drops_only_rows_a_one_row_page_excludes(kind):
    pool, typ = _COLUMNS[kind]
    r = random.Random(5)
    dropped = proved = 0
    for trial in range(60):
        values = [r.choice(pool) for _ in range(r.randrange(1, 80))]
        blob, _ = encode_chunk(from_arrow(pa.array(values, typ)), max_page=256, page_stats=True)
        cd = decode_chunk(blob)
        for _ in range(10):
            op, value = _random_predicate(r, kind)
            probes = dj._row_probes(op, value, cd.ptype)
            if probes is None:
                continue
            proved += 1
            keep = dj._row_keep(op, probes, cd)
            assert keep.shape == (len(values),)
            for i in np.flatnonzero(~keep):
                dropped += 1
                page = _one_row_page(values[i], cd.ptype)
                assert dj._page_excludes(op, value, page), (op, value, values[i])
    assert proved and dropped  # the tier is not vacuous on this kind


def test_row_tier_refuses_unprovable_predicates():
    assert dj._row_probes("==", 5, "bytes") is None  # int probe, string column
    assert dj._row_probes("==", "5", "int64") is None  # str probe, numeric column
    assert dj._row_probes("==", True, "int64") is None
    assert dj._row_probes("==", float("nan"), "double") is None
    assert dj._row_probes("in", ("a", b"\xff"), "bytes") is None
    assert dj._row_probes("==", b"\x00\x01", "flba") is None
    assert dj._row_probes("notnull", None, "bool") is None
    assert dj._row_probes("==", 1, None) is None  # nested container
    assert dj._row_probes("<", 1, "int64") is None  # not a prune op
    assert dj._row_probes("in", (), "int64") == []


# ------------------------------------------------------------ page skipping
def _lookup_blobs(n=400):
    rng = np.random.default_rng(3)
    urls = pa.array([f"https://h{i:04d}.example/p" for i in range(n)], pa.string())
    html = pa.array([rng.bytes(2048) for _ in range(n)], pa.binary())
    blobs = {
        # the lookup shape: the whole url chunk is one page, so page stats
        # alone narrow nothing
        "url": encode_chunk(from_arrow(urls), page_stats=True)[0],
        "html": encode_chunk(from_arrow(html), max_page=8 << 10, page_stats=True)[0],
    }
    return urls, html, blobs


def test_point_lookup_decompresses_only_the_matching_page(monkeypatch):
    urls, html, blobs = _lookup_blobs()
    html_pages = chunk_page_index(blobs["html"])
    assert len(chunk_page_index(blobs["url"])) == 1 and len(html_pages) > 20
    calls = {"n": 0}
    real_decompress = chunk_mod._decompress

    def counting(*a, **k):
        calls["n"] += 1
        return real_decompress(*a, **k)

    monkeypatch.setattr(chunk_mod, "_decompress", counting)
    per_column = {}
    real_decode = dj.decode_chunk

    def recording(blob, *a, **k):
        before = calls["n"]
        out = real_decode(blob, *a, **k)
        name = next(c for c, b in blobs.items() if b is blob)
        per_column[name] = per_column.get(name, 0) + calls["n"] - before
        return out

    monkeypatch.setattr(dj, "decode_chunk", recording)
    target = urls[137].as_py()
    batch = dj.decode_blobs_to_batch(
        blobs, ["url", "html"], set(), {"url": "string", "html": "binary"},
        [("url", "==", target)],
    )
    assert batch.num_rows == 1
    assert batch.column("url").to_pylist() == [target]
    assert batch.column("html")[0].as_py() == html[137].as_py()
    assert per_column == {"url": 1, "html": 1}


def test_unselected_predicate_column_is_trimmed_away():
    urls, html, blobs = _lookup_blobs()
    batch = dj.decode_blobs_to_batch(
        blobs, ["html"], set(), {"url": "string", "html": "binary"},
        [("url", "in", (urls[5].as_py(), urls[300].as_py(), "https://absent"))],
    )
    assert batch.schema.names == ["html"]
    assert batch.column("html").to_pylist() == [html[5].as_py(), html[300].as_py()]


# ------------------------------------------------------------ Spark paths
def _urls(df) -> list[str]:
    return sorted(r["url"] for r in df.select("url").collect())


@pytest.fixture(scope="module")
def lm_table(spark, tmp_path_factory):
    """A pages table with an int column and a nested column, page stats
    on, small pages, two partitions."""
    import pyspark.sql.functions as F

    from parquet_go_spark.spark import manifest as mf
    from parquet_go_spark.spark.encode_job import encode_table
    from parquet_go_spark.spark.pages_table import pages_df

    d = str(tmp_path_factory.mktemp("late_mat") / "enc")
    df = (
        pages_df(spark, 1500, partitions=1)
        .withColumn("n", (F.abs(F.xxhash64("url")) % 50).cast("bigint"))
        .withColumn("tags", F.array(F.col("lang"), F.lit("x")))
        .cache()
    )
    encode_table(
        df, d, key_col="url", partitions=2, sort_within="url", page_stats=True, max_page=2048
    ).collect()
    mf.commit_snapshot(d, "encode")
    yield d, df
    df.unpersist()


def _ts_window(df):
    import pyspark.sql.functions as F

    row = df.select(F.unix_micros("warc_ts").alias("t")).orderBy("t").collect()[700]
    return row["t"], row["t"] + 3_600_000_000


@pytest.mark.spark
def test_pruned_decode_returns_exactly_the_matching_rows(spark, lm_table):
    import pyspark.sql.functions as F

    from parquet_go_spark.spark.decode_job import decode_table

    d, df = lm_table
    target = df.select("url").collect()[321]["url"]
    lo, hi = _ts_window(df)
    ts = F.unix_micros("warc_ts")
    cases = [
        ([("url", "==", target)], F.col("url") == target),
        ([("n", "in", (3, 17))], F.col("n").isin(3, 17)),
        ([("n", "<=", 4)], F.col("n") <= 4),
        ([("warc_ts", ">=", lo), ("warc_ts", "<=", hi)], (ts >= lo) & (ts <= hi)),
        ([("lang", "==", "de"), ("n", ">=", 25)], (F.col("lang") == "de") & (F.col("n") >= 25)),
    ]
    for prune, cond in cases:
        want = _urls(df.where(cond))
        assert want, prune
        assert _urls(decode_table(spark, d, prune=prune)) == want, prune
    # the nested column row-aligns with the row tier's survivors
    got = decode_table(spark, d, prune=[("url", "==", target)]).collect()
    assert len(got) == 1 and got[0]["url"] == target and got[0]["tags"][1] == "x"


@pytest.mark.spark
def test_pgs_reader_applies_the_row_tier(spark, lm_table):
    import pyspark.sql.functions as F

    from parquet_go_spark.spark import manifest as mf
    from parquet_go_spark.spark.datasource import PGSDataSource, _decode_partition_to_batches

    d, df = lm_table
    spark.dataSource.register(PGSDataSource)
    cond = F.col("n").isin(3, 17) & (F.col("lang") != "zz")
    want = _urls(df.where(cond))
    assert _urls(spark.read.format("pgs").load(d).where(cond)) == want
    # the reader's own batches already hold only the matching rows
    fields = mf.read_table_schema(d)
    got = []
    for pid in sorted(mf.committed_partitions(d)):
        for b in _decode_partition_to_batches(d, fields, pid, [("n", "in", (3, 17))]):
            got += b.column("url").to_pylist()
    assert sorted(got) == _urls(df.where(F.col("n").isin(3, 17)))


@pytest.mark.spark
def test_row_tier_composes_with_delete_sidecars(spark, tmp_path):
    import pyspark.sql.functions as F

    from parquet_go_spark.spark import manifest as mf
    from parquet_go_spark.spark.decode_job import decode_table
    from parquet_go_spark.spark.encode_job import encode_table
    from parquet_go_spark.spark.maintenance import delete_keys, delete_where
    from parquet_go_spark.spark.pages_table import pages_df

    d = str(tmp_path / "enc")
    df = (
        pages_df(spark, 1200, partitions=1)
        .withColumn("n", (F.abs(F.xxhash64("url")) % 40).cast("bigint"))
        .cache()
    )
    encode_table(df, d, key_col="n", layout="range", partitions=2, page_stats=True,
                 max_page=2048).collect()
    mf.commit_snapshot(d, "encode")
    in_n = df.where(F.col("n").isin(7, 33)).select("url", "n").collect()
    victims = [r["url"] for r in in_n[::3]]
    delete_keys(d, "url", victims)  # equality sidecar
    res = delete_where(spark, d, [("n", "==", 33)], mode="mor")  # positional sidecar
    assert res["rows_deleted"] and mf.list_delete_files(d) and mf.list_eq_delete_files(d)
    want = sorted(r["url"] for r in in_n if r["n"] == 7 and r["url"] not in victims)
    assert want
    got = decode_table(spark, d, prune=[("n", "in", (7, 33))])
    assert _urls(got) == want
    assert _urls(decode_table(spark, d, columns=["url"], prune=[("n", "==", 7)])) == want
    df.unpersist()


@pytest.mark.spark
def test_nan_rows_survive_every_tier(spark, tmp_path):
    """Spark orders NaN above every value and holds NaN = NaN: a ``>=``
    probe past a page's finite max, or a NaN probe against a dictionary
    chunk, must keep the NaN rows (both pruned them before)."""
    import pyspark.sql.functions as F

    from parquet_go_spark.spark.decode_job import decode_table
    from parquet_go_spark.spark.encode_job import encode_table

    rows = [(i, float("nan") if i % 3 == 0 else float(i % 4)) for i in range(60)]
    df = spark.createDataFrame(rows, "id bigint, d double")
    d = str(tmp_path / "enc")
    encode_table(df, d, key_col="id", partitions=1, page_stats=True, max_page=128).collect()
    nan = float("nan")
    for prune, cond in [
        ([("d", ">=", 5.0)], F.col("d") >= 5.0),
        ([("d", "==", nan)], F.col("d") == nan),
        ([("d", "in", (nan, 9.0))], F.col("d").isin(nan, 9.0)),
    ]:
        want = sorted(r.id for r in df.where(cond).collect())
        assert len(want) == 20
        got = sorted(r.id for r in decode_table(spark, d, prune=prune).where(cond).collect())
        assert got == want, prune


def _spark_cond(col: str, op: str, value):
    import pyspark.sql.functions as F

    c = F.unix_micros(F.col(col)) if col == "ts" else F.col(col)
    if op == "notnull":
        return c.isNotNull()
    if op == "in":
        return c.isin(*value) if value else F.lit(False)
    return {"==": c == value, "<=": c <= value, ">=": c >= value}[op]


def _spark_predicate(r: random.Random, col: str, pool: list):
    """(prune triple, Spark filter) over a value the column can hold; the
    prune side sometimes carries the probe as a different Python type
    that names the same value (no row-tier proof, page tiers still apply)."""

    def pick():
        v = r.choice([x for x in pool if x is not None] + [r.choice(_EXTRA[col])])
        alt = v
        if r.random() < 0.25:
            if col in ("s",):
                alt = v.encode()
            elif col == "n" and abs(v) < 2**53:
                alt = float(v)
            elif col == "d" and v == v and abs(v) < 2**53 and v == int(v):
                alt = int(v)
        return v, alt

    op = r.choice(["==", "in", "<=", ">=", "notnull"])
    if op == "notnull":
        return (col, op, None), _spark_cond(col, op, None)
    if op == "in":
        picks = [pick() for _ in range(r.randrange(4))]
        return (col, op, tuple(a for _, a in picks)), _spark_cond(col, op, [v for v, _ in picks])
    v, alt = pick()
    return (col, op, alt), _spark_cond(col, op, v)


_EXTRA = {
    "s": ["9", "zz", "", "日", "x" * 70 + "c"],
    "b": [b"\xff", b"5", b"zebra"],
    "n": [4, 2**53 + 2, -5],
    "d": [0.0, -0.0, 3.0, float("nan"), float("inf")],
    "ts": [_TS0 + 500, _TS0 - 1, _TS0 + 2 * 10**6],
}


@pytest.mark.spark
def test_row_tier_differential_against_spark_filter(spark, tmp_path):
    from pyspark.sql.types import (
        BinaryType, DoubleType, LongType, StringType, StructField, StructType, TimestampType,
    )

    from parquet_go_spark.spark.decode_job import decode_table
    from parquet_go_spark.spark.encode_job import encode_table

    r = random.Random(23)
    strings = [s.decode() for s in _STRINGS if s is not None and _valid(s)] + [None]
    cols = {
        "s": strings,
        "b": [s for s in _STRINGS],
        "n": _INTS,
        "d": _DOUBLES,
        "ts": _TIMESTAMPS,
    }
    epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    rows = []
    for i in range(600):
        row = {c: r.choice(pool) for c, pool in cols.items()}
        t = row["ts"]
        rows.append((i, row["s"], row["b"], row["n"], row["d"],
                     None if t is None else epoch + dt.timedelta(microseconds=t)))
    schema = StructType([
        StructField("id", LongType()), StructField("s", StringType()),
        StructField("b", BinaryType()), StructField("n", LongType()),
        StructField("d", DoubleType()), StructField("ts", TimestampType()),
    ])
    df = spark.createDataFrame(rows, schema)
    d = str(tmp_path / "enc")
    encode_table(df, d, key_col="id", partitions=2, page_stats=True, max_page=512).collect()
    # not cached: Spark's in-memory batch pruning drops NaN rows from
    # a NaN = NaN filter, which would corrupt the oracle itself
    base = decode_table(spark, d)
    for _ in range(40):
        col = r.choice(sorted(cols))
        prune, cond = _spark_predicate(r, col, cols[col])
        want = sorted(x["id"] for x in base.where(cond).select("id").collect())
        got = sorted(
            x["id"] for x in decode_table(spark, d, prune=[prune]).where(cond).select("id").collect()
        )
        assert got == want, prune


def _valid(b: bytes) -> bool:
    try:
        b.decode()
    except UnicodeDecodeError:
        return False
    return True
