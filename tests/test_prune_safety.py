"""Prune-proof safety under hostile stats: NaN bounds, numeric-looking
string columns, and logical-vs-storage probes must yield NO PROOF (keep
the partition/page), never a false exclusion that silently drops rows.
Round-4 review findings, each pinned here end-to-end."""

from __future__ import annotations

import pytest
import pyspark.sql.functions as F

pytestmark = pytest.mark.spark


def test_nan_float_bounds_never_prune_matching_rows(spark, tmp_path):
    """One NaN in a float column must not poison pruning: NaN propagated
    into min/max makes every comparison False, which the pre-fix reader
    took as proof of exclusion — partitions holding real matches
    vanished. Writer now excludes NaN from bounds (Parquet convention)
    AND the reader treats unordered bounds as no-proof."""
    from parquet_go_spark.spark.decode_job import decode_table, surviving_partitions
    from parquet_go_spark.spark.encode_job import encode_table

    rows = [(i, float(i)) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, x double").withColumn(
        "x", F.when(F.col("id") == 7, float("nan")).otherwise(F.col("x"))
    )
    out = str(tmp_path / "enc")
    encode_table(df, out, key_col="id", partitions=2).collect()
    pred = [("x", "==", 5.0)]
    surv = surviving_partitions(out, pred)
    got = decode_table(spark, out, prune=pred).filter("x = 5.0").count()
    assert got == 1, (got, surv)
    # range predicates too
    got_le = decode_table(spark, out, prune=[("x", "<=", 10.0)]).filter("x <= 10.0").count()
    assert got_le == 10  # ids 0..10 minus id 7 (its value IS the NaN)


def test_all_pruned_decode_launches_no_task(spark, tmp_path):
    """Every partition proven empty for the predicate: decode_table
    returns a typed, zero-partition frame, so no Python task runs."""
    from parquet_go_spark.spark.decode_job import decode_table, surviving_partitions
    from parquet_go_spark.spark.encode_job import encode_table

    df = spark.createDataFrame([(i, f"u{i:03d}") for i in range(100)], "id long, url string")
    out = str(tmp_path / "enc")
    encode_table(df, out, key_col="id", partitions=2).collect()
    pred = [("id", ">=", 1000)]
    assert surviving_partitions(out, pred) == []
    got = decode_table(spark, out, prune=pred)
    assert got.rdd.getNumPartitions() == 0
    assert got.schema == decode_table(spark, out).schema
    assert got.where("id >= 1000").toArrow().num_rows == 0


def test_all_nan_chunk_has_no_bounds(spark):
    import numpy as np

    from parquet_go_spark.core.chunk import column_minmax
    from parquet_go_spark.core.columns import ColumnData

    v = np.array([float("nan")] * 5, dtype=np.float64)
    col = ColumnData("double", np.ones(5, dtype=bool), values=v, logical="double")
    assert column_minmax(col) == (None, None)
    # mixed: bounds come from the finite values only
    v2 = np.array([float("nan"), 3.0, 1.0], dtype=np.float64)
    col2 = ColumnData("double", np.ones(3, dtype=bool), values=v2, logical="double")
    assert column_minmax(col2) == (1.0, 3.0)


def test_numeric_looking_string_column_prunes_lexicographically(spark, tmp_path):
    """A STRING column holding numeric-looking values: its bounds were
    written lexicographically ('100' < '99'), so the reader must compare
    the same way — the pre-fix float-first compare read the interval as
    [100, 99] and 'proved' the value '5' absent from the partition that
    contains it."""
    from parquet_go_spark.spark.decode_job import decode_table
    from parquet_go_spark.spark.encode_job import encode_table

    rows = [(i, s) for i, s in enumerate(["100", "99", "5", "42", "7"] * 20)]
    df = spark.createDataFrame(rows, "id long, ids string")
    out = str(tmp_path / "enc")
    encode_table(df, out, key_col="id", partitions=2).collect()
    got = decode_table(spark, out, prune=[("ids", "==", "5")]).filter("ids = '5'").count()
    assert got == 20
    got_ge = decode_table(spark, out, prune=[("ids", ">=", "7")]).filter("ids >= '7'").count()
    assert got_ge == df.filter("ids >= '7'").count()


def test_flba_probes_yield_no_false_proof(spark, tmp_path):
    """Decimal (flba) dictionaries and blooms hold RAW storage bytes; a
    numeric or string probe is incomparable and must produce NO proof —
    bytes(5) is five NUL bytes, and the pre-fix probe 'proved' the
    present value 5 absent."""
    from decimal import Decimal

    from parquet_go_spark.spark.decode_job import decode_table, surviving_partitions
    from parquet_go_spark.spark.encode_job import encode_table

    rows = [(i, Decimal(f"{i % 10}.25")) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, price decimal(6,2)")
    out = str(tmp_path / "enc")
    encode_table(df, out, key_col="id", partitions=2, bloom_columns=["price"]).collect()
    # numeric probe: min/max CAN order decimals (bounds are decimal
    # strings), but dict/bloom must not fabricate absence
    surv = surviving_partitions(out, [("price", "==", 5.25)])
    assert surv, "present value must never prune every partition"
    got = decode_table(spark, out, prune=[("price", "==", 5.25)]).filter(
        "price = 5.25"
    ).count()
    assert got == 20


def test_validate_crc_covers_eq_delete_key_columns(spark, tmp_path):
    """A corrupted equality-delete KEY chunk silently deletes the wrong
    rows unless validate_crc checks the ride-along column too (it is
    decoded via want_here, beyond the user's selection)."""
    import glob
    import os

    from parquet_go_spark.spark import manifest as mf
    from parquet_go_spark.spark import maintenance
    from parquet_go_spark.spark.decode_job import decode_table
    from parquet_go_spark.spark.encode_job import encode_table
    from parquet_go_spark.spark.pages_table import pages_df

    df = pages_df(spark, 400, partitions=1).withColumn(
        "seq", (F.abs(F.xxhash64("url")) % 1000).cast("bigint")
    )
    out = str(tmp_path / "enc")
    encode_table(df, out, key_col="seq", partitions=1).collect()
    mf.commit_snapshot(out, "encode")
    maintenance.delete_keys(out, "seq", [5, 7, 11])
    # selected columns exclude the eq key; clean read validates fine
    assert decode_table(spark, out, columns=["url"], validate_crc=True).count() >= 0
    # corrupt the data file mid-way (hits some chunk; the seq chunk is
    # decoded for the eq filter even though only url is selected)
    fpath = glob.glob(f"{out}/part-*.bin")[0]
    size = os.path.getsize(fpath)
    with open(fpath, "r+b") as f:
        for off in range(size // 4, size, size // 8):
            f.seek(off)
            b = f.read(1)
            f.seek(-1, 1)
            f.write(bytes([b[0] ^ 0xFF]))
    with pytest.raises(Exception, match="crc mismatch|corrupt|CRC|Py4J|SparkException"):
        decode_table(spark, out, columns=["url"], validate_crc=True).count()


def test_forged_rle_dict_without_dict_page_raises_valueerror():
    """decode_chunk's untrusted-bytes contract: a forged header claiming
    rle_dict with the dict-page flag clear must surface ValueError, not
    a kernel TypeError on dict_vals=None."""
    import pyarrow as pa

    from parquet_go_spark.core.chunk import decode_chunk, encode_chunk
    from parquet_go_spark.core.columns import from_arrow

    col = from_arrow(pa.array(["aa", "bb", "aa", "cc"] * 10))
    blob, _ = encode_chunk(col, encoding="rle_dict")
    b = bytearray(blob)
    assert b[6] == 1  # enc byte: rle_dict
    b[8] &= ~1  # clear the dict-page flag
    with pytest.raises(ValueError):
        decode_chunk(bytes(b))


def test_all_null_temporal_parquet_leaf_reads_typed_nulls(tmp_path):
    """read_column_arrow on a row group whose selected column is ALL
    null for a DATE/TIMESTAMP leaf must return a typed all-null column,
    not crash casting a float64 placeholder to date32/timestamp."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_go_spark.compat.parquet_reader import read_column_arrow

    t = pa.table(
        {
            "d": pa.array([None, None, None], type=pa.date32()),
            "ts": pa.array([None, None, None], type=pa.timestamp("us")),
            "ok": pa.array([1, 2, 3], type=pa.int64()),
        }
    )
    p = str(tmp_path / "allnull.parquet")
    pq.write_table(t, p, compression="none")
    buf = open(p, "rb").read()
    d = read_column_arrow(buf, "d")
    assert d.null_count == 3 and pa.types.is_date32(d.type)
    ts = read_column_arrow(buf, "ts")
    assert ts.null_count == 3 and pa.types.is_timestamp(ts.type)
