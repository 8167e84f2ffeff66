"""The aligned Arrow fold must be bit-exact for every physical type.

Regression for the round-2 defect: the pandas-based fold let Arrow->pandas
coerce nullable int64 to float64, silently corrupting values > 2^53 in any
fold partition where a tombstone nulls a bigint payload column. The fold is
now pure pyarrow (mapInArrow) — these tests pin the exact-value guarantee.
"""

from __future__ import annotations

from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from go_tfdata_spark.lake.table import LakeTable
from go_tfdata_spark.operators.arrow_fold import aligned_lww_fold_fused

BIG = 1152921504606859321  # > 2^53; float64 rounds it to ...59264


def _fold_and_read(spark, tmp_path, rows, schema, order_cols, num_buckets):
    """Fold `rows` as one epoch and read every written file back with
    pyarrow — no Spark schema-on-read between the fold and the check."""
    df = spark.createDataFrame(rows, schema)
    entries = aligned_lww_fold_fused(
        df.withColumn("epoch", F.lit(0)),
        key_cols=["k"],
        order_cols=order_cols,
        bucket_by="k",
        num_buckets=num_buckets,
        splits=2,
        split_by="k",
        epoch_col="epoch",
        write_dirs={0: str(tmp_path / "fold")},
    ).collect()
    return pa.concat_tables([pq.read_table(r["path"]) for r in entries])


def test_fold_preserves_nullable_int64_bit_exact(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.LongType(), True),
            T.StructField("payload", T.LongType(), True),
        ]
    )
    rows = [
        ("a", 1, BIG),
        ("a", 2, BIG + 1),  # winner for a
        ("b", 1, None),     # tombstone-style null forces a nullable column
        ("c", 3, -BIG),
    ]
    out = _fold_and_read(spark, tmp_path, rows, schema, ["v"], 4)
    got = dict(zip(out["k"].to_pylist(), out["payload"].to_pylist()))
    assert got == {"a": BIG + 1, "b": None, "c": -BIG}
    assert out.schema.field("payload").type == pa.int64()


def test_fold_preserves_microsecond_timestamps(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    t1 = datetime(2025, 1, 1, 0, 0, 0, 123456, tzinfo=timezone.utc)
    t2 = datetime(2025, 1, 1, 0, 0, 0, 123457, tzinfo=timezone.utc)
    out = _fold_and_read(spark, tmp_path, [("a", t1), ("a", t2)], schema, ["ts"], 2)
    [ts] = out["ts"].to_pylist()
    assert ts.microsecond == 123457
    assert out.schema.field("ts").type.unit == "us"


def test_merge_aligned_bigint_with_tombstone(spark, tmp_path):
    """End-to-end: a tombstone delete in the same bucket as a live bigint row
    must not perturb the bigint through the aligned merge."""
    phys = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("big", T.LongType(), True),
            T.StructField("v", T.LongType(), True),
            T.StructField("_deleted", T.BooleanType(), True),
        ]
    )
    t = LakeTable.create(spark, str(tmp_path / "big"), phys, num_buckets=1)
    t.append(
        spark.createDataFrame([("a", 1, BIG, 1, False), ("b", 2, 7, 1, False)], phys)
    )
    # delete b (payload nulled, as physical_rows does) in the same bucket
    src = spark.createDataFrame([("b", 2, None, 2, True)], phys)
    t.merge_aligned_fused(
        src.withColumn("epoch", F.lit(0)), epoch_col="epoch", summaries={0: {}},
        key_cols=["conv_id", "turn_idx"], order_cols=["v"],
        affected_by_epoch={0: None},
    )
    got = {(r.conv_id, r.turn_idx): (r.big, r._deleted) for r in t.read(resolve=False).collect()}
    assert got[("a", 1)] == (BIG, False)
    assert got[("b", 2)] == (None, True)
    assert t.snapshot().summary["merge_strategy"] == "aligned"


def test_fused_fold_rejects_reserved_columns(spark, tmp_path):
    """An input that already holds a column the fused fold reserves for its
    layout coordinates is refused up front, also under `python -O`."""
    df = spark.createDataFrame(
        [(1, 0, 1, 0)], "k long, ts long, _fold_bucket int, epoch long"
    )
    with pytest.raises(ValueError, match="_fold_bucket"):
        aligned_lww_fold_fused(
            df, key_cols=["k"], order_cols=["ts"], bucket_by="k",
            num_buckets=2, splits=2, split_by="k", epoch_col="epoch",
            write_dirs={0: str(tmp_path)},
        )
