"""tf.Example wire codec vs the reference's golden TFRecord fixtures.

Mirrors /root/reference/test/tfrecord_test.go:97-110 (tf-train-single.record
holds exactly 1 Example), :112-129 (tf-train-medium.record holds 7, each
with an `image_raw` bytes feature), and :131-168 (write->read roundtrip of
100 examples).

Three tests decode the reference's golden files under ``FIXTURES``, written
by TensorFlow, and are skipped where those files are absent:
``test_single_record_pure_python`` (tf-train-single.record),
``test_medium_record_pure_python`` (tf-train-medium.record) and
``test_spark_read_golden_fixtures`` (both). The roundtrip tests build their
examples inside the test.
"""

from __future__ import annotations

import os

import pytest

from go_tfdata_spark.sources.tfexample import (
    decode_example,
    encode_example,
    read_tfexamples,
    write_tfexamples,
)
from go_tfdata_spark.sources.tfrecord import unframe_records

FIXTURES = "/root/reference/test/data"


def _fixtures(*names):
    """Skip unless every reference fixture in ``names`` exists under FIXTURES."""
    missing = [n for n in names if not os.path.exists(f"{FIXTURES}/{n}")]
    return pytest.mark.skipif(
        bool(missing), reason=f"reference fixture {', '.join(missing)} not present"
    )


def _examples(path):
    with open(path, "rb") as f:
        return [decode_example(p) for p in unframe_records(f.read())]


@_fixtures("tf-train-single.record")
def test_single_record_pure_python():
    exs = _examples(f"{FIXTURES}/tf-train-single.record")
    assert len(exs) == 1  # tfrecord_test.go:107-109


@_fixtures("tf-train-medium.record")
def test_medium_record_pure_python():
    exs = _examples(f"{FIXTURES}/tf-train-medium.record")
    assert len(exs) == 7  # tfrecord_test.go:122
    for ex in exs:
        assert "image_raw" in ex  # tfrecord_test.go:125
        (img,) = ex["image_raw"]
        assert isinstance(img, bytes) and len(img) > 0


def test_roundtrip_all_three_kinds():
    feats = {
        "label": [3],
        "weights": [0.5, 1.25, -2.0],
        "image_raw": [b"\x00\x01\xff" * 10],
        "tags": [b"a", b"bb"],
        "negative": [-7, 2**40],
    }
    back = decode_example(encode_example(feats))
    assert back["label"] == [3]
    assert back["weights"] == [0.5, 1.25, -2.0]  # exactly representable f32
    assert back["image_raw"] == feats["image_raw"]
    assert back["tags"] == [b"a", b"bb"]
    assert back["negative"] == [-7, 2**40]


@_fixtures("tf-train-medium.record", "tf-train-single.record")
def test_spark_read_golden_fixtures(spark):
    df = read_tfexamples(spark, f"{FIXTURES}/tf-train-medium.record")
    rows = df.collect()
    assert len(rows) == 7
    for r in rows:
        assert "image_raw" in r.bytes_features
        assert len(r.bytes_features["image_raw"][0]) > 0
    single = read_tfexamples(spark, f"{FIXTURES}/tf-train-single.record")
    assert single.count() == 1


def test_spark_write_read_roundtrip(spark, tmp_path):
    """tfrecord_test.go:131-168: write N examples, read them back equal
    (order-insensitive — the reference sink is explicitly unordered)."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "bytes_features": [{"name": [f"ex-{i}".encode()]} for i in range(100)],
            "float_features": [{"score": [float(i)]} for i in range(100)],
            "int64_features": [{"idx": [i, i * 2]} for i in range(100)],
        }
    )
    df = spark.createDataFrame(pdf).repartition(4)
    n_files = write_tfexamples(df, str(tmp_path / "out"))
    assert n_files >= 1
    back = read_tfexamples(spark, str(tmp_path / "out") + "/*.tfrecord").collect()
    assert len(back) == 100
    got = sorted(
        (bytes(r.bytes_features["name"][0]), r.float_features["score"][0],
         tuple(r.int64_features["idx"]))
        for r in back
    )
    want = sorted((f"ex-{i}".encode(), float(i), (i, i * 2)) for i in range(100))
    assert got == want
