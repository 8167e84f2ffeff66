"""tf.Example protobuf wire codec + distributed TFRecord-of-Examples source.

The reference's TFRecord payloads are protobuf ``Example`` messages
(proto/feature.pb.go:90,137,184 value fields; :306-314 Feature oneof;
:329 Features map; example.pb.go:37 Example.features), built in
tfdata/core/example.go:52-58 and read back in test/tfrecord_test.go:97-129.
This module is a pure-Python encoder/decoder for exactly that 3-type shape —
the wire format is public protobuf encoding (developers.google.com/
protocol-buffers/docs/encoding); no protobuf runtime is needed for three
fixed messages.

Wire layout (proto3):
- ``Example``:   field 1 (len-delim) = ``Features``
- ``Features``:  field 1 repeated map entry; entry = {1: key (len-delim
  string), 2: value (len-delim ``Feature``)}
- ``Feature``:   oneof {1: BytesList, 2: FloatList, 3: Int64List}, each a
  len-delim message
- ``BytesList``: repeated bytes field 1 (len-delim each)
- ``FloatList``: repeated fixed32 field 1 (packed by default, unpacked
  accepted on decode)
- ``Int64List``: repeated varint field 1 (packed by default, unpacked
  accepted on decode)

The decoded Python value per feature is ``list[bytes] | list[float] |
list[int]``; Spark-side these land in three typed map columns (Spark maps
are homogenous, protobuf maps are not).

Scale shape: decode/encode run batch-level inside ``mapInPandas`` over a
``binaryFile`` scan (one task per .record shard); framing/CRC reuse
sources/tfrecord.py.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from go_tfdata_spark.worker import release_zip_finders

# ---------------------------------------------------------------- primitives


def _write_varint(n: int, out: bytearray) -> None:
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    result = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")


def _skip_field(buf: bytes, pos: int, wire: int) -> int:
    if wire == 0:
        _, pos = _read_varint(buf, pos)
    elif wire == 1:
        pos += 8
    elif wire == 2:
        ln, pos = _read_varint(buf, pos)
        pos += ln
    elif wire == 5:
        pos += 4
    else:
        raise ValueError(f"unsupported wire type {wire}")
    return pos


def _iter_fields(buf: bytes):
    pos, n = 0, len(buf)
    while pos < n:
        tag, pos = _read_varint(buf, pos)
        field, wire = tag >> 3, tag & 7
        if wire == 2:
            ln, pos = _read_varint(buf, pos)
            yield field, wire, buf[pos : pos + ln]
            pos += ln
        elif wire == 0:
            v, pos = _read_varint(buf, pos)
            yield field, wire, v
        elif wire == 5:
            yield field, wire, buf[pos : pos + 4]
            pos += 4
        elif wire == 1:
            yield field, wire, buf[pos : pos + 8]
            pos += 8
        else:
            raise ValueError(f"unsupported wire type {wire}")


# ------------------------------------------------------------------- decode


def _decode_feature(buf: bytes):
    """-> list[bytes] | list[float] | list[int] (empty Feature -> [])."""
    for field, wire, val in _iter_fields(buf):
        if field == 1:  # BytesList
            return [v for f, _w, v in _iter_fields(val) if f == 1]
        if field == 2:  # FloatList: packed (wire 2) or unpacked (wire 5)
            floats: list[float] = []
            for f, w, v in _iter_fields(val):
                if f != 1:
                    continue
                if w == 2:  # packed
                    floats.extend(struct.unpack(f"<{len(v) // 4}f", v))
                else:  # unpacked fixed32
                    floats.append(struct.unpack("<f", v)[0])
            return floats
        if field == 3:  # Int64List: packed (wire 2) or unpacked varints
            ints: list[int] = []
            for f, w, v in _iter_fields(val):
                if f != 1:
                    continue
                if w == 2:  # packed varints
                    pos = 0
                    while pos < len(v):
                        x, pos = _read_varint(v, pos)
                        ints.append(x - (1 << 64) if x >= (1 << 63) else x)
                else:
                    ints.append(v - (1 << 64) if v >= (1 << 63) else v)
            return ints
    return []


def decode_example(payload: bytes) -> dict:
    """Example bytes -> {feature_name: list[bytes]|list[float]|list[int]}."""
    features: dict = {}
    for field, _wire, val in _iter_fields(payload):
        if field != 1:  # Example.features only
            continue
        for f2, _w2, entry in _iter_fields(val):
            if f2 != 1:  # Features.feature map entries only
                continue
            name, feat = None, b""
            for f3, _w3, v3 in _iter_fields(entry):
                if f3 == 1:
                    name = v3.decode("utf-8")
                elif f3 == 2:
                    feat = v3
            if name is not None:
                features[name] = _decode_feature(feat)
    return features


# ------------------------------------------------------------------- encode


def _len_delim(field: int, payload: bytes, out: bytearray) -> None:
    _write_varint((field << 3) | 2, out)
    _write_varint(len(payload), out)
    out.extend(payload)


def _encode_feature(value) -> bytes:
    """list[bytes]|bytes -> BytesList; list[float] -> FloatList (packed);
    list[int] -> Int64List (packed) — mirrors core/example.go:52-58 adders."""
    inner = bytearray()
    feature = bytearray()
    if isinstance(value, (bytes, bytearray, str)):
        value = [value]
    value = list(value)
    if not value:
        return bytes(feature)  # empty Feature: no kind set
    import numbers

    first = value[0]
    if isinstance(first, (bytes, bytearray, str)):
        for v in value:
            _len_delim(1, v.encode("utf-8") if isinstance(v, str) else bytes(v), inner)
        _len_delim(1, bytes(inner), feature)
    elif isinstance(first, numbers.Integral):  # incl. numpy integer scalars
        packed = bytearray()
        for v in value:
            v = int(v)
            _write_varint(v + (1 << 64) if v < 0 else v, packed)
        _len_delim(1, bytes(packed), inner)
        _len_delim(3, bytes(inner), feature)
    elif isinstance(first, numbers.Real):  # incl. numpy float scalars
        packed = struct.pack(f"<{len(value)}f", *(float(v) for v in value))
        _len_delim(1, packed, inner)
        _len_delim(2, bytes(inner), feature)
    else:
        raise TypeError(f"unsupported feature element type {type(first)}")
    return bytes(feature)


def encode_example(features: dict) -> bytes:
    """{name: list[bytes]|list[float]|list[int]} -> Example wire bytes."""
    fmsg = bytearray()
    for name in sorted(features):  # deterministic member order
        entry = bytearray()
        _len_delim(1, name.encode("utf-8"), entry)
        _len_delim(2, _encode_feature(features[name]), entry)
        _len_delim(1, bytes(entry), fmsg)
    out = bytearray()
    _len_delim(1, bytes(fmsg), out)
    return bytes(out)


# ------------------------------------------------------------- Spark surface

EXAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType(), False),
        T.StructField("bytes_features", T.MapType(T.StringType(), T.ArrayType(T.BinaryType())), True),
        T.StructField("float_features", T.MapType(T.StringType(), T.ArrayType(T.FloatType())), True),
        T.StructField("int64_features", T.MapType(T.StringType(), T.ArrayType(T.LongType())), True),
    ]
)


def read_tfexamples(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """Distributed read of TFRecord files containing tf.Example payloads —
    the dual of the reference's readExamples drain (tfrecord_test.go:75-94),
    one task per shard, Arrow-batched decode, CRC-verified framing."""
    from go_tfdata_spark.sources.tfrecord import unframe_records

    files = spark.read.format("binaryFile").load(paths)

    def parse(batches):
        release_zip_finders()
        import pandas as pd

        for pdf in batches:
            rows = {k: [] for k in ("file", "bytes_features", "float_features", "int64_features")}
            for path, content in zip(pdf["path"], pdf["content"]):
                for payload in unframe_records(bytes(content)):
                    feats = decode_example(payload)
                    by_type = {"bytes_features": {}, "float_features": {}, "int64_features": {}}
                    for name, vals in feats.items():
                        if vals and isinstance(vals[0], float):
                            by_type["float_features"][name] = vals
                        elif vals and isinstance(vals[0], int):
                            by_type["int64_features"][name] = vals
                        else:
                            by_type["bytes_features"][name] = [bytes(v) for v in vals]
                    rows["file"].append(path)
                    for k in by_type:
                        rows[k].append(by_type[k])
            yield pd.DataFrame(rows)

    return files.select("path", "content").mapInPandas(parse, EXAMPLE_SCHEMA)


def write_tfexamples(df: DataFrame, out_dir: str) -> int:
    """Distributed sink: each partition writes one TFRecord shard of
    tf.Example payloads built from the three typed map columns (missing
    columns are treated as empty). Unordered across partitions, like the
    reference's async sink (tfdata/core/tfrecord.go:128-180)."""
    import os
    import uuid

    from go_tfdata_spark.sources.tfrecord import frame_records

    os.makedirs(out_dir, exist_ok=True)
    cols = df.columns

    def write_partition(batches):
        release_zip_finders()
        import pandas as pd

        path = os.path.join(out_dir, f"part-{uuid.uuid4().hex}.tfrecord")
        n = 0
        with open(path, "wb") as f:
            for pdf in batches:
                payloads = []
                for i in range(len(pdf)):
                    feats: dict = {}
                    for c in ("bytes_features", "float_features", "int64_features"):
                        if c in cols:
                            m = pdf[c].iloc[i]
                            if m is not None:
                                items = m.items() if hasattr(m, "items") else m
                                for k, v in items:
                                    feats[k] = list(v)
                    payloads.append(encode_example(feats))
                f.write(frame_records(payloads))  # CRCs batch-vectorized
                n += len(payloads)
        if n == 0:
            os.unlink(path)
        yield pd.DataFrame({"n": [n]})

    counts = df.mapInPandas(write_partition, "n long").collect()
    return sum(1 for r in counts if r.n > 0)
