"""TFRecord file format: distributed write + read (reference parity).

The reference's native sink/source is the TFRecord framing —
8-byte LE length, masked CRC32-C of the length, payload, masked CRC32-C of
the payload (tfdata/core/tfrecord.go:60-88 write, :195-236 read), with the
mask ((crc>>15 | crc<<17) + 0xa282ead8) from internal/checksum/crc.go:28-31.
The engine's primary sink is the lake table; this module exists so users of
the reference's TFRecord round-trip (doc.go:12-29) can keep that path:

- `write_tfrecords(df, dir)` — each partition writes one .tfrecord file (the
  distributed analog of WriteMessagesAsync's unordered parallel sink,
  tfrecord.go:124-180). The row->JSON payload serialization runs JVM-side
  (`F.to_json`, whole-stage codegen); Python only frames ready-made byte
  payloads at Arrow-batch level inside `mapInPandas` — no per-row Python,
  no df.rdd. (The engine's payload is transcripts, not tf.Example protos —
  the framing and checksums are format-exact; for protobuf Example payloads
  see sources/tfexample.py.)
- `read_tfrecords(spark, dir)` — parallel `binaryFile` read + frame/CRC
  verification in an Arrow-batched unframe, then JVM-side `from_json`
  (dual of TFRecordReader.ReadNext, tfrecord.go:207-236).

Format knowledge is public (TensorFlow documentation of TFRecord framing).
"""

from __future__ import annotations

import os
import struct
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from go_tfdata_spark.worker import release_zip_finders

# Lossless, session-TZ-independent timestamp round-trip (same rationale as
# operators/lww.py:_JSON_TS_OPTS — the default format truncates to ms).
_JSON_OPTS = {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"}

_MASK_DELTA = 0xA282EAD8
_CASTAGNOLI_POLY = 0x82F63B78


def _crc32c_table():
    table = []
    for i in range(256):
        crc = i
        for _ in range(8):
            crc = (crc >> 1) ^ (_CASTAGNOLI_POLY if crc & 1 else 0)
        table.append(crc)
    return table


_TABLE = _crc32c_table()

# ---------------------------------------------------------------------------
# Vectorized CRC32-C (numpy, dependency-free).
#
# CRC is a byte-serial recurrence, so it cannot be vectorized ALONG one
# message — but it vectorizes perfectly ACROSS messages: stack K payloads as
# the columns of a byte matrix and advance all K registers one byte-position
# per numpy step (`_crc_columns`). Two facts of the reflected init-0 register
# make the stacking exact:
#   * leading zero bytes are the identity (table[0] == 0), so shorter
#     payloads can be left-padded to the class width for free;
#   * the 0xFFFFFFFF init is equivalent to init 0 with the first four real
#     bytes XORed with the init's little-endian bytes.
# A single huge buffer reuses the same kernel by splitting into fixed-size
# chunks (rows), then merging the per-chunk registers with the standard
# GF(2) zero-extension operator (crc32_combine's matrix trick) in a
# vectorized tree reduction — O(len/CHUNK) numpy work, never per byte.
# ---------------------------------------------------------------------------

_CHUNK = 1024  # row width for the single-big-buffer path


def _np_table():
    import numpy as np

    return np.array(_TABLE, dtype=np.uint32)


_NP_TABLE = None


def _crc_columns(mat):
    """Advance K CRC registers over the rows of `mat` ((L, K) uint8, already
    init-XORed); returns K raw register values (pre final-XOR)."""
    import numpy as np

    global _NP_TABLE
    if _NP_TABLE is None:
        _NP_TABLE = _np_table()
    crc = np.zeros(mat.shape[1], dtype=np.uint32)
    for row in mat:
        crc = _NP_TABLE[(crc ^ row) & np.uint32(0xFF)] ^ (crc >> np.uint32(8))
    return crc


def _xor_init_first4(mat, lengths):
    """XOR 0xFFFFFFFF (little-endian) into each column's first 4 real bytes."""
    import numpy as np

    L = mat.shape[0]
    starts = L - np.asarray(lengths, dtype=np.int64)
    cols = np.arange(mat.shape[1])
    for b in range(4):
        mat[starts + b, cols] ^= np.uint8(0xFF)


def _one_zero_byte_op():
    """The one-zero-byte register step as a GF(2) 32x32 matrix (column i =
    step applied to basis vector 1<<i)."""
    return [_TABLE[(1 << i) & 0xFF] ^ ((1 << i) >> 8) for i in range(32)]


def _mat_vec(m, v):
    r = 0
    i = 0
    while v:
        if v & 1:
            r ^= m[i]
        v >>= 1
        i += 1
    return r


def _mat_sq(m):
    return [_mat_vec(m, c) for c in m]


def _zero_op_tables(n_bytes: int):
    """4x256 lookup tables applying the 'extend by n_bytes zeros' operator
    (n_bytes a power of two)."""
    import numpy as np

    m = _one_zero_byte_op()
    k = n_bytes
    while k > 1:  # m currently = op^1; square log2(n_bytes) times
        m = _mat_sq(m)
        k >>= 1
    tabs = np.empty((4, 256), dtype=np.uint32)
    for t in range(4):
        for v in range(256):
            tabs[t, v] = _mat_vec(m, v << (8 * t))
    return tabs


_ZERO_OPS: dict[int, object] = {}


def _apply_zero_op(tabs, crcs):
    """Vectorized operator application via 4 byte-table lookups."""
    import numpy as np

    c = crcs
    return (
        tabs[0][c & np.uint32(0xFF)]
        ^ tabs[1][(c >> np.uint32(8)) & np.uint32(0xFF)]
        ^ tabs[2][(c >> np.uint32(16)) & np.uint32(0xFF)]
        ^ tabs[3][(c >> np.uint32(24)) & np.uint32(0xFF)]
    )


def _crc32c_py(data: bytes) -> int:
    crc = 0xFFFFFFFF
    for b in data:
        crc = _TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def crc32c(data: bytes) -> int:
    """CRC32-C of one buffer. Small inputs take the table loop; large inputs
    run the chunk-parallel numpy kernel + GF(2) combine tree (~100x)."""
    n = len(data)
    if n < 4 * _CHUNK:
        return _crc32c_py(data)
    import numpy as np

    k = -(-n // _CHUNK)
    k2 = 1 << (k - 1).bit_length()  # zero-pad rows to a power of two
    pad = k2 * _CHUNK - n  # leading zeros: identity under init-0
    buf = np.zeros(k2 * _CHUNK, dtype=np.uint8)
    buf[pad:] = np.frombuffer(data, dtype=np.uint8)
    for b in range(4):  # init into the first 4 real bytes
        buf[pad + b] ^= np.uint8(0xFF)
    # Chunks must become columns; a uint8 transpose is a byte-granular
    # strided scatter (measured dominating the whole CRC). Transpose at
    # uint64 granularity instead (8x fewer, cache-line-wide moves) and peel
    # the 8 little-endian bytes per word inside the register loop.
    import sys

    assert sys.byteorder == "little"
    words = np.ascontiguousarray(buf.view("<u8").reshape(k2, _CHUNK // 8).T)
    global _NP_TABLE
    if _NP_TABLE is None:
        _NP_TABLE = _np_table()
    crc = np.zeros(k2, dtype=np.uint32)
    for wrow in words:
        for b in range(8):
            byte = ((wrow >> np.uint64(8 * b)) & np.uint64(0xFF)).astype(np.uint32)
            crc = _NP_TABLE[(crc ^ byte) & np.uint32(0xFF)] ^ (crc >> np.uint32(8))
    raws = crc
    # tree-combine consecutive chunks: (a, b) -> zero_extend_{len(b)}(a) ^ b
    width = _CHUNK
    while len(raws) > 1:
        if width not in _ZERO_OPS:
            _ZERO_OPS[width] = _zero_op_tables(width)
        raws = _apply_zero_op(_ZERO_OPS[width], raws[0::2]) ^ raws[1::2]
        width *= 2
    return int(raws[0]) ^ 0xFFFFFFFF


def crc32c_many(payloads) -> "list[int]":
    """CRC32-C of many buffers at once — vectorized across payloads by
    power-of-two size class (left-zero-padding is free, see module note)."""
    import numpy as np

    out = [0] * len(payloads)
    classes: dict[int, list[int]] = {}
    for i, p in enumerate(payloads):
        n = len(p)
        if n < 4:
            out[i] = _crc32c_py(p)
        elif n >= 4 * _CHUNK:
            out[i] = crc32c(p)
        else:
            cls = 1 << max(3, (n - 1).bit_length())
            classes.setdefault(cls, []).append(i)
    for cls, idxs in classes.items():
        mat = np.zeros((cls, len(idxs)), dtype=np.uint8)
        lengths = []
        for j, i in enumerate(idxs):
            p = payloads[i]
            mat[cls - len(p):, j] = np.frombuffer(p, dtype=np.uint8)
            lengths.append(len(p))
        _xor_init_first4(mat, lengths)
        crcs = _crc_columns(mat) ^ np.uint32(0xFFFFFFFF)
        for j, i in enumerate(idxs):
            out[i] = int(crcs[j])
    return out


def _mask(c: int) -> int:
    return (((c >> 15) | (c << 17)) + _MASK_DELTA) & 0xFFFFFFFF


def masked_crc(data: bytes) -> int:
    """The TFRecord masked checksum (crc.go:28-31): not plain crc32c, so
    Spark's built-in F.crc32 (zlib polynomial) cannot stand in."""
    return _mask(crc32c(data))


def masked_crc_many(payloads) -> "list[int]":
    return [_mask(c) for c in crc32c_many(payloads)]


def frame_records(payloads: "list[bytes]") -> bytes:
    """Frame many payloads (tfrecord.go:64-88 layout) with batch CRCs:
    len(8LE) + maskedcrc(len) + payload + maskedcrc(payload) per record."""
    headers = [struct.pack("<Q", len(p)) for p in payloads]
    hcrcs = masked_crc_many(headers)
    pcrcs = masked_crc_many(payloads)
    parts = []
    for h, hc, p, pc in zip(headers, hcrcs, payloads, pcrcs):
        parts += (h, struct.pack("<I", hc), p, struct.pack("<I", pc))
    return b"".join(parts)


def frame_record(payload: bytes) -> bytes:
    """tfrecord.go:64-88: len(8LE) + maskedcrc(len) + payload + maskedcrc(payload)."""
    return frame_records([payload])


def unframe_records(blob: bytes, verify: bool = True) -> "list[bytes]":
    """Split a shard into payload frames; raises on CRC mismatch like
    tfrecord.go:216-233. Framing is walked serially (O(frames)); the CRCs
    are verified in one vectorized batch afterwards."""
    off = 0
    n = len(blob)
    offsets: list[int] = []
    headers: list[bytes] = []
    payloads: list[bytes] = []
    want_hcrc: list[int] = []
    want_pcrc: list[int] = []
    while off < n:
        if off + 12 > n:
            raise ValueError("truncated frame header")
        length_bytes = blob[off : off + 8]
        (length,) = struct.unpack("<Q", length_bytes)
        (len_crc,) = struct.unpack("<I", blob[off + 8 : off + 12])
        start = off + 12
        payload = blob[start : start + length]
        if len(payload) != length:
            raise ValueError("truncated payload")
        (data_crc,) = struct.unpack("<I", blob[start + length : start + length + 4])
        offsets.append(off)
        headers.append(length_bytes)
        payloads.append(payload)
        want_hcrc.append(len_crc)
        want_pcrc.append(data_crc)
        off = start + length + 4
    if verify and payloads:
        for got, want, o in zip(masked_crc_many(headers), want_hcrc, offsets):
            if got != want:
                raise ValueError(f"length CRC mismatch at offset {o}")
        for got, want, o in zip(masked_crc_many(payloads), want_pcrc, offsets):
            if got != want:
                raise ValueError(f"payload CRC mismatch at offset {o}")
    return payloads


def write_tfrecords(df: DataFrame, out_dir: str) -> int:
    """Distributed TFRecord sink: one file per partition, unordered across
    partitions (the reference's async sink is explicitly unordered,
    tfrecord.go:170-175 — equality checks must be order-insensitive).
    Returns number of files written.

    Plan shape: row -> JSON happens in Catalyst (`to_json(struct(*))`,
    codegen'd, binary base64 / timestamps microsecond-exact); the Arrow
    batches that reach Python already hold finished payload strings, and the
    Python stage only frames bytes + writes the shard — batch-level work
    proportional to output bytes, not row-decode cost."""
    os.makedirs(out_dir, exist_ok=True)
    payloads = df.select(
        F.to_json(F.struct(*[F.col(c) for c in df.columns]), _JSON_OPTS).alias("json")
    )

    def write_partition(batches):
        release_zip_finders()
        import pandas as pd

        path = os.path.join(out_dir, f"part-{uuid.uuid4().hex}.tfrecord")
        n = 0
        with open(path, "wb") as f:
            for pdf in batches:
                f.write(frame_records([s.encode("utf-8") for s in pdf["json"]]))
                n += len(pdf)
        if n == 0:
            os.unlink(path)
        yield pd.DataFrame({"n": [n]})

    counts = payloads.mapInPandas(write_partition, "n long").collect()
    return sum(1 for r in counts if r.n > 0)


def read_tfrecords(spark: SparkSession, in_dir: str, schema: T.StructType | None = None) -> DataFrame:
    """Parallel TFRecord source: spark.read.format('binaryFile') per file ->
    Arrow-batched unframe + CRC verify -> JVM `from_json` row decode (dual
    of ReadAllExamples, tfrecord.go:238-259, but distributed instead of
    drain-to-slice)."""
    files = spark.read.format("binaryFile").load(os.path.join(in_dir, "*.tfrecord"))

    def unframe(batches):
        release_zip_finders()
        import pandas as pd

        for pdf in batches:
            out: list[str] = []
            for content in pdf["content"]:
                out.extend(p.decode("utf-8") for p in unframe_records(bytes(content)))
            yield pd.DataFrame({"json": out})

    jdf = files.select("content").mapInPandas(unframe, "json string")
    if schema is None:
        return jdf
    return jdf.select(F.from_json("json", schema, _JSON_OPTS).alias("r")).select("r.*")
