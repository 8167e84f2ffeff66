"""TAR / TAR.GZ archive source — the reference's primary ingest surface.

The reference reads WebDataset-style archives where each sample's fields are
adjacent members named ``<key>.<ext>`` (tfdata/archive/tar.go:50-69
NewTarReader/NewTarGzReader; member->record fold greedyreader.go:56-87;
key/ext split tar.go:64-69 nameExtFromHeader). The Spark-native restatement:

- ``read_tar_members``: a ``binaryFile`` scan pruned to the PATH column
  only (one row per archive — Spark schedules archives across executors,
  the unit of parallelism the reference gets from one goroutine per
  reader) feeding an Arrow-batched ``mapInPandas`` that opens each archive
  as a STREAM (``tarfile`` mode ``r|*``) and emits one row per member:
  (archive, key, field, value-bytes). Task memory is O(member) + one
  output chunk, never O(archive) — the same reason the reference grew a
  seek reader (archive/seekreader.go:16-35); a 100 GB shard streams
  through a constant-size window. ``r|*`` detects gzip on the stream, so
  ``.tar``/``.tar.gz``/``.tgz`` all work (reference exposes both
  constructors, tar.go:50-62). Non-local URIs open through ``pyarrow.fs``
  input streams (S3/HDFS/GCS), local paths through plain ``open``.
- ``read_tar_samples``: members folded into one row per key with a
  ``members`` map — the engine's `assemble_records` hash aggregation
  (manager.go:57-63 UpdateRecord upsert), optionally filtered to complete
  records (SameMembers, manager.go:33-43).

Scale shape: per-archive Python cost is batch-level (one tarfile pass), the
member fold is a map-side-combining hash agg, and nothing ever collects to
the driver. Archives are the natural 100 TB unit — a million 100 MB shards
schedule as a million independent tasks.

An invalid archive raises in the task (the reference surfaces the error on
first Read(), test/tar_test.go:93-121) — fail-fast, not silent skip.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from go_tfdata_spark.operators.assembly import assemble_records, complete_records
from go_tfdata_spark.worker import release_zip_finders

# Reference core.Sample stores the record key under "__key__"
# (tfdata/core/sample.go:7); here the key is a real column, which user code
# can rename/copy into the members map if byte-level Sample parity is needed.
KEY_COLUMN = "key"

MEMBER_SCHEMA = T.StructType(
    [
        T.StructField("archive", T.StringType(), False),
        T.StructField(KEY_COLUMN, T.StringType(), False),
        T.StructField("field", T.StringType(), False),
        T.StructField("value", T.BinaryType(), True),
    ]
)


def _split_member_name(name: str) -> tuple[str, str]:
    """tar.go:64-69: key = path minus extension, field = extension."""
    base, ext = os.path.splitext(name)
    return base, ext.lstrip(".")


# Flush the member buffer to an Arrow batch once it holds this many payload
# bytes (or rows) — the task's output-side memory bound.
_CHUNK_BYTES = 32 * 1024 * 1024
_CHUNK_ROWS = 4096


def _open_stream(uri: str):
    """Open an archive URI as a sequential byte stream (no full read)."""
    from urllib.parse import unquote, urlparse

    p = urlparse(uri)
    if p.scheme in ("file", ""):
        return open(unquote(p.path) if p.scheme else uri, "rb")
    from pyarrow import fs as pafs

    filesystem, path = pafs.FileSystem.from_uri(uri)
    return filesystem.open_input_stream(path)


def read_tar_members(
    spark: SparkSession,
    paths: str | list[str],
    chunk_bytes: int = _CHUNK_BYTES,
    chunk_rows: int = _CHUNK_ROWS,
) -> DataFrame:
    """One row per archive member: (archive, key, field, value)."""
    # Prune to `path` BEFORE mapInPandas: the binaryFile source then never
    # materializes archive bytes in the JVM; Python streams each archive.
    files = spark.read.format("binaryFile").load(paths).select("path")

    def parse(batches):
        release_zip_finders()
        import tarfile

        import pandas as pd

        buf: list[tuple] = []
        buf_bytes = 0

        def flush():
            nonlocal buf, buf_bytes
            out = pd.DataFrame(buf, columns=["archive", KEY_COLUMN, "field", "value"])
            buf, buf_bytes = [], 0
            return out

        for pdf in batches:
            for path in pdf["path"]:
                # Streaming mode "r|*": sequential member walk, transparent
                # gzip detection on the stream, O(member) memory. Raises
                # tarfile.ReadError on a non-TAR payload, matching the
                # reference's first-Read() failure contract.
                with _open_stream(path) as fo:
                    with tarfile.open(fileobj=fo, mode="r|*") as tf:
                        for member in tf:
                            if not member.isfile():
                                continue
                            key, ext = _split_member_name(member.name)
                            fobj = tf.extractfile(member)
                            val = fobj.read() if fobj is not None else b""
                            buf.append((path, key, ext, val))
                            buf_bytes += len(val)
                            if buf_bytes >= chunk_bytes or len(buf) >= chunk_rows:
                                yield flush()
        if buf:
            yield flush()

    return files.mapInPandas(parse, MEMBER_SCHEMA)


def read_tar_samples(
    spark: SparkSession,
    paths: str | list[str],
    expected_fields: list[str] | None = None,
) -> DataFrame:
    """Assembled samples: one row per key with a members map<field, bytes>.

    With ``expected_fields``, only complete records pass (the seek reader's
    emit-on-complete semantics, seekreader.go:125-135); without, every key
    seen in the archive yields a record (greedy reader semantics).
    """
    members = read_tar_members(spark, paths)
    samples = assemble_records(
        members, key_cols=["archive", KEY_COLUMN], field_col="field", value_col="value"
    )
    if expected_fields is not None:
        samples = complete_records(samples, expected_fields)
    return samples
