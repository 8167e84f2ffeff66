"""TAR/TGZ source vs the reference's own fixtures and test assertions.

Mirrors /root/reference/test/tar_test.go:17-39 (small-10.tar: 10 samples,
each with cls+jpg), :41-67 (small-mnist-21.tar: 21 samples, cls is one byte
in '0'..'9'), :69-91 (tar.gz parity), :93-121 (invalid archive raises).

Three tests check the contents of the reference's golden archives under
``FIXTURES`` and are skipped where those files are absent:
``test_small_tar_ten_complete_samples`` and
``test_member_rows_key_field_split`` (small-10.tar) and
``test_mnist_tar_classes_are_digits`` (small-mnist-21.tar).
Every other test builds its archive inside the test. The plan and pruning
checks plan over such an archive. ``test_targz_matches_tar`` compares a
built TAR with its gzip, and also the reference's small-10.tar/.tar.gz pair
wherever both files exist.
"""

from __future__ import annotations

import gzip
import io
import os
import tarfile

import pytest
from pyspark.sql import functions as F

from go_tfdata_spark.sources.tar import read_tar_members, read_tar_samples

FIXTURES = "/root/reference/test/data"


def _fixture(name):
    """Skip unless the reference fixture ``name`` exists under FIXTURES."""
    return pytest.mark.skipif(
        not os.path.exists(f"{FIXTURES}/{name}"),
        reason=f"reference fixture {name} not present",
    )


def _write_sample_tar(path):
    """Write a TAR of 10 samples ``s/<i>.{cls,jpg}`` (the shape of the
    reference's small-10.tar) to ``path`` and return its bytes."""
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for i in range(10):
            for f in ("cls", "jpg"):
                data = f"{i:03d}.{f}".encode()
                info = tarfile.TarInfo(name=f"s/{i:03d}.{f}")
                info.size = len(data)
                tf.addfile(info, io.BytesIO(data))
    path.write_bytes(buf.getvalue())
    return buf.getvalue()


@_fixture("small-10.tar")
def test_small_tar_ten_complete_samples(spark):
    samples = read_tar_samples(spark, f"{FIXTURES}/small-10.tar").collect()
    assert len(samples) == 10  # tar_test.go:38
    for r in samples:
        assert set(r.members.keys()) == {"cls", "jpg"}  # + key column = 3 entries


@_fixture("small-mnist-21.tar")
def test_mnist_tar_classes_are_digits(spark):
    samples = read_tar_samples(spark, f"{FIXTURES}/small-mnist-21.tar").collect()
    assert len(samples) == 21  # tar_test.go:66
    for r in samples:
        assert set(r.members.keys()) == {"cls", "img"}
        cls = bytes(r.members["cls"])
        assert len(cls) == 1 and b"0" <= cls <= b"9"  # tar_test.go:58-60


def test_targz_matches_tar(spark, tmp_path):
    """NewTarGzReader parity (tar_test.go:69-91): same records either way.

    The reference's small-10.tar.gz is the gzip of its small-10.tar, so the
    pair is built here the same way; the reference pair is compared too
    wherever both files exist."""
    built = tmp_path / "s.tar"
    (tmp_path / "s.tar.gz").write_bytes(gzip.compress(_write_sample_tar(built)))
    pairs = [(str(built), f"{built}.gz")]
    ref = f"{FIXTURES}/small-10.tar"
    if os.path.exists(ref) and os.path.exists(f"{ref}.gz"):
        pairs.append((ref, f"{ref}.gz"))
    for tar_path, tgz_path in pairs:
        tar = {
            (r.key, tuple(sorted(r.members.keys())))
            for r in read_tar_samples(spark, tar_path).collect()
        }
        tgz = {
            (r.key, tuple(sorted(r.members.keys())))
            for r in read_tar_samples(spark, tgz_path).collect()
        }
        assert tar == tgz and len(tar) == 10


@_fixture("small-10.tar")
def test_member_rows_key_field_split(spark):
    rows = read_tar_members(spark, f"{FIXTURES}/small-10.tar").collect()
    assert len(rows) == 20  # 10 samples x {cls, jpg}
    keys = {r.key for r in rows}
    assert all("/" in k for k in keys)  # dir prefix retained in the key
    assert {r.field for r in rows} == {"cls", "jpg"}


def test_invalid_tar_raises(spark, tmp_path):
    """tar_test.go:93-121: a non-TAR payload must fail the read, not skip."""
    bad = tmp_path / "bad.tar"
    bad.write_bytes(b"invalid TAR")
    with pytest.raises(Exception, match="(?i)tar|read|header|file"):
        read_tar_members(spark, str(bad)).collect()


def test_incomplete_records_filtered_by_expected_fields(spark, tmp_path):
    """Seek-reader emit-on-complete: a key missing one expected member is
    held back (seekreader.go:125-135 + SameMembers manager.go:33-43)."""
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for key, fields in [("a/000", ("cls", "jpg")), ("a/001", ("cls",))]:
            for f in fields:
                data = f"{key}.{f}".encode()
                info = tarfile.TarInfo(name=f"{key}.{f}")
                info.size = len(data)
                tf.addfile(info, io.BytesIO(data))
    p = tmp_path / "partial.tar"
    p.write_bytes(buf.getvalue())
    complete = read_tar_samples(spark, str(p), expected_fields=["cls", "jpg"])
    assert [r.key for r in complete.collect()] == ["a/000"]
    greedy = read_tar_samples(spark, str(p))
    assert greedy.count() == 2  # greedy reader emits incomplete records too


def _plan_archive(tmp_path_factory):
    """A small TAR at a path free of the word ``content``: the executed
    plan prints the scan's Location, and a test's own ``tmp_path`` is named
    after the test."""
    p = tmp_path_factory.mktemp("plan") / "a.tar"
    _write_sample_tar(p)
    return str(p)


def test_tar_plan_is_arrow_batched_not_per_row(spark, tmp_path_factory):
    plan = read_tar_members(
        spark, _plan_archive(tmp_path_factory)
    )._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan


def test_tar_scan_never_materializes_archive_content(spark, tmp_path_factory):
    """The scan is pruned to `path` — task memory is O(member), not
    O(archive) (the reason the reference has a seek reader,
    seekreader.go:16-35). The binaryFile `content` column must not appear
    in the executed plan's read schema."""
    plan = read_tar_members(
        spark, _plan_archive(tmp_path_factory)
    )._jdf.queryExecution().executedPlan().toString()
    assert "content" not in plan
    assert "path" in plan


def test_tar_streaming_chunks_cross_archive_boundaries(spark, tmp_path):
    """An archive far larger than the output chunk must stream through in
    multiple Arrow batches with nothing lost or duplicated."""
    p = tmp_path / "big.tar"
    with tarfile.open(str(p), mode="w") as tf:
        for i in range(50):
            for f in ("cls", "jpg"):
                data = (f"{i:03d}.{f}" * 40).encode()
                info = tarfile.TarInfo(name=f"s/{i:03d}.{f}")
                info.size = len(data)
                tf.addfile(info, io.BytesIO(data))
    # chunk_rows=7 forces ~15 flushes across member boundaries
    rows = read_tar_members(spark, str(p), chunk_rows=7, chunk_bytes=1 << 60).collect()
    assert len(rows) == 100
    assert sorted({r.key for r in rows}) == [f"s/{i:03d}" for i in range(50)]
    byf = {(r.key, r.field): bytes(r.value) for r in rows}
    assert byf[("s/007", "jpg")] == ("007.jpg" * 40).encode()
