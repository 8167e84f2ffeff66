"""Mini-lake table format: atomic commits, snapshots, pruning, evolution."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from go_tfdata_spark.lake.table import CommitConflict, LakeTable, Manifest

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("text", T.StringType(), True),
    ]
)


def _mk(spark, tmp_path, name="t", buckets=4):
    return LakeTable.create(spark, str(tmp_path / name), SCHEMA, num_buckets=buckets)


def test_create_and_empty_read(spark, tmp_path):
    t = _mk(spark, tmp_path)
    assert t.read().count() == 0
    assert t.read().schema == SCHEMA
    assert t.current_version() == 1


def test_append_and_snapshot_isolation(spark, tmp_path):
    t = _mk(spark, tmp_path)
    df = spark.createDataFrame([("a", 1, "x"), ("b", 2, "y")], SCHEMA)
    t.append(df)
    v2 = t.current_version()
    t.append(spark.createDataFrame([("c", 3, "z")], SCHEMA))
    assert t.read().count() == 3
    # old snapshot still readable (time travel)
    assert t.read(version=v2).count() == 2


def test_commit_cas_conflict(spark, tmp_path):
    t = _mk(spark, tmp_path)
    m = t.snapshot()
    dup = Manifest(
        version=m.version, parent=m.parent, schema=m.schema, bucket_by=m.bucket_by,
        num_buckets=m.num_buckets, files=[], summary={}, timestamp=0.0,
    )
    with pytest.raises(CommitConflict):
        t._publish(dup)


def test_bucket_pruned_read(spark, tmp_path):
    t = _mk(spark, tmp_path, buckets=8)
    rows = [(f"c{i}", i, f"t{i}") for i in range(50)]
    t.append(spark.createDataFrame(rows, SCHEMA))
    m = t.snapshot()
    buckets = sorted({f["bucket"] for f in m.files})
    assert len(buckets) > 1  # data actually spread over buckets
    one = t.read_buckets([buckets[0]])
    assert 0 < one.count() < 50


def test_schema_evolution_additive(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(spark.createDataFrame([("a", 1, "x")], SCHEMA))
    t.update_schema([T.StructField("tool_args", T.StringType(), True)])
    # old files read NULL for the new column
    df = t.read()
    assert "tool_args" in df.columns
    assert df.filter(F.col("tool_args").isNull()).count() == 1
    # new writes carry it
    t.append(
        spark.createDataFrame(
            [("b", 2, "y", "{}")],
            T.StructType(SCHEMA.fields + [T.StructField("tool_args", T.StringType(), True)]),
        )
    )
    assert t.read().filter(F.col("tool_args").isNotNull()).count() == 1
    # idempotent re-add is a no-op
    v = t.current_version()
    t.update_schema([T.StructField("tool_args", T.StringType(), True)])
    assert t.current_version() == v


def _merge(t, src, key_cols, order_cols):
    """Order-conditional MERGE of `src` as a one-epoch chunk of the fold."""
    [m] = t.merge_aligned_fused(
        src.withColumn("_epoch", F.lit(0)),
        epoch_col="_epoch",
        summaries={0: {}},
        key_cols=key_cols,
        order_cols=order_cols,
        affected_by_epoch={0: None},
    )
    return m


def test_merge_lww_conditional(spark, tmp_path):
    """Late (older-order) source rows must not overwrite newer target rows."""
    phys = T.StructType(SCHEMA.fields + [T.StructField("v", T.LongType(), True)])
    t = LakeTable.create(spark, str(tmp_path / "m"), phys, num_buckets=4)
    t.append(spark.createDataFrame([("a", 1, "new", 10), ("b", 2, "old", 1)], phys))
    src = spark.createDataFrame([("a", 1, "stale", 5), ("b", 2, "fresh", 7), ("c", 3, "ins", 2)], phys)
    _merge(t, src, key_cols=["conv_id", "turn_idx"], order_cols=["v"])
    got = {(r.conv_id, r.turn_idx): (r.text, r.v) for r in t.read().collect()}
    assert got == {("a", 1): ("new", 10), ("b", 2): ("fresh", 7), ("c", 3): ("ins", 2)}


def test_merge_rewrites_only_affected_buckets(spark, tmp_path):
    t = _mk(spark, tmp_path, buckets=8)
    rows = [(f"c{i}", i, f"t{i}") for i in range(100)]
    t.append(spark.createDataFrame(rows, SCHEMA))
    before = {f["path"]: f["bucket"] for f in t.snapshot().files}
    phys_src = spark.createDataFrame([("c1", 1, "updated")], SCHEMA)
    _merge(t, phys_src, key_cols=["conv_id", "turn_idx"], order_cols=["text"])
    after = t.snapshot()
    touched = set(after.summary["affected_buckets"])
    assert len(touched) == 1
    # files in untouched buckets are byte-identical (same path reused)
    untouched_before = {p for p, b in before.items() if b not in touched}
    after_paths = {f["path"] for f in after.files}
    assert untouched_before <= after_paths


def test_empty_merge_is_noop(spark, tmp_path):
    """An empty source commits a version (it may carry a ledger entry) but
    leaves the file set and the rows exactly as they were."""
    t = _mk(spark, tmp_path)
    t.append(spark.createDataFrame([("a", 1, "x"), ("b", 2, "y")], SCHEMA))
    files = t.snapshot().files
    rows = sorted(t.read().collect())
    _merge(t, spark.createDataFrame([], SCHEMA), ["conv_id", "turn_idx"], ["text"])
    assert t.snapshot().files == files
    assert sorted(t.read().collect()) == rows


def test_compaction_preserves_rows_and_reduces_files(spark, tmp_path):
    t = _mk(spark, tmp_path, buckets=4)
    for i in range(4):  # several commits -> multiple files per bucket
        rows = [(f"c{j}", j, f"v{i}") for j in range(i * 10, i * 10 + 10)]
        t.append(spark.createDataFrame(rows, SCHEMA))
    before_files = len(t.snapshot().files)
    before = sorted((r.conv_id, r.turn_idx, r.text) for r in t.read().collect())
    v = t.current_version()
    t.compact()
    assert t.current_version() == v + 1
    after = sorted((r.conv_id, r.turn_idx, r.text) for r in t.read().collect())
    assert after == before
    assert len(t.snapshot().files) < before_files
    # time travel still sees the pre-compaction snapshot
    assert t.read(version=v).count() == len(before)


def test_compaction_purges_tombstones(spark, tmp_path):
    phys = T.StructType(SCHEMA.fields + [T.StructField("_deleted", T.BooleanType(), True)])
    t = LakeTable.create(spark, str(tmp_path / "tp"), phys, num_buckets=2)
    t.append(spark.createDataFrame(
        [("a", 1, "x", False), ("b", 2, None, True), ("c", 3, "z", False)], phys))
    t.compact(purge_tombstones=True)
    rows = t.read().collect()
    assert {r.conv_id for r in rows} == {"a", "c"}


def test_vacuum_removes_old_versions_keeps_ledger(spark, tmp_path):
    t = _mk(spark, tmp_path, buckets=2)
    for i in range(5):
        t.append(spark.createDataFrame([(f"c{i}", i, "x")], SCHEMA),
                 summary={"job_id": "j", "epoch": i})
    n_rows = t.read().count()
    stats = t.vacuum(keep_versions=2)
    assert stats["removed_manifests"] > 0
    # current state unchanged
    assert t.read().count() == n_rows
    # ledger survives vacuum (exactly-once across maintenance)
    assert t.committed_epochs("j") == {0, 1, 2, 3, 4}
    # orphaned files (unpublished commit) get cleaned — but ONLY past the
    # grace period: a fresh orphan is indistinguishable from a concurrent
    # commit that has written data but not yet CAS-published, and deleting
    # it would corrupt that commit's table version.
    m = t._next_manifest({})
    t._write_data(spark.createDataFrame([("zz", 99, "orphan")], SCHEMA), m)  # never published
    before = t.read().count()
    protected = t.vacuum(keep_versions=2)  # default grace: orphan survives
    assert protected["removed_files"] == 0
    stats2 = t.vacuum(keep_versions=2, orphan_grace_sec=0)
    assert stats2["removed_files"] > 0
    assert t.read().count() == before


def test_stale_version_cache_recovers_after_foreign_vacuum(spark, tmp_path):
    """A handle whose cached version was vacuumed away by ANOTHER process
    must fall back to the directory listing, not return the deleted version
    forever (regression: forward-probe assumed contiguity from the cache)."""
    a = _mk(spark, tmp_path, name="vc")
    a.append(spark.createDataFrame([("a", 1, "x")], SCHEMA))
    assert a.current_version() == 2  # cache now holds 2
    b = LakeTable.load(spark, str(tmp_path / "vc"))
    for i in range(5):
        b.append(spark.createDataFrame([(f"c{i}", i, "y")], SCHEMA))
    b.vacuum(keep_versions=1)  # deletes manifests 1..6, incl. a's cached 2
    assert a.current_version() == 7
    assert a.read().count() == 6  # snapshot() works again


def test_concurrent_writers_one_wins(spark, tmp_path):
    """Optimistic concurrency: two writers committing against the same
    parent version -> exactly one succeeds, the other gets CommitConflict
    and can retry against the new snapshot (no data corruption either way)."""
    t = _mk(spark, tmp_path, buckets=2)
    t.append(spark.createDataFrame([("a", 1, "x")], SCHEMA))
    # both writers prepare manifests from the same snapshot
    m1 = t._next_manifest({"writer": 1})
    m2 = t._next_manifest({"writer": 2})
    m1.files = m1.files + t._write_data(spark.createDataFrame([("b", 2, "y")], SCHEMA), m1)
    m2.files = m2.files + t._write_data(spark.createDataFrame([("c", 3, "z")], SCHEMA), m2)
    t._publish(m1)
    with pytest.raises(CommitConflict):
        t._publish(m2)
    # loser retries through the public API against the fresh snapshot
    t.append(spark.createDataFrame([("c", 3, "z")], SCHEMA))
    rows = {r.conv_id for r in t.read().collect()}
    assert rows == {"a", "b", "c"}


def test_ledger_is_cumulative_and_o1(spark, tmp_path):
    """The compressed (lw, extra) ledger rides inside every commit: lookups
    read ONE manifest, out-of-order epochs compress back into the watermark."""
    t = LakeTable.create(
        spark, str(tmp_path / "led"), SCHEMA, num_buckets=2,
        key_cols=["conv_id", "turn_idx"], order_cols=["turn_idx"],
    )
    df = spark.createDataFrame([("a", 1, "x")], SCHEMA)
    for e in (0, 2, 5, 1):  # deliberately out of order
        t.append(df, summary={"job_id": "j", "epoch": e})
    led = t.snapshot().ledger["j"]
    assert led == {"lw": 2, "extra": [5]}  # 0,1,2 contiguous; 5 out-of-order
    assert t.committed_epochs("j") == {0, 1, 2, 5}
    for e, want in [(0, True), (1, True), (3, False), (5, True), (6, False)]:
        assert t.is_committed("j", e) is want
    t.append(df, summary={"job_id": "j", "epoch": 3})
    t.append(df, summary={"job_id": "j", "epoch": 4})
    assert t.snapshot().ledger["j"] == {"lw": 5, "extra": []}  # drained
    # ledger survives vacuum with NO manifest rewrite
    t.vacuum(keep_versions=1)
    assert t.is_committed("j", 5) and not t.is_committed("j", 6)


def test_append_delta_zombie_epoch_skipped(spark, tmp_path):
    """A second at-least-once execution of an already-committed (job_id,
    epoch) must not double-commit: the publish loop re-checks the ledger."""
    t = LakeTable.create(
        spark, str(tmp_path / "z"), SCHEMA, num_buckets=2,
        key_cols=["conv_id", "turn_idx"], order_cols=["turn_idx"],
    )
    df = spark.createDataFrame([("a", 1, "x")], SCHEMA)
    m1 = t.append_delta(df, summary={"job_id": "jz", "epoch": 7})
    v_after = t.current_version()
    m2 = t.append_delta(df, summary={"job_id": "jz", "epoch": 7})  # zombie
    assert t.current_version() == v_after  # no new commit
    assert m2.version == m1.version
    assert t.read(resolve=False).count() == 1  # no duplicate delta rows live
    assert t.committed_epochs("jz") == {7}


def test_update_schema_concurrent_adds_retry(spark, tmp_path):
    """Racing ADD COLUMNs (e.g. parallel MOR epochs evolving the same field)
    retry through CommitConflict instead of crashing; the add stays
    idempotent."""
    from concurrent.futures import ThreadPoolExecutor

    t = _mk(spark, tmp_path, name="sc")

    def add(i):
        tt = LakeTable.load(spark, str(tmp_path / "sc"))
        tt.update_schema([T.StructField("tool", T.StringType(), True),
                          T.StructField(f"m{i}", T.LongType(), True)])
    with ThreadPoolExecutor(max_workers=8) as ex:
        list(ex.map(add, range(8)))
    names = t.schema().fieldNames()
    assert names.count("tool") == 1
    assert all(f"m{i}" in names for i in range(8))


def test_gate_broadcast_size_gated(spark):
    """The broadcast hint is attached only when the estimated build side fits
    the byte budget — an oversized key set runs unhinted (the planner/AQE
    decides), never a forced driver-side broadcast."""
    from go_tfdata_spark.lake.table import gate_broadcast

    keys = spark.range(100).select(
        F.col("id").cast("string").alias("conv_id"), F.col("id").cast("int").alias("turn_idx")
    )
    big = gate_broadcast(keys, approx_rows=100_000_000)
    assert big is keys  # unhinted: same object back
    small = gate_broadcast(keys, approx_rows=100)
    assert small is not keys
    assert "hint" in small._jdf.queryExecution().analyzed().toString().lower()


def test_full_key_splits_spread_hot_conversation(spark, tmp_path):
    """A hot conv_id's events must spread across multiple (bucket, split)
    files — the split hashes the FULL key (conv_id, turn_idx), so one hot
    conversation is bounded by splits, not serialized into one fold
    partition/file. Reads resolve identically."""
    from go_tfdata_spark.model import TRANSCRIPTS_SCHEMA
    from go_tfdata_spark.operators.merge import (
        create_transcripts_table,
        read_table,
        replay,
    )
    from go_tfdata_spark.sources.changes import synthetic_changes

    # one conversation only: n_convs=1 concentrates every event on conv 0
    changes = synthetic_changes(
        spark, n_events=800, n_convs=1, turns_per_conv=8, n_epochs=1,
        delete_frac=0.0, late_frac=0.0, seed=11,
    )
    table = create_transcripts_table(
        spark, str(tmp_path / "t"), TRANSCRIPTS_SCHEMA, num_buckets=4
    )
    replay(table, changes, job_id="hot")
    m = table.snapshot()
    assert m.split_by == ["conv_id", "turn_idx"]
    splits_used = {(f["bucket"], f["split"]) for f in m.files}
    assert len(splits_used) > 1, splits_used  # hot conv spread, not 1 file
    assert len({b for b, _ in splits_used}) == 1  # still ONE bucket (pruning)
    # state identical to the oracle fold
    got = {(r["conv_id"], r["turn_idx"]): r["text"] for r in read_table(table).collect()}
    pdf = changes.toPandas()
    import duckdb

    want = {
        (c, t): x
        for c, t, x in duckdb.sql(
            """SELECT conv_id, turn_idx, text FROM (
                 SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                   ORDER BY ts DESC, lsn DESC, src_part DESC) rn FROM pdf)
               WHERE rn=1 AND op<>'D'"""
        ).fetchall()
    }
    assert got == want


def test_legacy_split_by_absent_uses_bucket_key(spark, tmp_path):
    """Manifests without split_by (pre-round-6 tables) must keep the
    bucket-key-only split so recorded file coordinates stay aligned."""
    import json as _json

    from go_tfdata_spark.model import TRANSCRIPTS_SCHEMA
    from go_tfdata_spark.operators.merge import (
        create_transcripts_table,
        read_table,
        replay,
    )
    from go_tfdata_spark.sources.changes import synthetic_changes

    table = create_transcripts_table(
        spark, str(tmp_path / "t"), TRANSCRIPTS_SCHEMA, num_buckets=4
    )
    # simulate a legacy table: strip split_by from the create manifest
    mp = table._manifest_path(1)
    d = _json.loads(open(mp).read())
    d["split_by"] = None
    os.chmod(mp, 0o644)
    open(mp, "w").write(_json.dumps(d))
    changes = synthetic_changes(
        spark, n_events=600, n_epochs=2, delete_frac=0.1, late_frac=0.2, seed=12
    )
    replay(table, changes, job_id="legacy")
    assert table.snapshot().split_by is None  # carried forward as legacy
    pdf = changes.toPandas()
    import duckdb

    want = duckdb.sql(
        """SELECT count(*) FROM (
             SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
               ORDER BY ts DESC, lsn DESC, src_part DESC) rn FROM pdf)
           WHERE rn=1 AND op<>'D'"""
    ).fetchone()[0]
    assert read_table(table).count() == want
