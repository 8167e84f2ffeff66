"""Change-feed OUT surfaces: epoch-range catch-up reads
(`table_changes_range`) and the readStream wrapper (`go_tfdata_cdf`
Python streaming data source) — consistency against snapshots, exact
agreement between batch and stream paths, and checkpointed resume."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_tfdata_spark.model import TRANSCRIPTS_SCHEMA
from go_tfdata_spark.operators.merge import (
    apply_changes,
    create_transcripts_table,
    read_table,
    replay,
    table_changes_range,
)
from go_tfdata_spark.sources.changes import synthetic_changes
from go_tfdata_spark.streaming.feed import read_change_feed_stream

KEY = lambda r: (r["conv_id"], r["turn_idx"])  # noqa: E731


def _apply_feed(rows, mat=None):
    mat = dict(mat or {})
    for r in sorted(rows, key=lambda r: r["_commit_epoch"]):
        if r["_change_type"] == "delete":
            mat.pop(KEY(r), None)
        else:
            mat[KEY(r)] = r["text"]
    return mat


def _snap(table, epoch, job="j"):
    return {
        KEY(r): r["text"]
        for r in read_table(table, as_of_epoch=epoch, job_id=job).collect()
    }


@pytest.fixture()
def replayed(spark, tmp_path):
    changes = synthetic_changes(
        spark, n_events=1200, n_epochs=3, delete_frac=0.15, late_frac=0.2, seed=5
    )
    table = create_transcripts_table(
        spark, str(tmp_path / "t"), TRANSCRIPTS_SCHEMA, num_buckets=4
    )
    replay(table, changes, job_id="j")
    return table


def test_range_feed_reproduces_snapshots(replayed):
    """feed(0..k) applied to the EMPTY table == snapshot k, for every k;
    feed(j..k) applied to snapshot j-1 == snapshot k."""
    table = replayed
    for k in range(3):
        rows = table_changes_range(table, "j", 0, k).collect()
        assert _apply_feed(rows) == _snap(table, k)
    rows = table_changes_range(table, "j", 1, 2).collect()
    assert _apply_feed(rows, _snap(table, 0)) == _snap(table, 2)


def _n_scans(df):
    # Final physical plan only (AQE's toString appends an "Initial Plan"
    # section that would double-count every node).
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    return plan.count("FileScan parquet") + plan.count("BatchScan")


def test_range_feed_single_job_equals_union(replayed):
    """The one-plan variant must emit EXACTLY the per-epoch union's rows,
    same columns, and its scan count must be CONSTANT in the epoch-range
    length (two scans total: cur side full-width, prev side column-pruned
    to key+order+_deleted) — vs the legacy union whose plan grows one
    two-scan diff arm per epoch."""
    table = replayed
    one = table_changes_range(table, "j", 0, 2, single_job=True)
    many = table_changes_range(table, "j", 0, 2, single_job=False)
    assert one.columns == many.columns
    row_set = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    assert row_set(one) == row_set(many)
    short = table_changes_range(table, "j", 1, 1, single_job=True)
    short.collect()
    assert _n_scans(one) == _n_scans(short) == 2
    # the legacy union grows one diff arm (2 scans; 1 for the parentless
    # first epoch) per epoch: 1 + 2 + 2 here
    many.collect()
    assert _n_scans(many) == 5


def test_range_feed_single_job_mor(spark, tmp_path):
    """MOR snapshots carry unresolved delta files; the one-plan variant
    must LWW-resolve them per (epoch, side) before diffing — exercised
    here because no COW fixture ever sets `need_resolve`."""
    changes = synthetic_changes(
        spark, n_events=800, n_epochs=3, delete_frac=0.15, late_frac=0.2, seed=7
    )
    table = create_transcripts_table(
        spark, str(tmp_path / "t"), TRANSCRIPTS_SCHEMA, num_buckets=4
    )
    replay(table, changes, job_id="j", merge_strategy="mor")
    assert table.snapshot().has_deltas
    one = table_changes_range(table, "j", 0, 2, single_job=True)
    many = table_changes_range(table, "j", 0, 2, single_job=False)
    row_set = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    assert row_set(one) == row_set(many)
    assert _apply_feed(one.collect()) == _snap(table, 2)


def test_ledger_contains_copies_agree():
    """feed._ledger_contains is a deliberate self-containment copy of
    lake.table._ledger_contains (pickle-by-value requirement); pin the two
    to identical behavior so they cannot drift apart silently."""
    from go_tfdata_spark.lake import table as lt
    from go_tfdata_spark.streaming import feed as fd

    cases = [
        ({}, "j", 0),
        ({"j": {"lw": 3, "extra": []}}, "j", 2),
        ({"j": {"lw": 3, "extra": []}}, "j", 4),
        ({"j": {"lw": 3, "extra": [5]}}, "j", 5),
        ({"j": {"lw": 3, "extra": [5]}}, "k", 1),
    ]
    for ledger, job, epoch in cases:
        assert fd._ledger_contains(ledger, job, epoch) == lt._ledger_contains(
            ledger, job, epoch
        ), (ledger, job, epoch)
    # the metadata/order constants are copies for the same reason: _META
    # mirrors merge.META_COLUMNS; _ORDER is the physical LWW total order
    # ("ts" + the two stored order meta columns)
    from go_tfdata_spark.operators import merge as M

    assert list(fd._META) == list(M.META_COLUMNS)
    assert list(fd._ORDER) == ["ts"] + list(M.META_COLUMNS[:2])


def test_register_change_feed_raises_on_pickle_failure(spark, monkeypatch):
    """A failed by-value registration surfaces from register_change_feed
    itself, not later as an import error in the data-source planner
    process."""
    from pyspark import cloudpickle

    from go_tfdata_spark.streaming.feed import register_change_feed

    def refuse(module):
        raise RuntimeError(f"cannot pickle {module.__name__} by value")

    monkeypatch.setattr(cloudpickle, "register_pickle_by_value", refuse)
    with pytest.raises(RuntimeError, match="by value"):
        register_change_feed(spark)


def test_range_feed_validation(replayed):
    with pytest.raises(ValueError, match="empty epoch range"):
        table_changes_range(replayed, "j", 2, 1)
    with pytest.raises(KeyError):
        table_changes_range(replayed, "j", 0, 99)  # uncommitted epoch


def test_stream_equals_range_feed(spark, replayed, tmp_path):
    """The readStream source must emit EXACTLY the batch range feed's rows
    (same classification, same post-images, same epochs)."""
    table = replayed
    q = (
        read_change_feed_stream(spark, table.path, "j")
        .writeStream.format("memory").queryName("cdf_all").outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from cdf_all").collect()
    want = table_changes_range(table, "j", 0, 2).collect()
    as_set = lambda rows: {  # noqa: E731
        (r["conv_id"], r["turn_idx"], r["_change_type"], r["_commit_epoch"],
         r["text"], r["ts"]) for r in rows
    }
    assert as_set(got) == as_set(want)


def test_stream_start_epoch_offset(spark, replayed):
    table = replayed
    q = (
        read_change_feed_stream(spark, table.path, "j", start_epoch=2)
        .writeStream.format("memory").queryName("cdf_tail").outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from cdf_tail").collect()
    assert {r["_commit_epoch"] for r in got} == {2}
    assert _apply_feed(got, _snap(table, 1)) == _snap(table, 2)


def test_stream_resume_from_checkpoint_no_double_apply(spark, replayed, tmp_path):
    """Two availableNow runs over one checkpoint: run 2 must deliver ONLY
    the epoch committed between runs (Spark's offset log + ledger-epoch
    offsets give the consumer exactly-once)."""
    table = replayed
    ckpt = str(tmp_path / "ckpt")
    out: list = []

    def sink(df, batch_id):
        out.extend(df.collect())

    q = (
        read_change_feed_stream(spark, table.path, "j")
        .writeStream.foreachBatch(sink).option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    assert {r["_commit_epoch"] for r in out} == {0, 1, 2}
    first = len(out)

    late = (
        synthetic_changes(
            spark, n_events=300, n_epochs=1, delete_frac=0.2, late_frac=0.0, seed=99
        )
        .withColumn("epoch", F.lit(3))
        .withColumn("lsn", F.col("lsn") + 10_000_000)
        # later ts than anything already folded, so these events WIN and
        # actually surface in the feed
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 30 DAYS"))
    )
    apply_changes(table, late, job_id="j", epoch=3)

    out.clear()
    q2 = (
        read_change_feed_stream(spark, table.path, "j")
        .writeStream.foreachBatch(sink).option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q2.awaitTermination(120)
    assert {r["_commit_epoch"] for r in out} == {3}, (first, len(out))
    assert _apply_feed(out, _snap(table, 2)) == _snap(table, 3)


def test_stream_reads_pre_evolution_files(spark, tmp_path):
    """A stream opened AFTER additive schema evolution must null-fill the
    new columns when diffing epochs whose files predate them."""
    from go_tfdata_spark.sources.changes import with_v2_columns

    changes = synthetic_changes(
        spark, n_events=300, n_epochs=1, delete_frac=0.0, late_frac=0.0, seed=4
    )
    table = create_transcripts_table(
        spark, str(tmp_path / "t"), TRANSCRIPTS_SCHEMA, num_buckets=4
    )
    apply_changes(table, changes, job_id="j", epoch=0)
    v2 = (
        with_v2_columns(changes)
        .withColumn("epoch", F.lit(1))
        .withColumn("lsn", F.col("lsn") + 1_000_000)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 30 DAYS"))
    )
    apply_changes(table, v2, job_id="j", epoch=1)

    q = (
        read_change_feed_stream(spark, table.path, "j")
        .writeStream.format("memory").queryName("cdf_evo").outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from cdf_evo").collect()
    assert "tool_args" in got[0].asDict()
    by_epoch: dict = {}
    for r in got:
        by_epoch.setdefault(r["_commit_epoch"], []).append(r)
    # epoch-0 rows come from pre-evolution files: new column is NULL
    assert all(r["tool_args"] is None for r in by_epoch[0])
    # epoch-1 postimages carry the evolved value where the source had one
    assert any(r["tool_args"] is not None for r in by_epoch[1])
    assert _apply_feed(got) == _snap(table, 1)


def test_stream_holds_back_non_contiguous_epochs(spark, tmp_path):
    """An out-of-order commit (epoch 2 lands before epoch 1) must NOT
    surface until the gap fills — the contiguous-frontier offset rule."""
    changes = synthetic_changes(
        spark, n_events=300, n_epochs=1, delete_frac=0.0, late_frac=0.0, seed=3
    )
    table = create_transcripts_table(
        spark, str(tmp_path / "t"), TRANSCRIPTS_SCHEMA, num_buckets=4
    )
    apply_changes(table, changes, job_id="j", epoch=0)
    skip = changes.withColumn("epoch", F.lit(2)).withColumn(
        "lsn", F.col("lsn") + 5_000_000
    )
    apply_changes(table, skip, job_id="j", epoch=2)  # epoch 1 missing

    q = (
        read_change_feed_stream(spark, table.path, "j")
        .writeStream.format("memory").queryName("cdf_gap").outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from cdf_gap").collect()
    assert {r["_commit_epoch"] for r in got} == {0}
