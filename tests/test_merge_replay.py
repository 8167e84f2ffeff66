"""M1 end-to-end: change stream -> LWW fold -> tombstone fold -> MERGE ->
final-state equality vs the sequential oracle (SURVEY.md §7 M1).

Fixture variants per FIXTURES.md §2: small inserts-only, lww-conflict
(ts ties broken by lsn), tombstone, out-of-order across epochs, skew."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from go_tfdata_spark.model import CHANGES_SCHEMA, TRANSCRIPTS_SCHEMA
from go_tfdata_spark.operators.merge import (
    apply_changes,
    create_transcripts_table,
    lineage_metrics,
    read_table,
    replay,
)
from go_tfdata_spark.sources.changes import synthetic_changes, with_v2_columns
from tests.oracle import assert_final_state_equal, sequential_apply

PAYLOAD = ["role", "text", "tool", "ts"]


def _roundtrip(spark, tmp_path, changes_df, name, **apply_kwargs):
    table = create_transcripts_table(spark, str(tmp_path / name), TRANSCRIPTS_SCHEMA, num_buckets=8)
    results = replay(table, changes_df, job_id=f"job-{name}", **apply_kwargs)
    oracle = sequential_apply(changes_df.toPandas(), PAYLOAD)
    assert_final_state_equal(read_table(table), oracle)
    return table, results


@pytest.mark.parametrize(
    "kwargs,name",
    [
        (dict(n_events=300, delete_frac=0.0, late_frac=0.0, n_epochs=1), "small"),
        (dict(n_events=2000, delete_frac=0.0, late_frac=0.0, n_epochs=3), "lww"),
        (dict(n_events=2000, delete_frac=0.15, late_frac=0.0, n_epochs=3), "tombstone"),
        (dict(n_events=2000, delete_frac=0.10, late_frac=0.30, n_epochs=4), "late"),
        (dict(n_events=3000, delete_frac=0.05, late_frac=0.10, n_epochs=3, skew=3.0, n_convs=20), "skew"),
    ],
)
def test_replay_matches_oracle(spark, tmp_path, kwargs, name):
    changes = synthetic_changes(spark, seed=42, **kwargs)
    _roundtrip(spark, tmp_path, changes, name)


def test_replay_with_salting_matches_oracle(spark, tmp_path):
    """Hot conv_ids on the write path: the fold spreads one conv_id's turns
    over its bucket's splits (split_expr hashes the full key), so the
    hottest conv_id lands in more than one (bucket, split) file."""
    changes = synthetic_changes(spark, n_events=3000, skew=4.0, n_convs=5, seed=7)
    table, _ = _roundtrip(spark, tmp_path, changes, "salted")
    hot = changes.groupBy("conv_id").count().orderBy(F.desc("count")).first()
    files = (
        table.read(resolve=False)
        .filter(F.col("conv_id") == hot.conv_id)
        .select(F.input_file_name())
        .distinct()
        .count()
    )
    assert files > 1


def test_lww_tie_breaks_deterministically(spark, tmp_path):
    """Same ts for every event: lsn then src_part must break ties."""
    t0 = datetime(2025, 1, 1, 0, 0, 0)
    rows = [
        ("U", 5, t0, "c1", 0, "user", "v5", None, 0, 1),
        ("U", 9, t0, "c1", 0, "user", "v9", None, 0, 0),
        ("U", 2, t0, "c1", 0, "user", "v2", None, 0, 3),
    ]
    df = spark.createDataFrame(rows, CHANGES_SCHEMA)
    table, _ = _roundtrip(spark, tmp_path, df, "ties")
    assert read_table(table).collect()[0].text == "v9"


def test_idempotent_epoch_skip(spark, tmp_path):
    """Re-applying a committed epoch is a no-op (foreachBatch at-least-once)."""
    changes = synthetic_changes(spark, n_events=500, n_epochs=2)
    table = create_transcripts_table(spark, str(tmp_path / "idem"), TRANSCRIPTS_SCHEMA, num_buckets=4)
    replay(table, changes, job_id="j")
    v = table.current_version()
    r = apply_changes(table, changes.filter("epoch = 0"), job_id="j", epoch=0)
    assert r.skipped
    assert table.current_version() == v
    oracle = sequential_apply(changes.toPandas(), PAYLOAD)
    assert_final_state_equal(read_table(table), oracle)


def test_resume_after_partial_replay(spark, tmp_path):
    """Kill mid-replay (simulated: apply only epoch 0), re-run full replay ->
    identical final state, epoch 0 not double-applied."""
    changes = synthetic_changes(spark, n_events=1200, n_epochs=3, delete_frac=0.1)
    table = create_transcripts_table(spark, str(tmp_path / "resume"), TRANSCRIPTS_SCHEMA, num_buckets=4)
    apply_changes(table, changes.filter("epoch = 0"), job_id="j", epoch=0)
    results = replay(table, changes, job_id="j")
    assert results[0].skipped and not results[1].skipped
    oracle = sequential_apply(changes.toPandas(), PAYLOAD)
    assert_final_state_equal(read_table(table), oracle)


def test_schema_evolution_mid_stream(spark, tmp_path):
    """Epoch 0 arrives with the v1 schema, epoch 1 with additive v2 columns
    (tool_args, meta): the engine must evolve the table transactionally and
    carry old rows as NULL (transformer.go:135-142 stance)."""
    changes = synthetic_changes(spark, n_events=800, n_epochs=2, delete_frac=0.0)
    e0 = changes.filter("epoch = 0")
    e1 = with_v2_columns(changes.filter("epoch = 1"))
    table = create_transcripts_table(spark, str(tmp_path / "evo"), TRANSCRIPTS_SCHEMA, num_buckets=4)
    apply_changes(table, e0, job_id="j", epoch=0)
    apply_changes(table, e1, job_id="j", epoch=1)
    df = read_table(table)
    assert {"tool_args", "meta"} <= set(df.columns)
    oracle = sequential_apply(changes.toPandas(), PAYLOAD)
    assert_final_state_equal(df.select("conv_id", "turn_idx", *PAYLOAD), oracle)
    # rows whose winner came from epoch 1 carry meta
    assert df.filter("meta IS NOT NULL").count() > 0


def test_lineage_metrics(spark, tmp_path):
    changes = synthetic_changes(spark, n_events=1000, n_epochs=2, n_src_parts=4)
    table = create_transcripts_table(spark, str(tmp_path / "lin"), TRANSCRIPTS_SCHEMA, num_buckets=4)
    replay(table, changes, job_id="j")
    lm = lineage_metrics(table, "j").toPandas()
    # offsets: every event accounted exactly once across (epoch, src_part)
    assert lm.offsets_applied.sum() == 1000
    assert set(lm.epoch.unique()) == {0, 1}
    assert lm.src_part.nunique() == 4
    # watermark is materialized (not NULL) and equals max(ts) per
    # (epoch, src_part) of the change stream (regression: the column was
    # silently dropped to NULL on materialization)
    assert lm.watermark.notna().all()
    expect = (
        changes.groupBy("epoch", "src_part").agg(F.max("ts").alias("wm")).collect()
    )
    got = {(int(r.epoch), int(r.src_part)): r.watermark for r in
           lineage_metrics(table, "j").collect()}
    for r in expect:
        assert got[(int(r.epoch), int(r.src_part))] == r.wm


@pytest.mark.parametrize("strategy", ["aligned", "mor"])
def test_lineage_counts_ride_the_merge_fold(spark, tmp_path, strategy):
    """rows_upserted/rows_deleted come from the merge fold's accumulator on
    both strategies — they must equal the per-(epoch, src_part)
    winner-op counts of an independent pandas fold."""
    changes = synthetic_changes(spark, n_events=1500, n_epochs=2,
                                delete_frac=0.2, n_src_parts=3, seed=21)
    table = create_transcripts_table(
        spark, str(tmp_path / f"linacc-{strategy}"), TRANSCRIPTS_SCHEMA, num_buckets=4
    )
    replay(table, changes, job_id="j", merge_strategy=strategy)
    lm = lineage_metrics(table, "j").toPandas()
    assert lm.offsets_applied.sum() == 1500
    pdf = changes.toPandas()
    winners = pdf.sort_values(["ts", "lsn", "src_part"], kind="stable").drop_duplicates(
        ["epoch", "conv_id", "turn_idx"], keep="last"
    )
    for (e, sp), grp in winners.groupby(["epoch", "src_part"]):
        row = lm[(lm.epoch == e) & (lm.src_part == sp)]
        assert len(row) == 1
        assert int(row.rows_upserted.iloc[0]) == int((grp.op != "D").sum())
        assert int(row.rows_deleted.iloc[0]) == int((grp.op == "D").sum())


def test_mor_replay_matches_oracle_and_compacts(spark, tmp_path):
    """Merge-on-read mode: epochs append delta files (no target rewrite);
    reads resolve LWW; compaction folds deltas into base with identical
    final state. Mixed-mode (MOR epochs then a COW epoch) also correct."""
    changes = synthetic_changes(spark, n_events=2000, n_epochs=3, delete_frac=0.1, late_frac=0.2)
    table = create_transcripts_table(spark, str(tmp_path / "mor"), TRANSCRIPTS_SCHEMA, num_buckets=4)
    replay(table, changes, job_id="j", merge_strategy="mor")
    assert table.snapshot().has_deltas
    oracle = sequential_apply(changes.toPandas(), PAYLOAD)
    assert_final_state_equal(read_table(table), oracle)
    # ledger works in MOR mode
    r = apply_changes(table, changes.filter("epoch = 0"), job_id="j", epoch=0, merge_strategy="mor")
    assert r.skipped
    # compaction resolves deltas; state unchanged; raw row count shrinks to resolved
    table.compact()
    assert not table.snapshot().has_deltas
    assert_final_state_equal(read_table(table), oracle)


def test_mor_auto_compaction_bounds_delta_files(spark, tmp_path):
    """Opt-in auto-compaction keeps per-bucket delta file counts bounded
    under a long MOR replay (without it they grow O(epochs)); final state
    is unchanged and read plans scan fewer files."""
    changes = synthetic_changes(spark, n_events=2400, n_epochs=12,
                                delete_frac=0.1, seed=31)
    t_auto = create_transcripts_table(
        spark, str(tmp_path / "mora"), TRANSCRIPTS_SCHEMA, num_buckets=4
    )
    replay(t_auto, changes, job_id="j", merge_strategy="mor",
           auto_compact_deltas=6)
    t_ctl = create_transcripts_table(
        spark, str(tmp_path / "morc"), TRANSCRIPTS_SCHEMA, num_buckets=4
    )
    replay(t_ctl, changes, job_id="j", merge_strategy="mor")

    def delta_counts(table):
        per_bucket: dict = {}
        for f in table.snapshot().files:
            if f.get("delta"):
                b = f.get("bucket")
                per_bucket[b] = per_bucket.get(b, 0) + 1
        return per_bucket

    auto, ctl = delta_counts(t_auto), delta_counts(t_ctl)
    # bounded: below trigger + one epoch's worth of new deltas per bucket
    assert all(n < 6 + 4 for n in auto.values())
    assert sum(auto.values()) < sum(ctl.values())  # control grows unbounded
    assert len(t_auto.snapshot().files) < len(t_ctl.snapshot().files)
    oracle = sequential_apply(changes.toPandas(), PAYLOAD)
    assert_final_state_equal(read_table(t_auto), oracle)


def test_mor_auto_compaction_50_epoch_read_amplification(spark, tmp_path):
    """The long-stream shape auto-compaction exists for: a 50-epoch MOR
    replay with the trigger on must keep per-bucket delta files bounded at
    EVERY point of the curve (sawtooth, not monotone growth), keep the read
    plan's scanned file count O(buckets), and still converge to the
    sequential oracle. Without the trigger the same replay accumulates
    O(epochs) delta files per bucket and every read resolves over all of
    them."""
    from go_tfdata_spark.lake.table import _WRITE_SPLITS_PER_BUCKET

    n_epochs, trigger = 50, 6
    changes = synthetic_changes(spark, n_events=5000, n_epochs=n_epochs,
                                delete_frac=0.1, late_frac=0.1, seed=37)
    table = create_transcripts_table(
        spark, str(tmp_path / "mor50"), TRANSCRIPTS_SCHEMA, num_buckets=4
    )
    totals, per_bucket_max = [], []
    for e in range(n_epochs):
        apply_changes(table, changes.filter(F.col("epoch") == e), job_id="j",
                      epoch=e, merge_strategy="mor", auto_compact_deltas=trigger)
        files = table.snapshot().files
        deltas: dict = {}
        for f in files:
            if f.get("delta"):
                deltas[f.get("bucket")] = deltas.get(f.get("bucket"), 0) + 1
        totals.append(len(files))
        per_bucket_max.append(max(deltas.values(), default=0))
    # bounded at every epoch: below trigger + one epoch's worth of appends
    assert max(per_bucket_max) < trigger + _WRITE_SPLITS_PER_BUCKET
    # compaction visibly shrinks the manifest along the way (sawtooth)
    assert any(b < a for a, b in zip(totals, totals[1:]))
    # end-state read amplification is O(buckets), nowhere near O(epochs):
    # an uncompacted control accumulates ~4 delta files per bucket per epoch
    # (50 epochs -> hundreds of files); the curve must stay way below that
    assert totals[-1] < 2 * n_epochs
    scan_files = read_table(table).inputFiles()
    assert 0 < len(scan_files) < 2 * n_epochs
    oracle = sequential_apply(changes.toPandas(), PAYLOAD)
    assert_final_state_equal(read_table(table), oracle)


@pytest.mark.parametrize("cow", ["aligned"])
def test_mixed_mor_then_cow(spark, tmp_path, cow):
    changes = synthetic_changes(spark, n_events=1500, n_epochs=3, delete_frac=0.1, seed=11)
    table = create_transcripts_table(spark, str(tmp_path / "mix"), TRANSCRIPTS_SCHEMA, num_buckets=4)
    apply_changes(table, changes.filter("epoch = 0"), job_id="j", epoch=0, merge_strategy="mor")
    apply_changes(table, changes.filter("epoch = 1"), job_id="j", epoch=1, merge_strategy="mor")
    # COW merge over a delta-carrying table must resolve correctly
    apply_changes(table, changes.filter("epoch = 2"), job_id="j", epoch=2, merge_strategy=cow)
    assert table.snapshot().summary["merge_strategy"] == cow
    oracle = sequential_apply(changes.toPandas(), PAYLOAD)
    assert_final_state_equal(read_table(table), oracle)


def test_keyed_compaction_purges_delta_tombstone(spark, tmp_path):
    """Keyed purge: a key whose tombstone winner sits in a MOR delta file
    above an older live base row must vanish entirely — the purge follows
    the fold's resolution, so the base row cannot win back — and every
    other key keeps its state."""
    t0 = datetime(2025, 1, 1)
    t1 = datetime(2025, 1, 2)
    base = spark.createDataFrame([
        ("I", 1, t0, "c1", 0, "user", "gone", None, 0, 0),
        ("I", 2, t0, "c1", 1, "user", "keep", None, 0, 0),
        ("I", 3, t0, "c2", 0, "user", "old", None, 0, 1),
        ("I", 4, t0, "c3", 0, "assistant", "same", None, 0, 1),
    ], CHANGES_SCHEMA)
    delta = spark.createDataFrame([
        ("D", 5, t1, "c1", 0, None, None, None, 1, 0),
        ("U", 6, t1, "c2", 0, "user", "new", None, 1, 1),
    ], CHANGES_SCHEMA)
    table = create_transcripts_table(spark, str(tmp_path / "kp"), TRANSCRIPTS_SCHEMA, num_buckets=2)
    apply_changes(table, base, job_id="j", epoch=0, merge_strategy="aligned")
    apply_changes(table, delta, job_id="j", epoch=1, merge_strategy="mor")
    m = table.snapshot()
    raw = table.read(resolve=False)
    c10 = (F.col("conv_id") == "c1") & (F.col("turn_idx") == 0)
    # the live base row and the tombstone winner above it, in a delta file
    assert raw.filter(c10 & ~F.col("_deleted")).count() == 1
    tomb_files = {r[0] for r in raw.filter(c10 & F.col("_deleted"))
                  .select(F.input_file_name()).collect()}
    delta_files = {f["path"] for f in m.files if f.get("delta")}
    assert len(tomb_files) == 1
    assert any(p.endswith(d) for p in tomb_files for d in delta_files)
    before = {
        (r.conv_id, r.turn_idx): (r.role, r.text, r.ts)
        for r in read_table(table).collect()
    }
    assert ("c1", 0) not in before and before[("c2", 0)][1] == "new"

    table.compact(purge_tombstones=True)
    after_raw = table.read(resolve=False)
    assert not table.snapshot().has_deltas
    assert after_raw.filter(c10).count() == 0
    assert after_raw.filter(F.col("_deleted")).count() == 0
    after = {
        (r.conv_id, r.turn_idx): (r.role, r.text, r.ts)
        for r in read_table(table).collect()
    }
    assert after == before
    assert after_raw.count() == len(after)


def test_fold_squash_path_matches_one_sort(spark, tmp_path, monkeypatch):
    """With the fold's squash floor at a few rows and small Arrow batches,
    each (unit, epoch) run folds into its unit's state in several squashes
    and the epoch's batch winners merge across them; every snapshot and the
    lineage must equal an unpatched replay's."""
    from go_tfdata_spark.operators import arrow_fold

    changes = synthetic_changes(
        spark, n_events=3000, n_epochs=3, delete_frac=0.15, late_frac=0.25,
        seed=23,
    )
    t1 = create_transcripts_table(
        spark, str(tmp_path / "a"), TRANSCRIPTS_SCHEMA, num_buckets=2)
    t2 = create_transcripts_table(
        spark, str(tmp_path / "b"), TRANSCRIPTS_SCHEMA, num_buckets=2)
    replay(t1, changes, job_id="j", merge_strategy="aligned")
    monkeypatch.setattr(arrow_fold, "_SQUASH_FLOOR", 4)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "16")
    try:
        replay(t2, changes, job_id="j", merge_strategy="aligned")
    finally:
        spark.conf.set(key, old)
    for e in range(3):
        assert _snap_map(t2, e, "j") == _snap_map(t1, e, "j"), f"epoch {e}"
    lin = lambda t: sorted(  # noqa: E731
        tuple(r) for r in lineage_metrics(t, "j").collect()
    )
    assert lin(t2) == lin(t1)


def test_parallel_mor_replay_matches_oracle(spark, tmp_path):
    """Concurrent epoch application (MOR commutes): same final state,
    every epoch committed exactly once despite CAS races."""
    changes = synthetic_changes(spark, n_events=2400, n_epochs=6, delete_frac=0.1, late_frac=0.2)
    table = create_transcripts_table(spark, str(tmp_path / "pmor"), TRANSCRIPTS_SCHEMA, num_buckets=4)
    results = replay(table, changes, job_id="j", merge_strategy="mor", parallel_epochs=4)
    assert len(results) == 6 and not any(r.skipped for r in results)
    assert table.committed_epochs("j") == set(range(6))
    oracle = sequential_apply(changes.toPandas(), PAYLOAD)
    assert_final_state_equal(read_table(table), oracle)
    table.compact()
    assert_final_state_equal(read_table(table), oracle)


def test_unknown_merge_strategy_fails_fast(spark, tmp_path):
    """A strategy name outside MERGE_STRATEGIES raises before any work and
    commits no version — it must not silently run another merge. That
    covers the retired "shuffle", "broadcast" and "auto"."""
    table = create_transcripts_table(spark, str(tmp_path / "unk"), TRANSCRIPTS_SCHEMA, num_buckets=2)
    changes = synthetic_changes(spark, n_events=200, n_epochs=2, seed=3)
    v = table.current_version()
    for strategy in ("shuffle", "broadcast", "auto"):
        with pytest.raises(ValueError, match="merge_strategy"):
            apply_changes(table, changes.filter("epoch = 0"), job_id="j",
                          epoch=0, merge_strategy=strategy)
        with pytest.raises(ValueError, match="merge_strategy"):
            replay(table, changes, job_id="j", merge_strategy=strategy)
        assert table.current_version() == v
        assert table.committed_epochs("j") == set()


def test_microbatch_stream_keeps_live_files_bounded(spark, tmp_path):
    """A stream of small epochs applied at the default strategy rewrites
    only the (bucket, split) units its rows touch, so the live file count
    never exceeds one file per unit, and the state matches the oracle."""
    nb, base_events, n_epochs, per_epoch = 8, 4000, 20, 100
    changes = synthetic_changes(
        spark, n_events=base_events + n_epochs * per_epoch, n_convs=500,
        n_epochs=1, delete_frac=0.1, late_frac=0.2, seed=53,
    ).withColumn("epoch", F.when(
        F.col("lsn") < base_events, F.lit(0)
    ).otherwise(
        ((F.col("lsn") - base_events) / per_epoch).cast("int") + 1
    ))
    table = create_transcripts_table(
        spark, str(tmp_path / "mb"), TRANSCRIPTS_SCHEMA, num_buckets=nb)
    apply_changes(table, changes.filter("epoch = 0"), job_id="j", epoch=0)
    assert read_table(table).count() > 2000
    for e in range(1, n_epochs + 1):
        apply_changes(table, changes.filter(F.col("epoch") == e), job_id="j",
                      epoch=e)
        assert len(table.snapshot().files) <= nb * 4, f"epoch {e}"
    assert table.committed_epochs("j") == set(range(n_epochs + 1))
    oracle = sequential_apply(changes.toPandas(), PAYLOAD)
    assert_final_state_equal(read_table(table), oracle)


def test_aligned_merge_under_non_utc_session_timezone(spark, tmp_path):
    """Spark hands the fold its batch timestamps tagged with the session
    timezone, while carried files read back as UTC. Epochs that fold onto
    carried files under a non-UTC session must still match the oracle."""
    changes = synthetic_changes(spark, n_events=1200, n_epochs=3,
                                delete_frac=0.1, late_frac=0.2, seed=57)
    table = create_transcripts_table(
        spark, str(tmp_path / "tz"), TRANSCRIPTS_SCHEMA, num_buckets=2)
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        for e in range(3):
            apply_changes(table, changes.filter(F.col("epoch") == e),
                          job_id="j", epoch=e)
    finally:
        spark.conf.set(key, old)
    oracle = sequential_apply(changes.toPandas(), PAYLOAD)
    assert_final_state_equal(read_table(table), oracle)


def test_invalid_batch_fails_fast(spark, tmp_path):
    """Malformed batches raise a precise error before any work (the
    reference's invalid-input discipline, tar_test.go:93-121)."""
    table = create_transcripts_table(spark, str(tmp_path / "inv"), TRANSCRIPTS_SCHEMA, num_buckets=2)
    bad = spark.createDataFrame([("c1", 0)], "conv_id string, turn_idx int")
    with pytest.raises(ValueError, match="missing required columns"):
        apply_changes(table, bad, job_id="j", epoch=0)


@pytest.mark.parametrize(
    "kwargs,name",
    [
        (dict(n_events=2000, delete_frac=0.15, late_frac=0.0, n_epochs=3), "al-tomb"),
        (dict(n_events=2000, delete_frac=0.10, late_frac=0.30, n_epochs=4), "al-late"),
        (dict(n_events=3000, delete_frac=0.05, late_frac=0.10, n_epochs=3, skew=3.0, n_convs=20), "al-skew"),
    ],
)
def test_aligned_replay_matches_oracle(spark, tmp_path, kwargs, name):
    """The Arrow zipper merge (one payload shuffle on the write layout) must
    produce the identical final state as the sequential per-event oracle."""
    changes = synthetic_changes(spark, seed=43, **kwargs)
    table, _ = _roundtrip(spark, tmp_path, changes, name, merge_strategy="aligned")
    # every dense commit, fused chunk or single epoch, carries one tag
    assert table.snapshot().summary["merge_strategy"] == "aligned"


def test_aligned_merge_write_is_presharded(spark, tmp_path):
    """Aligned merges write straight from the fold's partitioning: file
    count per commit stays bounded by buckets x splits and every file holds
    one bucket."""
    table = create_transcripts_table(
        spark, str(tmp_path / "alp"), TRANSCRIPTS_SCHEMA, num_buckets=8
    )
    changes = synthetic_changes(spark, seed=5, n_events=4000, n_epochs=1)
    replay(table, changes, job_id="alp", merge_strategy="aligned")
    m = table.snapshot()
    assert len(m.files) <= 8 * 4
    assert {f["bucket"] for f in m.files} <= set(range(8))


def test_mor_arrow_fold_matches_oracle(spark, tmp_path):
    changes = synthetic_changes(spark, seed=44, n_events=2500, n_epochs=3,
                                delete_frac=0.1, late_frac=0.2)
    table, _ = _roundtrip(spark, tmp_path, changes, "mor-arrow", merge_strategy="mor")
    table.compact()
    oracle = sequential_apply(changes.toPandas(), PAYLOAD)
    assert_final_state_equal(read_table(table), oracle)


def test_aligned_merge_is_target_local(spark, tmp_path):
    """Steady-state aligned merges must not re-shuffle carried target rows:
    every file records its (bucket, split), and an epoch whose batch touches
    a single key still carries every other target row of the affected
    bucket — rows that can ONLY arrive via the fold tasks' local file reads
    (the batch shuffle lands them in at most one partition)."""
    table = create_transcripts_table(
        spark, str(tmp_path / "tl"), TRANSCRIPTS_SCHEMA, num_buckets=4
    )
    changes = synthetic_changes(spark, seed=7, n_events=3000, n_epochs=1,
                                delete_frac=0.0, late_frac=0.0)
    replay(table, changes, job_id="tl0", merge_strategy="aligned")
    m1 = table.snapshot()
    assert all("split" in f for f in m1.files), "files must record their split"
    before = read_table(table)
    n_before = before.count()
    one = before.limit(1).collect()[0]
    batch = spark.createDataFrame(
        [("U", 10**9, datetime(2030, 1, 1), one.conv_id, one.turn_idx,
          "assistant", "rewritten", None, 0, 0)],
        CHANGES_SCHEMA,
    )
    apply_changes(table, batch, job_id="tl1", epoch=0, merge_strategy="aligned")
    after = read_table(table)
    assert after.count() == n_before
    got = after.filter(
        (F.col("conv_id") == one.conv_id) & (F.col("turn_idx") == one.turn_idx)
    ).collect()
    assert len(got) == 1 and got[0].text == "rewritten"


def test_aligned_merge_legacy_manifest_falls_back(spark, tmp_path):
    """Manifests written before the split record (round-4 layout) must still
    merge correctly: the dense merge first compacts the affected legacy
    buckets, which records every file's split."""
    import json

    table = create_transcripts_table(
        spark, str(tmp_path / "leg"), TRANSCRIPTS_SCHEMA, num_buckets=4
    )
    changes = synthetic_changes(spark, seed=11, n_events=2000, n_epochs=2,
                                delete_frac=0.1, late_frac=0.2)
    replay(table, changes.filter("epoch = 0"), job_id="leg0",
           merge_strategy="aligned")
    # simulate a legacy table: strip the split records from the manifest
    mp = table._manifest_path(table.current_version())
    with open(mp) as f:
        doc = json.load(f)
    for e in doc["files"]:
        e.pop("split", None)
    with open(mp, "w") as f:
        json.dump(doc, f)
    replay(table, changes.filter("epoch = 1"), job_id="leg1",
           merge_strategy="aligned")
    oracle = sequential_apply(changes.toPandas(), PAYLOAD)
    assert_final_state_equal(read_table(table), oracle)
    assert all("split" in f for f in table.snapshot().files)


def test_aligned_schema_evolution_reads_old_files_locally(spark, tmp_path):
    """Target files that predate an additive column are read IN the fold
    workers (pyarrow, no Spark schema-on-read) — the conform step must
    null-fill the new column for them."""
    changes = synthetic_changes(spark, seed=13, n_events=1500, n_epochs=2,
                                delete_frac=0.0, late_frac=0.0)
    e0 = changes.filter("epoch = 0")
    e1 = with_v2_columns(changes.filter("epoch = 1"))
    table = create_transcripts_table(
        spark, str(tmp_path / "evoloc"), TRANSCRIPTS_SCHEMA, num_buckets=4
    )
    apply_changes(table, e0, job_id="j", epoch=0, merge_strategy="aligned")
    apply_changes(table, e1, job_id="j", epoch=1, merge_strategy="aligned")
    df = read_table(table)
    assert {"tool_args", "meta"} <= set(df.columns)
    oracle = sequential_apply(changes.toPandas(), PAYLOAD)
    assert_final_state_equal(df.select("conv_id", "turn_idx", *PAYLOAD), oracle)
    assert df.filter("meta IS NOT NULL").count() > 0
    assert df.filter("meta IS NULL").count() > 0


def _snap_map(table, epoch, job):
    return {
        (r["conv_id"], r["turn_idx"]): (r["role"], r["text"], r["ts"])
        for r in read_table(table, as_of_epoch=epoch, job_id=job).collect()
    }


@pytest.mark.parametrize("num_buckets", [4, 16])
def test_fused_replay_equals_per_epoch(spark, tmp_path, num_buckets):
    """Fused chunks must be observationally IDENTICAL to per-epoch
    replay: every intermediate snapshot (time travel), the final state,
    the lineage table, and the change feed built over the fused manifests
    (which replace files at (bucket, split) granularity). 16 buckets make
    64 (bucket, split) units, more than the fold has tasks, so each task
    streams several units."""
    from go_tfdata_spark.operators.merge import table_changes_range

    changes = synthetic_changes(
        spark, n_events=4000, n_epochs=5, delete_frac=0.15, late_frac=0.25,
        seed=13,
    )
    t1 = create_transcripts_table(
        spark, str(tmp_path / "a"), TRANSCRIPTS_SCHEMA, num_buckets=num_buckets)
    t2 = create_transcripts_table(
        spark, str(tmp_path / "b"), TRANSCRIPTS_SCHEMA, num_buckets=num_buckets)
    r1 = replay(t1, changes, job_id="j", fuse_epochs=1,
                merge_strategy="aligned")
    r2 = replay(t2, changes, job_id="j", fuse_epochs=3,
                merge_strategy="aligned")  # chunks [0,1,2], [3,4]
    assert [r.epoch for r in r2] == [r.epoch for r in r1]
    # fuse_epochs=1 runs the same fold kernel, so each snapshot is also
    # checked against the independent sequential oracle
    pdf = changes.toPandas()
    for e in range(5):
        assert_final_state_equal(
            read_table(t1, as_of_epoch=e, job_id="j"),
            sequential_apply(pdf[pdf.epoch <= e], PAYLOAD),
        )
        assert _snap_map(t2, e, "j") == _snap_map(t1, e, "j"), f"epoch {e}"
    lin = lambda t: sorted(  # noqa: E731
        tuple(r) for r in lineage_metrics(t, "j").collect()
    )
    assert lin(t2) == lin(t1)
    # the change feed over fused manifests reproduces every snapshot
    rows1 = {
        (r["conv_id"], r["turn_idx"], r["_change_type"], r["_commit_epoch"])
        for r in table_changes_range(t1, "j", 0, 4).collect()
    }
    rows2 = {
        (r["conv_id"], r["turn_idx"], r["_change_type"], r["_commit_epoch"])
        for r in table_changes_range(t2, "j", 0, 4).collect()
    }
    assert rows1 == rows2


def test_fused_chunk_carries_untouched_units(spark, tmp_path, monkeypatch):
    """Two fused chunks where the second touches only buckets 0 and 1:
    every (bucket, split) unit without rows in an epoch keeps its exact
    file path in that epoch's manifest, every unit with rows gets a new
    file, and the fold runs min(units, 2 x defaultParallelism) tasks."""
    from go_tfdata_spark.lake.table import bucket_expr, split_expr
    from go_tfdata_spark.operators import arrow_fold

    folds = []
    fused = arrow_fold.aligned_lww_fold_fused

    def capture(*args, **kwargs):
        folds.append(fused(*args, **kwargs))
        return folds[-1]

    monkeypatch.setattr(arrow_fold, "aligned_lww_fold_fused", capture)
    nb = 8
    changes = synthetic_changes(
        spark, n_events=3000, n_epochs=4, delete_frac=0.1, late_frac=0.2,
        seed=37,
    )
    changes = changes.filter(
        (F.col("epoch") < 2) | (bucket_expr("conv_id", nb) < 2))
    table = create_transcripts_table(
        spark, str(tmp_path / "t"), TRANSCRIPTS_SCHEMA, num_buckets=nb)
    results = replay(table, changes, job_id="j", fuse_epochs=2,
                     merge_strategy="aligned")  # chunks [0, 1], [2, 3]
    assert [r.epoch for r in results] == [0, 1, 2, 3]
    assert len(folds) == 2
    units = nb * 4
    for df in folds:
        assert df.rdd.getNumPartitions() == min(
            units, 2 * spark.sparkContext.defaultParallelism)

    split_by = table.snapshot().split_by
    touched = {}
    for r in changes.select(
        bucket_expr("conv_id", nb).alias("b"),
        split_expr(split_by, 4).alias("s"), "epoch",
    ).distinct().collect():
        touched.setdefault(r["epoch"], set()).add((r["b"], r["s"]))
    layouts = []
    for r in results:
        files = table.snapshot(r.version).files
        layout = {(f["bucket"], f["split"]): f["path"] for f in files}
        assert len(layout) == len(files), "one file per (bucket, split)"
        layouts.append(layout)
    assert touched[0] == set(layouts[0])
    assert all(b < 2 for e in (2, 3) for b, _ in touched[e])
    assert len(layouts[1]) > len(touched[2] | touched[3])
    for e in range(1, 4):
        prev, cur = layouts[e - 1], layouts[e]
        assert set(cur) == set(prev) | touched[e]
        for u, path in cur.items():
            if u in touched[e]:
                assert path != prev.get(u), (e, u)
            else:
                assert path == prev[u], (e, u)
    oracle = sequential_apply(changes.toPandas(), PAYLOAD)
    assert_final_state_equal(read_table(table), oracle)


def test_fused_replay_resumes_mid_chunk(spark, tmp_path):
    """A replay interrupted at a chunk boundary (prefix of epochs
    committed) resumes through the ledger: committed epochs skip, the
    rest fuse into a fresh chunk, final state matches the oracle."""
    changes = synthetic_changes(
        spark, n_events=3000, n_epochs=5, delete_frac=0.1, late_frac=0.2,
        seed=17,
    )
    table = create_transcripts_table(
        spark, str(tmp_path / "t"), TRANSCRIPTS_SCHEMA, num_buckets=4)
    replay(table, changes.filter(F.col("epoch") <= 1), job_id="j",
           fuse_epochs=4, merge_strategy="aligned")
    results = replay(table, changes, job_id="j", fuse_epochs=4,
                     merge_strategy="aligned")
    assert [r.epoch for r in results if r.skipped] == [0, 1]
    assert [r.epoch for r in results if not r.skipped] == [2, 3, 4]
    oracle = sequential_apply(changes.toPandas(), PAYLOAD)
    assert_final_state_equal(read_table(table), oracle)


def test_fused_replay_with_schema_evolution(spark, tmp_path):
    """A fused chunk whose changes carry NEW columns must evolve the table
    once up front and produce the same result as the per-epoch path."""
    changes = with_v2_columns(synthetic_changes(
        spark, n_events=2000, n_epochs=4, delete_frac=0.1, late_frac=0.2,
        seed=29,
    ))
    t1 = create_transcripts_table(
        spark, str(tmp_path / "a"), TRANSCRIPTS_SCHEMA, num_buckets=4)
    t2 = create_transcripts_table(
        spark, str(tmp_path / "b"), TRANSCRIPTS_SCHEMA, num_buckets=4)
    replay(t1, changes, job_id="j", fuse_epochs=1, merge_strategy="aligned")
    replay(t2, changes, job_id="j", fuse_epochs=4, merge_strategy="aligned")
    assert "tool_args" in t2.schema().fieldNames()
    assert "meta" in t2.schema().fieldNames()
    rows = lambda t: {  # noqa: E731
        (r["conv_id"], r["turn_idx"], r["text"], r["tool_args"],
         tuple(sorted((r["meta"] or {}).items())))
        for r in read_table(t).collect()
    }
    assert rows(t2) == rows(t1)


def test_fused_replay_resolves_mor_delta_target(spark, tmp_path):
    """Fused COW replay on top of a table carrying UNRESOLVED MOR deltas:
    the fold's chunk-start state must LWW-resolve base+delta files before
    folding the new epochs (the init pre-resolve path)."""
    first = synthetic_changes(
        spark, n_events=1200, n_epochs=2, delete_frac=0.1, late_frac=0.2,
        seed=31,
    )
    table = create_transcripts_table(
        spark, str(tmp_path / "t"), TRANSCRIPTS_SCHEMA, num_buckets=4)
    replay(table, first, job_id="j", merge_strategy="mor")
    assert table.snapshot().has_deltas
    later = (
        synthetic_changes(
            spark, n_events=1200, n_epochs=2, delete_frac=0.1,
            late_frac=0.2, seed=32,
        )
        .withColumn("epoch", F.col("epoch") + F.lit(2))
        .withColumn("lsn", F.col("lsn") + F.lit(10_000_000))
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 30 DAYS"))
    )
    replay(table, later, job_id="j", fuse_epochs=4, merge_strategy="aligned")
    all_changes = first.unionByName(
        later.select(*first.columns)
    )
    oracle = sequential_apply(all_changes.toPandas(), PAYLOAD)
    assert_final_state_equal(read_table(table), oracle)
