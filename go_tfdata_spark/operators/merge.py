"""The apply kernel: change batch -> LWW fold -> tombstone fold -> MERGE.

One kernel shared by batch replay and streaming foreachBatch (SURVEY.md §7),
mirroring how the reference shares its reader chain across sync and async
sinks (tfdata/core/tfrecord.go:107-122 vs :128-180).

Exactly-once: `apply_changes` consults the table's manifest-chain ledger for
(job_id, epoch) before doing any work; a re-executed epoch (foreachBatch is
at-least-once) is skipped. The ledger entry and the data commit are the SAME
atomic manifest publish, so there is no window where data is committed but
the ledger missed it — this fixes the reference's documented non-atomic sink
(tfdata/core/tfrecord.go:62).

Lineage: per-src-partition metrics (offsets applied, rows upserted/deleted,
watermark — FIXTURES.md §5) are computed with one small aggregate and stored
INSIDE the commit summary, so lineage is exactly-once by construction;
`lineage_metrics` materializes the table from the manifest chain.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from go_tfdata_spark.lake.table import LakeTable
from go_tfdata_spark.model import (
    KEY_COLUMNS,
    LINEAGE_SCHEMA,
    LWW_ORDER_COLUMNS,
)
from go_tfdata_spark.operators.arrow_fold import (
    fold_lineage_counts_epoch,
    lineage_accumulator,
)
from go_tfdata_spark.operators.lww import lww_latest

# Engine-managed metadata columns on the physical table. `_deleted` marks a
# retained tombstone (the analog of the reference's empty-sample filter,
# tfdata/filter/filter.go:28-41: user reads drop them); `_lsn`/`_src_part`
# complete the stored LWW order so late events compare correctly.
META_FIELDS = [
    T.StructField("_lsn", T.LongType(), True),
    T.StructField("_src_part", T.IntegerType(), True),
    T.StructField("_deleted", T.BooleanType(), True),
]
META_COLUMNS = [f.name for f in META_FIELDS]

# Change-stream columns that never become table columns.
CHANGE_META = ("op", "lsn", "src_part", "epoch")


def physical_schema(user_schema: T.StructType) -> T.StructType:
    return T.StructType(list(user_schema.fields) + META_FIELDS)


def create_transcripts_table(
    spark, path: str, user_schema: T.StructType, num_buckets: int = 16
) -> LakeTable:
    return LakeTable.create(
        spark, path, physical_schema(user_schema), bucket_by="conv_id",
        num_buckets=num_buckets,
        key_cols=list(KEY_COLUMNS),
        order_cols=["ts", "_lsn", "_src_part"],
    )


def read_table(
    table: LakeTable,
    version: int | None = None,
    as_of_epoch: int | None = None,
    job_id: str | None = None,
) -> DataFrame:
    """User-facing read: tombstones filtered, engine metadata dropped.

    Time travel (Iceberg-style snapshot reads over the retained manifest
    chain): pass `version` for a raw manifest version, or `as_of_epoch` +
    `job_id` to read the table exactly as of that epoch's commit — the
    version is resolved through the in-commit exactly-once ledger
    (`LakeTable.version_for_epoch`), so "as of epoch k" means precisely
    "k committed, nothing after it", regardless of wall-clock timing."""
    if as_of_epoch is not None:
        if version is not None:
            raise ValueError("pass either version or as_of_epoch, not both")
        if job_id is None:
            raise ValueError("as_of_epoch requires job_id")
        version = table.version_for_epoch(job_id, as_of_epoch)
    df = table.read(version)
    return df.filter(~F.coalesce(F.col("_deleted"), F.lit(False))).drop(*META_COLUMNS)


def _touched_buckets(prev_m, cur_m) -> set[int] | None:
    """Buckets whose file sets differ between two manifests; None when any
    differing file lacks a bucket id (legacy layout -> no safe pruning)."""
    prev_paths = {f["path"] for f in prev_m.files}
    cur_paths = {f["path"] for f in cur_m.files}
    diff = [f for f in cur_m.files if f["path"] not in prev_paths]
    diff += [f for f in prev_m.files if f["path"] not in cur_paths]
    buckets = {f.get("bucket") for f in diff}
    return None if None in buckets else buckets


def table_changes(
    table: LakeTable,
    job_id: str,
    epoch: int,
    key_cols: list[str] = list(KEY_COLUMNS),
    prune_buckets: bool = True,
) -> DataFrame:
    """Change data feed OUT (the Delta-CDF analog, built on the ledger
    time travel): the row-level changes epoch `epoch` introduced, each
    classified `_change_type` in {insert, update_postimage, delete}.

    Completes the CDC story: change streams fold IN through replay /
    streaming ingest, and downstream consumers read the per-epoch diff
    back OUT without scanning or re-folding the raw log. Both sides are
    snapshot reads of the SAME bucketed layout (this epoch's commit and
    its parent), so the diff is ONE key-equality join over identically
    bucketed data — cost O(table), not O(log); on a catalog-bucketed /
    Iceberg deployment the join co-partitions with zero shuffle, and a
    bucket-pruned variant (read_buckets on both sides) diffs only the
    buckets the epoch touched.

    Every emitted row carries the POST-image (for deletes: the tombstone
    row — its ts/_lsn are the delete event's own, the preimage business
    columns are gone by design). Rows whose key saw events but whose LWW
    winner did not change (a late event that lost the fold) do NOT appear:
    the feed is the visible-state delta, exactly what a downstream
    materialization needs to stay consistent.

    Raises KeyError (via `version_for_epoch`) when the epoch's snapshot or
    its parent has been vacuumed past.

    `prune_buckets` (default on): data files are immutable, so a bucket
    whose file set is IDENTICAL in both manifests cannot contain a changed
    row — both snapshot scans are pruned to the buckets the commit
    actually rewrote (file-path set diff, driver-side, O(files)). A sparse
    epoch that touched 3 of 4096 buckets diffs 3 buckets, not the table."""
    v = table.version_for_epoch(job_id, epoch)
    m = table.snapshot(v)
    c_del = F.coalesce(F.col("_deleted"), F.lit(False))
    if m.parent is None:
        cur, prev = table.read(v), None
    else:
        try:
            pm = table.snapshot(m.parent)
        except FileNotFoundError:
            raise KeyError(
                f"parent snapshot of epoch {epoch} (version {m.parent}) "
                "vacuumed past; change feed requires both snapshots retained"
            ) from None
        touched = _touched_buckets(pm, m) if prune_buckets else None
        if touched is not None:
            cur = table.read_buckets(sorted(touched), version=v)
            prev = table.read_buckets(sorted(touched), version=m.parent)
        else:
            cur = table.read(v)
            prev = table.read(m.parent)
        prev = prev.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
    if prev is None:
        out = cur.filter(~c_del).withColumn("_change_type", F.lit("insert"))
        return out.drop(*META_COLUMNS)
    # Winner identity is the FULL LWW order tuple (ts, _lsn, _src_part),
    # compared null-safely: lsn alone is null-unsafe (NULL != NULL is NULL,
    # silently dropping the change row) and ambiguous when per-source LSN
    # sequences reuse values across src_parts.
    ord_cols = ["ts", "_lsn", "_src_part"]
    p = prev.select(
        *key_cols,
        F.struct(*[F.col(c) for c in ord_cols]).alias("_p_ord"),
        F.lit(True).alias("_p_exists"),
    )
    j = cur.join(p, key_cols, "left")
    p_live = F.coalesce(F.col("_p_exists"), F.lit(False))
    same_winner = F.struct(*[F.col(c) for c in ord_cols]).eqNullSafe(F.col("_p_ord"))
    change = (
        F.when(~c_del & ~p_live, F.lit("insert"))
        .when(~c_del & p_live & ~same_winner, F.lit("update_postimage"))
        .when(c_del & p_live, F.lit("delete"))
    )
    return (
        j.withColumn("_change_type", change)
        .filter(F.col("_change_type").isNotNull())
        .drop("_p_ord", "_p_exists", *META_COLUMNS)
    )


def table_changes_range(
    table: LakeTable,
    job_id: str,
    from_epoch: int,
    to_epoch: int,
    key_cols: list[str] = list(KEY_COLUMNS),
    prune_buckets: bool = True,
    single_job: bool = True,
) -> DataFrame:
    """Change feed over an EPOCH RANGE [from_epoch, to_epoch], inclusive:
    bucket-pruned per-epoch diffs, each row tagged `_commit_epoch`. This is
    the catch-up read a downstream materialization does after falling N
    epochs behind — applying the rows in `_commit_epoch` order (deletes
    drop, others upsert) reproduces snapshot `to_epoch` exactly from
    snapshot `from_epoch - 1`.

    `single_job=True` (default) builds ONE plan whose scan count is bounded
    by the touched FILES, not the epoch count: every distinct data file is
    read exactly once by a single multi-path scan, a broadcast role map
    fans each file's rows out to the (epoch, side) states it participates
    in, and the whole range diffs in ONE key-equality join keyed by
    (_commit_epoch, key) — a 10^4-epoch catch-up stays a 3-stage job
    instead of a 10^4-arm union. `single_job=False` keeps the legacy
    per-epoch lazy union (one `table_changes` plan arm per epoch), useful
    when per-epoch plans must stay independently explainable.

    Raises KeyError (like `table_changes`) when any epoch in the range, or
    the parent of `from_epoch`, has been vacuumed past."""
    if to_epoch < from_epoch:
        raise ValueError(f"empty epoch range [{from_epoch}, {to_epoch}]")
    if single_job:
        return _changes_range_single_job(
            table, job_id, from_epoch, to_epoch, key_cols, prune_buckets
        )
    out = None
    for e in range(from_epoch, to_epoch + 1):
        d = table_changes(table, job_id, e, key_cols, prune_buckets).withColumn(
            "_commit_epoch", F.lit(e).cast("long")
        )
        out = d if out is None else out.unionByName(d)
    return out


def _changes_range_single_job(
    table: LakeTable,
    job_id: str,
    from_epoch: int,
    to_epoch: int,
    key_cols: list[str],
    prune_buckets: bool,
) -> DataFrame:
    """One-plan epoch-range diff (see `table_changes_range`).

    Driver side is pure manifest arithmetic (the same dict walks the stream
    source does in streaming/feed.py): for each epoch, the files of its
    touched buckets at the commit and at its parent become (file, epoch,
    side) roles. Data files are immutable and attempt-unique, so a file
    appearing in many states is still scanned ONCE; the broadcast role join
    replays its rows into every (epoch, side) it serves. On a copy-on-write
    table a file serves at most two roles (cur of its writing epoch, prev
    of the next epoch touching its bucket), so the fan-out is bounded by 2;
    merge-on-read snapshots can fan wider but resolve in the same plan."""
    import os

    spark = table.spark
    roles: list[tuple[str, int, str]] = []
    need_resolve = False
    m = None
    for e in range(from_epoch, to_epoch + 1):
        v = table.version_for_epoch(job_id, e)
        m = table.snapshot(v)
        if m.parent is None:
            pm = None
        else:
            try:
                pm = table.snapshot(m.parent)
            except FileNotFoundError:
                raise KeyError(
                    f"parent snapshot of epoch {e} (version {m.parent}) "
                    "vacuumed past; change feed requires both snapshots retained"
                ) from None
        touched = _touched_buckets(pm, m) if (pm is not None and prune_buckets) else None

        def _picked(man):
            return [
                f for f in man.files if touched is None or f.get("bucket") in touched
            ]

        roles += [(f["path"], e, "cur") for f in _picked(m)]
        need_resolve = need_resolve or bool(m.has_deltas and m.key_cols and m.order_cols)
        if pm is not None:
            roles += [(f["path"], e, "prev") for f in _picked(pm)]
            need_resolve = need_resolve or bool(
                pm.has_deltas and pm.key_cols and pm.order_cols
            )
    # to_epoch's schema is the additive superset: older files null-fill.
    schema = m.schema
    out_cols = [c for c in schema.names if c not in META_COLUMNS]
    if not roles:
        empty = spark.createDataFrame([], schema).drop(*META_COLUMNS)
        return empty.withColumn("_change_type", F.lit("insert")).withColumn(
            "_commit_epoch", F.lit(0).cast("long")
        ).filter(F.lit(False))
    rel_paths = sorted({p for p, _, _ in roles})
    # Role attachment key: the shortest path SUFFIX (k trailing segments)
    # unique across all involved files. One basename is not enough — Spark's
    # partitioned writer reuses its job UUID across bucket dirs — but every
    # layout nests files under a per-commit uuid dir, so a short suffix
    # always disambiguates. Suffixes survive the file:// URI prefix
    # `input_file_name()` adds, which a full-path match would not.
    def _suffix(p: str, k: int) -> str:
        return "/".join(p.split("/")[-k:])

    min_depth = min(len(p.split("/")) for p in rel_paths)
    for k in range(1, min_depth + 1):
        if len({_suffix(p, k) for p in rel_paths}) == len(rel_paths):
            break
    else:
        # unreachable with per-commit uuid dirs; degenerate layouts fall
        # back to the per-epoch union.
        return table_changes_range(
            table, job_id, from_epoch, to_epoch, key_cols, prune_buckets,
            single_job=False,
        )
    data = spark.read.schema(schema).parquet(
        *[os.path.join(table.path, p) for p in rel_paths]
    )
    data = data.withColumn(
        "_fkey", F.array_join(F.slice(F.split(F.input_file_name(), "/"), -k, k), "/")
    )
    roles_df = spark.createDataFrame(
        [(_suffix(p, k), e, s) for p, e, s in roles],
        "_fkey string, _commit_epoch long, _side string",
    )
    tagged = data.join(F.broadcast(roles_df), "_fkey").drop("_fkey")
    if need_resolve:
        tagged = lww_latest(
            tagged,
            key_cols=["_commit_epoch", "_side", *m.key_cols],
            order_cols=list(m.order_cols),
        )
    c_del = F.coalesce(F.col("_deleted"), F.lit(False))
    ord_cols = ["ts", "_lsn", "_src_part"]
    cur = tagged.filter(F.col("_side") == "cur").drop("_side")
    prev = (
        tagged.filter(F.col("_side") == "prev")
        .filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
        .select(
            "_commit_epoch",
            *key_cols,
            F.struct(*[F.col(c) for c in ord_cols]).alias("_p_ord"),
            F.lit(True).alias("_p_exists"),
        )
    )
    j = cur.join(prev, ["_commit_epoch", *key_cols], "left")
    p_live = F.coalesce(F.col("_p_exists"), F.lit(False))
    same_winner = F.struct(*[F.col(c) for c in ord_cols]).eqNullSafe(F.col("_p_ord"))
    change = (
        F.when(~c_del & ~p_live, F.lit("insert"))
        .when(~c_del & p_live & ~same_winner, F.lit("update_postimage"))
        .when(c_del & p_live, F.lit("delete"))
    )
    return (
        j.withColumn("_change_type", change)
        .filter(F.col("_change_type").isNotNull())
        .select(*out_cols, "_change_type", "_commit_epoch")
    )


def validate_changes(
    changes: DataFrame,
    key_cols: list[str] = list(KEY_COLUMNS),
    order_cols: list[str] = list(LWW_ORDER_COLUMNS),
) -> None:
    """Fail fast with a precise error on malformed change batches (the
    reference's invalid-input discipline, test/tar_test.go:93-121)."""
    missing = [c for c in [*key_cols, *order_cols, "op"] if c not in changes.columns]
    if missing:
        raise ValueError(
            f"change batch is missing required columns {missing}; "
            f"have {changes.columns}"
        )


def physical_rows(
    changes: DataFrame, key_cols: list[str] = list(KEY_COLUMNS),
    extra_cols: tuple = (),
) -> DataFrame:
    """Project raw change events to physical-table row shape WITHOUT
    folding: op/lsn/src_part become _deleted/_lsn/_src_part and delete
    events carry NULL payload (except the LWW order columns).

    Pre-nulling delete payloads commutes with the fold — if a delete wins,
    the winner row is identical to folding first; if it loses, its payload
    is discarded either way — which is what lets the aligned merge fold
    batch and target in ONE pass.

    `extra_cols` pass through unmodified (never nulled) — the fused
    multi-epoch merge keeps the epoch column for routing this way."""
    is_del = F.col("op") == F.lit("D")
    payload = [
        c for c in changes.columns if c not in key_cols and c not in CHANGE_META
    ]
    cols = [F.col(c) for c in key_cols]
    cols += [
        (F.when(~is_del, F.col(c)).otherwise(F.lit(None)).alias(c) if c != "ts" else F.col(c))
        for c in payload
    ]
    cols += [
        F.col("lsn").alias("_lsn"),
        F.col("src_part").alias("_src_part"),
        is_del.alias("_deleted"),
    ]
    cols += [F.col(c) for c in extra_cols]
    return changes.select(*cols)


def fold_changes(
    changes: DataFrame,
    key_cols: list[str] = list(KEY_COLUMNS),
    order_cols: list[str] = list(LWW_ORDER_COLUMNS),
    salt_buckets: int | None = None,
) -> DataFrame:
    """Per-key LWW fold of a change batch into one merge-ready row per key.

    Output = key cols + payload cols + (_lsn, _src_part, _deleted), i.e. the
    physical-table shape. Tombstone folding: a key whose winning event is a
    delete becomes a `_deleted=true` row with NULL payload (the reference
    folds such records out entirely — filter/filter.go:59-68 — but a CDC
    table must remember the delete).
    """
    winners = lww_latest(changes, key_cols=key_cols, order_cols=order_cols,
                         salt_buckets=salt_buckets)
    return physical_rows(winners, key_cols)


@dataclass
class ApplyResult:
    job_id: str
    epoch: int
    skipped: bool
    version: int | None
    lineage: list[dict]


def _ts_micros(df: DataFrame, col: str = "ts"):
    """Epoch-micros expression for a timestamp column, independent of the
    driver session's timezone for BOTH timestamp flavors:

    - TIMESTAMP (an absolute instant): `unix_micros` directly;
    - TIMESTAMP_NTZ (e.g. plain parquet scans): `unix_micros` rejects it
      and every NTZ->TIMESTAMP cast reinterprets through the session TZ, so
      micros are composed from `unix_timestamp` (verified session-TZ-
      independent on NTZ: naive-as-UTC, matching DuckDB epoch_us) plus the
      sub-second part of extract(SECOND). Assumes post-1970 data (the
      truncation in unix_timestamp floors toward zero)."""
    if isinstance(df.schema[col].dataType, T.TimestampNTZType):
        frac = (
            F.expr(f"extract(SECOND FROM {col})") * F.lit(1_000_000)
        ).cast("long") % F.lit(1_000_000)
        return F.unix_timestamp(F.col(col)) * F.lit(1_000_000) + frac
    return F.unix_micros(F.col(col))


def _lineage_base(changes: DataFrame) -> list[dict]:
    """Per-src-partition offsets + watermark (one cheap map-side-combining
    aggregate). Winner-op counts stay None — the merge fold's accumulator
    fills them."""
    rows = (
        changes.groupBy("src_part")
        .agg(
            F.count(F.lit(1)).alias("offsets_applied"),
            # epoch micros: an absolute instant, independent of the driver
            # session's timezone (naive isoformat would shift across TZs)
            F.max(_ts_micros(changes)).alias("watermark"),
        )
        .collect()
    )
    return [
        {
            "src_part": int(r["src_part"]),
            "offsets_applied": int(r["offsets_applied"]),
            "rows_upserted": None,
            "rows_deleted": None,
            "watermark": int(r["watermark"]) if r["watermark"] is not None else None,
        }
        for r in rows
    ]


def _fill_lineage(lineage: list[dict], counts: dict) -> None:
    for ln in lineage:
        sp = ln["src_part"]
        ln["rows_upserted"] = int(counts.get((sp, False), 0))
        ln["rows_deleted"] = int(counts.get((sp, True), 0))


def precompute_epoch_stats(
    table: LakeTable,
    changes: DataFrame,
    key_cols: list[str] = list(KEY_COLUMNS),
    order_cols: list[str] = list(LWW_ORDER_COLUMNS),
    epoch_col: str = "epoch",
) -> dict[int, dict]:
    """One Spark job computing, for EVERY epoch of a replay at once:
    per-src-partition offsets/watermark + the affected bucket set.

    Batch replay applies epochs serially; paying fixed job latency per epoch
    for these small aggregates dominates wall time at high parallelism
    (measured ~5s/epoch of driver-side serial). Folding them into one
    up-front pass makes the per-epoch serial residue just the merge write.

    This is ONE raw map-side-combining pass — no key fold. The per-key
    winner-op counts (rows_upserted/rows_deleted) are NOT computed here:
    they ride the merge fold itself via an accumulator (the lineage
    piggyback of aligned_lww_fold_fused), which removed a second full
    scan+shuffle of the change log per replay (measured ~30% of an 8-core
    replay's wall).
    Lineage rows leave upserted/deleted as None for apply_changes to fill.
    """
    from go_tfdata_spark.lake.table import bucket_expr

    m = table.snapshot()
    # Buckets come from RAW keys (not the fold): every key present in a
    # batch produces exactly one folded row, so the raw key set and the
    # folded key set hit identical buckets.
    base = (
        changes.withColumn("_b", bucket_expr(m.bucket_by, m.num_buckets))
        .groupBy(epoch_col, "src_part")
        .agg(
            F.count(F.lit(1)).alias("offsets_applied"),
            F.max(_ts_micros(changes)).alias("watermark"),
            F.collect_set("_b").alias("bks"),
        )
        .collect()
    )
    stats: dict[int, dict] = {}
    for r in base:
        e = int(r[epoch_col])
        s = stats.setdefault(e, {"lineage": [], "affected": set()})
        s["affected"].update(r["bks"])
        s["lineage"].append(
            {
                "src_part": int(r["src_part"]),
                "offsets_applied": int(r["offsets_applied"]),
                "rows_upserted": None,
                "rows_deleted": None,
                "watermark": int(r["watermark"]) if r["watermark"] is not None else None,
            }
        )
    for s in stats.values():
        s["affected"] = sorted(s["affected"])
    return stats


# Merge strategies apply_changes and replay accept: the copy-on-write fold
# ("aligned") and merge-on-read ("mor").
MERGE_STRATEGIES = ("aligned", "mor")

# Epochs per fused chunk in replay() when `fuse_epochs` is not given.
_FUSE_EPOCHS = 8


def _check_strategy(merge_strategy: str) -> None:
    if merge_strategy not in MERGE_STRATEGIES:
        raise ValueError(
            f"unknown merge_strategy {merge_strategy!r}; "
            f"expected one of {MERGE_STRATEGIES}"
        )


def apply_changes(
    table: LakeTable,
    changes: DataFrame,
    job_id: str,
    epoch: int,
    key_cols: list[str] = list(KEY_COLUMNS),
    order_cols: list[str] = list(LWW_ORDER_COLUMNS),
    evolve_schema: bool = True,
    collect_lineage: bool = True,
    merge_strategy: str = "aligned",
    precomputed: dict | None = None,
    auto_compact_deltas: int | None = None,
) -> ApplyResult:
    """Apply one change batch (micro-batch epoch or replay chunk) to `table`.

    Steps: ledger check -> additive schema evolution -> LWW fold +
    tombstone fold -> order-conditional MERGE, with lineage embedded in the
    atomic commit.

    `merge_strategy` is one of MERGE_STRATEGIES; any other value raises
    ValueError before any work. Both run the one Arrow fold on the
    table's write layout, over physical-shape rows:

    - "aligned" (copy-on-write, the default): the batch folds with the
      carried target rows as a one-epoch chunk of
      `LakeTable.merge_aligned_fused` — the same fold a fused replay chunk
      runs. Only the (bucket, split) units holding batch rows are
      rewritten, however small the batch; hot keys spread over a bucket's
      splits, which hash the full key. An empty batch publishes a version
      with an unchanged file set, so its ledger entry still commits;
    - "mor" (merge-on-read): the same fold with no carried files writes the
      batch winners as delta files, published by `append_delta`.

    The lineage winner-op counts ride the fold through an accumulator.

    `auto_compact_deltas` (opt-in, MOR only): after the delta commit, any
    bucket holding >= that many delta FILES (each MOR epoch adds up to
    `_WRITE_SPLITS_PER_BUCKET` per affected bucket) is compacted, bounding
    read amplification under long MOR replays — without it a 10^5-epoch
    stream accumulates O(epochs) delta files per bucket and every read pays
    the resolve over all of them. Compaction here is advisory: losing a CAS
    race to a concurrent epoch just postpones it to the next trigger.
    """
    _check_strategy(merge_strategy)
    validate_changes(changes, key_cols, order_cols)
    if table.is_committed(job_id, epoch):
        return ApplyResult(job_id, epoch, skipped=True, version=None, lineage=[])

    if evolve_schema:
        known = set(table.schema().fieldNames()) | set(CHANGE_META) | set(key_cols)
        new_fields = [f for f in changes.schema.fields if f.name not in known]
        if new_fields:
            table.update_schema(new_fields, summary={"job_id": job_id})

    if precomputed is not None:
        lineage = precomputed.get("lineage", [])
        affected = precomputed.get("affected")
    else:
        lineage = _lineage_base(changes) if collect_lineage else []
        affected = None
    summary = {"job_id": job_id, "epoch": int(epoch), "lineage": lineage}
    # Winner-op counts (rows_upserted/deleted) ride the merge fold via an
    # accumulator (no extra scan/shuffle).
    acc = None
    if any(ln["rows_upserted"] is None for ln in lineage):
        acc = lineage_accumulator(table.spark)

    def finalize(m):  # noqa: ANN001
        if acc is not None:
            _fill_lineage(lineage, fold_lineage_counts_epoch(acc.value, epoch))

    phys_order = ["ts", "_lsn", "_src_part"]
    # No separate batch fold: physical-shape rows (tombstones pre-nulled —
    # commutes with the fold, see physical_rows) fold once on the write
    # layout, as a one-epoch chunk.
    rows = physical_rows(changes, key_cols).withColumn(
        "epoch", F.lit(int(epoch))
    )
    if merge_strategy == "aligned":
        [m] = table.merge_aligned_fused(
            rows,
            epoch_col="epoch",
            summaries={int(epoch): summary},
            key_cols=key_cols,
            order_cols=phys_order,
            affected_by_epoch={int(epoch): affected},
            lineage_acc=acc,
            finalize_by_epoch=lambda e, m: finalize(m),
        )
        return ApplyResult(job_id, epoch, skipped=False, version=m.version,
                           lineage=lineage)
    # merge-on-read: the fold writes the batch winners as delta files (write
    # O(batch), no target scan); reads/compaction resolve LWW. append_delta
    # only publishes the manifest (CAS retries republish the SAME files — no
    # data rewrite, identical zombie/orphan contract).
    written = table._fold_write(
        table.snapshot(), rows, "epoch", [int(epoch)], key_cols, phys_order,
        lineage_acc=acc,
    )
    m = table.append_delta(
        None, summary=summary, finalize=finalize,
        entries=[dict(f, delta=True) for f in written[int(epoch)]],
    )
    if auto_compact_deltas is not None:
        from go_tfdata_spark.lake.table import CommitConflict

        per_bucket: dict = {}
        for f in m.files:
            if f.get("delta"):
                b = f.get("bucket")
                per_bucket[b] = per_bucket.get(b, 0) + 1
        todo = [b for b, n in per_bucket.items() if n >= auto_compact_deltas]
        if todo:
            try:
                table.compact(buckets=todo)
            except CommitConflict:
                pass  # a concurrent epoch won the version; retrigger later
    return ApplyResult(job_id, epoch, skipped=False, version=m.version, lineage=lineage)


def apply_changes_fused(
    table: LakeTable,
    changes: DataFrame,
    job_id: str,
    epochs: list[int],
    stats: dict[int, dict],
    key_cols: list[str] = list(KEY_COLUMNS),
    order_cols: list[str] = list(LWW_ORDER_COLUMNS),
    epoch_col: str = "epoch",
    evolve_schema: bool = True,
    collect_lineage: bool = True,
) -> list[ApplyResult]:
    """Apply a CHUNK of consecutive uncommitted epochs as ONE fold
    job (see LakeTable.merge_aligned_fused): one scan + one shuffle for
    the chunk, the carried winner state read once and held in-worker, one
    atomic ledger-carrying commit per epoch. Semantically identical to
    applying the epochs through `apply_changes` in order — every
    intermediate snapshot, every lineage row, the same exactly-once
    ledger. replay() picks the chunks; callers never need this directly."""
    validate_changes(changes, key_cols, order_cols)
    if evolve_schema:
        known = set(table.schema().fieldNames()) | set(CHANGE_META) | set(key_cols)
        new_fields = [f for f in changes.schema.fields if f.name not in known]
        if new_fields:
            table.update_schema(new_fields, summary={"job_id": job_id})
    epochs = sorted(int(e) for e in epochs)
    summaries: dict[int, dict] = {}
    affected: dict[int, list | None] = {}
    lineage_by_epoch: dict[int, list] = {}
    for e in epochs:
        lineage_by_epoch[e] = stats[e].get("lineage", [])
        summaries[e] = {
            "job_id": job_id, "epoch": int(e), "lineage": lineage_by_epoch[e]
        }
        affected[e] = stats[e].get("affected")
    needs_counts = collect_lineage and any(
        ln["rows_upserted"] is None
        for e in epochs
        for ln in lineage_by_epoch[e]
    )
    acc = None
    finalize_by_epoch = None
    if needs_counts:
        acc = lineage_accumulator(table.spark)

        def finalize_by_epoch(e, m, _acc=acc):  # noqa: ANN001
            _fill_lineage(
                lineage_by_epoch[e], fold_lineage_counts_epoch(_acc.value, e)
            )

    chunk = changes.filter(F.col(epoch_col).isin(epochs))
    src = physical_rows(chunk, key_cols, extra_cols=(epoch_col,))
    ms = table.merge_aligned_fused(
        src,
        epoch_col=epoch_col,
        summaries=summaries,
        key_cols=key_cols,
        order_cols=["ts", "_lsn", "_src_part"],
        affected_by_epoch=affected,
        lineage_acc=acc,
        finalize_by_epoch=finalize_by_epoch,
    )
    return [
        ApplyResult(job_id, e, skipped=False, version=m.version,
                    lineage=lineage_by_epoch[e])
        for e, m in zip(epochs, ms)
    ]


def replay(
    table: LakeTable,
    changes: DataFrame,
    job_id: str,
    epoch_col: str = "epoch",
    collect_lineage: bool = True,
    parallel_epochs: int = 1,
    fuse_epochs: int | None = None,
    **apply_kwargs,
) -> list[ApplyResult]:
    """Batch-replay driver: apply a change log epoch by epoch (the reference's
    single-shot batch entry, §3.2, under the same kernel streaming uses).

    Resumable: already-committed epochs are skipped via the ledger, so
    killing a replay and re-running it converges to the identical final
    state (checkpoint-free resume for batch mode).

    All per-epoch statistics (lineage, affected buckets) are computed in one
    up-front job (`precompute_epoch_stats`); each epoch then costs exactly
    one merge-write job plus a manifest commit.

    `merge_strategy` (in `apply_kwargs`, default "aligned") is validated
    before any work, as in `apply_changes`. Under "aligned", uncommitted
    epochs apply in FUSED chunks of up to `fuse_epochs` (default 8)
    consecutive epochs, one fold job per chunk (`apply_changes_fused`) —
    one scan + one shuffle + one carried-state read per chunk instead of
    per epoch, with the identical per-epoch manifests/ledger/lineage. A
    chunk of one runs the same fold, so `fuse_epochs=1` only shortens the
    chunks. Merge-on-read and already-committed epochs break chunks and go
    through `apply_changes` one by one. Crash recovery granularity is the
    chunk: a kill mid-chunk commits the published prefix and the ledger
    re-runs only the remainder.
    """
    import os as _os
    import sys as _sys
    import time as _time

    merge_strategy = apply_kwargs.get("merge_strategy", "aligned")
    _check_strategy(merge_strategy)
    _timing = _os.environ.get("SPARK_GRAFT_TIMING") == "1"
    _t0 = _time.time()
    stats = (
        precompute_epoch_stats(
            table, changes,
            key_cols=apply_kwargs.get("key_cols", list(KEY_COLUMNS)),
            order_cols=apply_kwargs.get("order_cols", list(LWW_ORDER_COLUMNS)),
            epoch_col=epoch_col,
        )
        if collect_lineage
        else {
            int(r[0]): {"lineage": [], "affected": None}
            for r in changes.select(epoch_col).distinct().collect()
        }
    )
    if _timing:
        print(f"TIMING precompute {_time.time() - _t0:.2f}s", file=_sys.stderr, flush=True)

    def _one(e: int) -> ApplyResult:
        _te = _time.time()
        batch = changes.filter(F.col(epoch_col) == F.lit(e))
        r = apply_changes(
            table, batch, job_id, int(e),
            collect_lineage=collect_lineage,
            precomputed=stats[e],
            **apply_kwargs,
        )
        if _timing:
            print(f"TIMING epoch={e} {_time.time() - _te:.2f}s", file=_sys.stderr, flush=True)
        return r

    epochs = sorted(stats)
    if parallel_epochs > 1:
        # Only merge-on-read epochs commute (pure file additions + LWW
        # resolution); COW merges rewrite shared buckets and must serialize.
        if merge_strategy != "mor":
            raise ValueError("parallel_epochs requires merge_strategy='mor'")
        from concurrent.futures import ThreadPoolExecutor

        # Spark job submission is thread-safe; concurrent epochs keep the
        # cluster saturated and overlap per-epoch fixed costs. Exactly-once
        # is preserved: each epoch is its own CAS-retried ledger commit.
        with ThreadPoolExecutor(max_workers=parallel_epochs) as ex:
            return list(ex.map(_one, epochs))
    fuse = _FUSE_EPOCHS if fuse_epochs is None else max(1, fuse_epochs)

    results: list[ApplyResult] = []
    run: list[int] = []

    def _fused_run() -> None:
        nonlocal run
        for i in range(0, len(run), fuse):
            chunk = run[i:i + fuse]
            _tc = _time.time()
            results.extend(apply_changes_fused(
                table, changes, job_id, chunk, stats,
                key_cols=apply_kwargs.get("key_cols", list(KEY_COLUMNS)),
                order_cols=apply_kwargs.get("order_cols", list(LWW_ORDER_COLUMNS)),
                epoch_col=epoch_col,
                evolve_schema=apply_kwargs.get("evolve_schema", True),
                collect_lineage=collect_lineage,
            ))
            if _timing:
                print(f"TIMING fused_chunk={chunk[0]}..{chunk[-1]} "
                      f"{_time.time() - _tc:.2f}s", file=_sys.stderr, flush=True)
        run = []

    for e in epochs:
        fusable = (
            merge_strategy != "mor" and not table.is_committed(job_id, int(e))
        )
        if fusable:
            run.append(e)
        else:
            _fused_run()
            results.append(_one(e))
    _fused_run()
    return results


def lineage_metrics(table: LakeTable, job_id: str | None = None) -> DataFrame:
    """Materialize the lineage table (FIXTURES.md §5) from the manifest chain.

    Watermarks are stored in the manifest as epoch micros (absolute
    instants) and reconstructed with `timestamp_micros`, so a table written
    under one driver timezone reads identically under any other. Manifests
    written by older engine versions carry naive isoformat strings; those
    are parsed as-is (legacy, session-TZ-dependent by construction)."""
    from datetime import datetime

    rows = []
    for m in table.history():
        s = m.summary
        if "epoch" not in s or (job_id and s.get("job_id") != job_id):
            continue
        for ln in s.get("lineage", []):
            wm = ln.get("watermark")
            wm_us = wm if isinstance(wm, int) else None
            wm_legacy = datetime.fromisoformat(wm) if isinstance(wm, str) else None
            rows.append(
                (
                    s.get("job_id"),
                    int(s["epoch"]),
                    ln["src_part"],
                    ln["offsets_applied"],
                    ln["rows_upserted"],
                    ln["rows_deleted"],
                    wm_us,
                    wm_legacy,
                )
            )
    base_fields = [f for f in LINEAGE_SCHEMA.fields if f.name != "watermark"]
    build_schema = T.StructType(
        base_fields
        + [
            T.StructField("_wm_us", T.LongType(), True),
            T.StructField("_wm_legacy", T.TimestampType(), True),
        ]
    )
    df = table.spark.createDataFrame(rows, build_schema)
    return df.select(
        *[f.name for f in base_fields],
        F.coalesce(
            F.timestamp_micros(F.col("_wm_us")), F.col("_wm_legacy")
        ).alias("watermark"),
    )
