"""Bucket-aligned Arrow LWW fold — the write-path kernel for dense batches.

The encoded/max_by folds (operators/lww.py) aggregate BEFORE the table's
bucket layout is imposed, so a COW merge pays two payload shuffles: the
fold's groupBy exchange, then `_write_data`'s repartition to (bucket,
split). For dense batches (keys ~ table) this doubles the bytes moved and
funnels wide rows through a sort-based aggregate (string agg buffers cannot
hash-aggregate) plus a to_json/from_json round-trip.

This module folds ON the write layout instead:

    repartition(num_buckets * splits, bucket(key), split(key))
      -> mapInArrow partition-local winner-per-key (stable Arrow sort +
         group_by max-position; no JSON, no wide sort-agg)
      -> rows are already presharded for the bucket-partitioned write

ONE payload shuffle total, zero payload serialization detours, and the
fold's CPU runs in per-task Python workers (separate processes — on a
32-thread single JVM this also sidesteps allocator/memory-manager lock
contention; on a real cluster it is simply an Arrow pipeline).

The fold is pyarrow end-to-end (mapInArrow), never pandas: the Arrow->
pandas conversion silently widens nullable int64 to float64, corrupting
payload values above 2^53 whenever a tombstone nulls a bigint column in
the same partition. Staying in Arrow keeps every column's physical type
bit-exact through the fold.

Correctness: bucket and split are pure functions of the bucket key, so all
rows of one (conv_id, turn_idx) land in one partition and a partition-local
fold is a global fold. The fold is incremental across Arrow batches — state
is the per-partition winner set, O(distinct keys in partition), not the raw
partition (memory-bounded for arbitrarily large partitions).

Measured (20M events x 256-char text, 32 cores): fold+bucketed-write 46.5s
vs 77.4s for the encoded fold + repartition write — 1.66x, with strictly
better 8->32 scaling.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Incremental-fold squash floor (rows buffered before a concat+sort+dedup
# pass). 512k keeps typical write-layout partitions to ONE final sort
# (measured: repeated interim squashes cost ~2x the fold CPU at 32
# threads) while bounding memory at O(max(floor, winners)) rows for
# pathological partitions. Env knob for A/B runs (round 3 used 64k).
_SQUASH_FLOOR = int(os.environ.get("SPARK_GRAFT_SQUASH_FLOOR", "512000"))


def _winner_table(tbl, key_cols: list[str], sort_cols: list[str]):
    """Keep the last-per-key row of a stable ascending sort (NULLs lowest).

    Pure pyarrow, and payload-oblivious until the very end: the sort and
    the per-key argmax run on a SLIM (key, order) projection — the wide
    payload columns are gathered exactly once, for the winner rows only
    (vs sorting/taking the full table: measured 1.45x faster at 600k rows
    of 256-char text). Later concat positions win exact order ties via the
    stable sort + max-rank, matching the engine's arrival-order tiebreak
    for equal (ts, lsn, src_part).
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    slim = tbl.select(key_cols + sort_cols)
    idx = pc.sort_indices(
        slim,
        sort_keys=[(c, "ascending") for c in sort_cols],
        null_placement="at_start",
    )
    keys_sorted = slim.select(key_cols).take(idx)
    rank_name = "__rank__"
    while rank_name in keys_sorted.column_names:
        rank_name = "_" + rank_name
    keyed = keys_sorted.append_column(
        rank_name, pa.array(np.arange(len(tbl)), pa.int64())
    )
    win_rank = keyed.group_by(key_cols, use_threads=False).aggregate(
        [(rank_name, "max")]
    )[f"{rank_name}_max"]
    return tbl.take(pc.take(idx, win_rank))


def _winner_and_batch_table(tbl, key_cols, sort_cols, isb_col, batch_slim_cols):
    """Like `_winner_table`, but ALSO returns the per-key winner AMONG
    batch rows (`isb_col` true) as a slim table of `batch_slim_cols` —
    from the SAME sort. The lineage contract counts what the batch itself
    resolves to (a batch row losing its key to a carried target row is
    still the BATCH winner), which previously cost a second concat + sort
    over every batch row per task; here it is one extra conditional-rank
    aggregate over the already-sorted keys (interleaved A/B at 30M events:
    32-core replay 23.2 s vs 25.4 s best-of — ~8% wall; 8-core parity)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    slim = tbl.select(list(dict.fromkeys(
        key_cols + sort_cols + batch_slim_cols + [isb_col]
    )))
    idx = pc.sort_indices(
        slim,
        sort_keys=[(c, "ascending") for c in sort_cols],
        null_placement="at_start",
    )
    keys_sorted = slim.select(key_cols).take(idx)
    rank = np.arange(len(tbl))
    isb_sorted = pc.fill_null(
        slim[isb_col].take(idx).combine_chunks(), False
    ).to_numpy(zero_copy_only=False)
    # rank among batch rows only; -1 marks target rows (never a max unless
    # the key has NO batch row, filtered below)
    brank = np.where(isb_sorted, rank, -1)
    rank_name, brank_name = "__rank__", "__brank__"
    while rank_name in keys_sorted.column_names:
        rank_name = "_" + rank_name
        brank_name = "_" + brank_name
    keyed = keys_sorted.append_column(
        rank_name, pa.array(rank, pa.int64())
    ).append_column(brank_name, pa.array(brank, pa.int64()))
    grp = keyed.group_by(key_cols, use_threads=False).aggregate(
        [(rank_name, "max"), (brank_name, "max")]
    )
    winners = tbl.take(pc.take(idx, grp[f"{rank_name}_max"]))
    bmax = grp[f"{brank_name}_max"]
    bsel = bmax.filter(pc.greater_equal(bmax, 0))
    # bsel holds sorted-order ranks; map through idx to original rows and
    # gather ONLY the per-key batch winners (never the full sorted table)
    batch_slim = slim.select(batch_slim_cols).take(pc.take(idx, bsel))
    return winners, batch_slim


def _conform_arrow(tbl, pa_schema):
    """Conform a parquet-read Arrow table to the fold's Arrow schema:
    reorder, drop extras, null-fill columns the file predates (additive
    schema evolution), and cast physical types — Spark writes timestamps
    as INT96/naive-ns while the fold schema carries timestamp[us, tz=UTC];
    the cast is a unit/annotation change on the same UTC-epoch int64s,
    verified lossless either direction."""
    import pyarrow as pa

    cols = []
    names = set(tbl.column_names)
    for field in pa_schema:
        if field.name in names:
            col = tbl.column(field.name)
            if col.type != field.type:
                col = col.cast(field.type)
            cols.append(col)
        else:
            cols.append(pa.chunked_array([pa.nulls(len(tbl), field.type)]))
    return pa.Table.from_arrays(cols, schema=pa_schema)


_PARTITION_MAP_CACHE: dict[int, dict[int, int]] = {}


def fold_partition_map(spark, n_partitions: int) -> dict[int, int]:
    """Partition index each pid in [0, n_partitions) lands in under
    ``repartition(n_partitions, col(pid))`` — HashPartitioning is
    pmod(murmur3(pid), n), evaluated HERE with the engine's own `hash()`
    expression on the same long type, so the driver-side mapping can never
    drift from Spark's partitioner. Murmur3 is deterministic, so the map
    is cached per table layout (one tiny job per process, not per epoch)."""
    cached = _PARTITION_MAP_CACHE.get(n_partitions)
    if cached is not None:
        return cached
    df = spark.range(n_partitions).select(F.col("id").alias("pid"))
    rows = df.select(
        "pid", F.pmod(F.hash(F.col("pid")), F.lit(n_partitions)).alias("p")
    ).collect()
    out = {int(r["pid"]): int(r["p"]) for r in rows}
    _PARTITION_MAP_CACHE[n_partitions] = out
    return out


def aligned_lww_fold(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    bucket_by: str,
    num_buckets: int,
    splits: int = 4,
    split_by: str | list[str] | None = None,
    bucket_col: str | None = None,
    batch_flag_col: str | None = None,
    lineage_acc=None,
    all_batch: bool = False,
    src_part_col: str = "_src_part",
    deleted_col: str = "_deleted",
    target_files: dict[int, list] | None = None,
    stream_batch: bool = False,
    write_dir: str | None = None,
    parquet_codec: str = "snappy",
    drop_deleted: bool = False,
) -> DataFrame:
    """One winner row per key, output partitioned by (bucket, split).

    `drop_deleted=True` filters tombstone WINNERS from the output after
    resolution (compaction's purge path — the filter must follow the fold
    or an older live version would win back).

    `splits` sub-divides each bucket so one hot bucket cannot bound the
    stage makespan (same constant as the lake's write splits). If
    `bucket_col` is given, the bucket id is kept as that output column
    (callers writing with partitionBy can reuse it instead of recomputing).

    Lineage piggyback: with `batch_flag_col` (a boolean column of `df`
    marking change-batch rows vs carried target rows) and `lineage_acc`
    (a per-partition-replace dict accumulator), each fold task ALSO folds
    the slim (key, order, src_part, deleted) projection of the batch rows
    and reports winner-op counts per (src_part, deleted) — the per-source
    lineage metrics ride the merge's own shuffle instead of costing a
    separate scan+shuffle job per replay (measured ~30% of replay wall).
    The slim fold must stay separate from the main fold: a batch row that
    loses its key to a carried target row is still the BATCH winner for
    that key (the lineage contract counts what the batch itself resolves
    to), so batch rows compete among themselves. Counts are keyed by
    partition id and REPLACED, not summed, on merge, so task retries/
    speculation cannot double-count. The flag column is dropped from the
    output.

    `all_batch=True` (the MOR path: EVERY input row is a change-batch row)
    derives the counts from the already-computed winner table instead of
    maintaining a second slim fold whose input equals the main fold's —
    no flag column, no duplicated sort/group work per task.

    `target_files` ({partition index: [(parquet path, bucket, split)]}) is
    the TARGET-LOCAL merge: carried target rows are not unioned/shuffled at
    all — each fold task reads the files whose (bucket, split) hashes to
    its own partition straight from storage (pyarrow, inside the Python
    worker that folds them). Table files hold exactly one (bucket, split)
    each (`_write_data` layout invariant), so a file's keys colocate with
    the shuffled batch rows of the same partition by construction; the
    mapping comes from `fold_partition_map`. With it, `stream_batch=True`
    marks every SHUFFLED row as a change-batch row for the lineage fold
    (no flag column needed — target rows arrive only via local reads).

    `write_dir` is the WRITE-IN-FOLD mode: instead of streaming the winner
    rows back through Arrow IPC -> JVM rows -> Spark's parquet writer,
    each fold task writes its own winners as parquet straight from the
    Python worker (pyarrow, `_bucket=B/_split=S/` layout, `parquet_codec`)
    and yields only the manifest entries (path, bucket, split, nrows).
    The winner payload crosses a process boundary ZERO more times after
    the shuffle — measured at 30M x 256-char events, the Python->JVM
    return IPC + JVM row conversion + JVM parquet encode it removes was
    ~30% of the fold stage. Rows know their (bucket, split) without any
    Python-side hashing: shuffled rows carry them as two small ints
    computed by the same JVM exprs that define the layout; locally-read
    target files get them as constants from their manifest entry.
    """
    import pyarrow as pa

    from go_tfdata_spark.lake.table import bucket_expr, split_expr

    split_by = split_by or bucket_by
    keep_bucket = bucket_col is not None
    if keep_bucket and write_dir is not None:
        raise ValueError("write_dir mode emits manifest entries; bucket_col "
                         "has no output column to land in")
    bcol = bucket_col or "_fold_bucket"
    scol = "_fold_split"
    while scol in df.columns:
        scol = "_" + scol
    # Materialize layout coordinates in the shuffled rows ONLY when a
    # consumer needs them per row (the caller keeps the bucket column, or
    # write-in-fold partitions files by them); the partitioning itself is
    # an EXPRESSION passed straight to repartition — routing costs zero
    # bytes in the row payload.
    work = df
    if keep_bucket or write_dir is not None:
        work = work.withColumn(bcol, bucket_expr(bucket_by, num_buckets).cast("int"))
    if write_dir is not None:
        work = work.withColumn(scol, split_expr(split_by, splits).cast("int"))
    out_fields = [
        f for f in (work.schema if keep_bucket else df.schema).fields
        if f.name not in (batch_flag_col, scol)
    ]
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StructType, StructField
    from pyspark.sql import types as T

    out_schema = StructType(out_fields)
    pa_schema = pa.schema(
        [pa.field(f.name, to_arrow_type(f.dataType)) for f in out_fields]
    )
    if write_dir is not None:
        # the fold's OUTPUT is manifest entries, not data rows
        out_schema = StructType([
            StructField("path", T.StringType(), False),
            StructField("bucket", T.IntegerType(), False),
            StructField("split", T.IntegerType(), False),
            StructField("nrows", T.LongType(), False),
        ])
    cols = [f.name for f in out_fields]
    sort_cols = list(order_cols)
    slim_cols = list(dict.fromkeys([*key_cols, *sort_cols, src_part_col, deleted_col]))
    bs_cols = [bcol, scol]

    pa_work_schema = pa_schema
    if write_dir is not None:
        pa_work_schema = pa.schema(
            list(pa_schema)
            + [pa.field(bcol, pa.int32()), pa.field(scol, pa.int32())]
        )
    work_cols = cols + (bs_cols if write_dir is not None else [])
    isb_name = "_fold_isb"
    while isb_name in work_cols:
        isb_name = "_" + isb_name

    def fold(batches):
        from pyspark import TaskContext

        # Amortized incremental fold: buffer Arrow batches and only squash
        # (concat + sort + dedup) once the buffer reaches the current
        # winner-set size — O(1) amortized copies per row. Folding on EVERY
        # batch would re-copy the full winner set per 10k-row batch:
        # O(batches x winners) memcpy, measured collapsing a 100M-event
        # fold to half the cluster idle. The 512k-row floor keeps typical
        # write-layout partitions (a few hundred MB) to ONE final sort —
        # repeated interim squashes measured ~2x the fold CPU at 32
        # threads — while still bounding memory for pathological
        # partitions at O(max(floor, winners)) rows.
        winners = None  # pa.Table
        buf: list = []
        buf_rows = 0
        bwin = None  # slim winners among batch rows (lineage)
        # Lineage batch winners ride the MAIN sort (one conditional-rank
        # aggregate over a per-row batch flag) instead of a second
        # concat+sort over every batch row — see _winner_and_batch_table.
        need_isb = (
            lineage_acc is not None
            and not all_batch
            and (batch_flag_col is not None or stream_batch)
        )
        isb = isb_name

        # target-local merge: load this partition's carried target files
        # before streaming the shuffled batch rows (order is irrelevant to
        # the fold — ties on the full order tuple mean identical events)
        if target_files:
            import pyarrow.parquet as pq

            pid0 = TaskContext.get().partitionId()
            for entry in target_files.get(pid0, []):
                path, fb, fs = entry if isinstance(entry, tuple) else (entry, None, None)
                t = _conform_arrow(pq.read_table(path), pa_schema)
                if write_dir is not None:
                    # file-constant layout coordinates from the manifest —
                    # no Python-side re-hashing of the bucket key
                    t = t.append_column(
                        bcol, pa.array([fb] * len(t), pa.int32())
                    ).append_column(scol, pa.array([fs] * len(t), pa.int32()))
                if need_isb:
                    t = t.append_column(isb, pa.array([False] * len(t), pa.bool_()))
                if len(t):
                    buf.append(t)
                    buf_rows += len(t)

        def squash():
            nonlocal winners, buf, buf_rows, bwin
            tables = ([winners] if winners is not None else []) + buf
            if not tables:
                return
            # promote: shuffled batches arrive with not-null fields,
            # locally-read target tables with nullable ones — same
            # physical types, metadata-only unification
            cur = pa.concat_tables(tables, promote_options="default")
            if need_isb:
                winners, batch_slim = _winner_and_batch_table(
                    cur, key_cols, sort_cols, isb, slim_cols
                )
                if bwin is not None and len(bwin):
                    # merge with the previous squash's batch winners —
                    # O(winner keys) slim rows, not O(batch rows)
                    bwin = _winner_table(
                        pa.concat_tables([bwin, batch_slim]), key_cols, sort_cols
                    )
                else:
                    bwin = batch_slim
            else:
                winners = _winner_table(cur, key_cols, sort_cols)
            buf, buf_rows = [], 0

        for rb in batches:
            t_full = pa.Table.from_batches([rb])
            t = t_full.select(work_cols)
            if need_isb:
                # shuffled rows: flag column if present (union fallback
                # path), else constant True (target-local mode — carried
                # rows arrive only via the local file reads above)
                flags = (
                    t_full[batch_flag_col]
                    if batch_flag_col is not None
                    else pa.array([True] * len(t), pa.bool_())
                )
                t = t.append_column(isb, flags)
            buf.append(t)
            buf_rows += len(t)
            if buf_rows >= max(_SQUASH_FLOOR, 0 if winners is None else len(winners)):
                squash()
        squash()
        count_src = None
        if lineage_acc is not None:
            # all_batch: the winner table IS the batch winner set — count it
            # directly instead of having folded a duplicate slim projection.
            count_src = winners if all_batch else bwin
        if count_src is not None and len(count_src):
            grp = count_src.select([src_part_col, deleted_col]).group_by(
                [src_part_col, deleted_col], use_threads=False
            ).aggregate([([], "count_all")])
            counts = {}
            for sp, dl, n in zip(
                grp[src_part_col].to_pylist(),
                grp[deleted_col].to_pylist(),
                grp["count_all"].to_pylist(),
            ):
                counts[(int(sp), bool(dl))] = int(n)
            pid = TaskContext.get().partitionId()
            lineage_acc.add({pid: counts})
        if winners is None or not len(winners):
            return
        if drop_deleted and deleted_col in winners.column_names:
            import pyarrow.compute as _pc

            winners = winners.filter(
                _pc.invert(_pc.fill_null(
                    _pc.cast(winners[deleted_col], pa.bool_()), False
                ))
            )
            if not len(winners):
                return
        if write_dir is None:
            yield from winners.select(cols).to_batches(max_chunksize=65_536)
            return
        # write-in-fold: one parquet file per (bucket, split) present in
        # this task (usually exactly one — the partitioning unit), written
        # by THIS worker; emit only the manifest entries.
        import uuid as _uuid

        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        pid = TaskContext.get().partitionId()
        combos = winners.select(bs_cols).group_by(bs_cols, use_threads=False) \
            .aggregate([])
        entries_out = []
        for b, s in zip(combos[bcol].to_pylist(), combos[scol].to_pylist()):
            mask = pc.and_(
                pc.equal(winners[bcol], pa.scalar(b, pa.int32())),
                pc.equal(winners[scol], pa.scalar(s, pa.int32())),
            )
            part = winners.filter(mask).select(cols)
            d = os.path.join(write_dir, f"_bucket={int(b)}", f"_split={int(s)}")
            os.makedirs(d, exist_ok=True)
            # attempt-unique name: a retried/speculative twin writes its own
            # file; only entries yielded by the WINNING attempt reach the
            # manifest, losers become vacuum-swept orphans
            fname = f"part-{pid:05d}-{_uuid.uuid4().hex}.parquet"
            fpath = os.path.join(d, fname)
            pq.write_table(part, fpath, compression=parquet_codec)
            entries_out.append((fpath, int(b), int(s), len(part)))
        if entries_out:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([e[0] for e in entries_out], pa.string()),
                    pa.array([e[1] for e in entries_out], pa.int32()),
                    pa.array([e[2] for e in entries_out], pa.int32()),
                    pa.array([e[3] for e in entries_out], pa.int64()),
                ],
                names=["path", "bucket", "split", "nrows"],
            )

    # Partition on ONE long pid = bucket*splits + split (not the (bucket,
    # split) column pair): a single-column HashPartitioning is the form
    # `fold_partition_map` can reproduce driver-side, which is what lets
    # merge_aligned route each target file to the fold task that owns its
    # keys. Still a pure function of the bucket key, so co-location and
    # skew-splitting are unchanged. The pid is passed as an EXPRESSION, so
    # it is evaluated for routing only and never serialized into the
    # shuffled rows (16 bytes/row saved vs materialize-then-drop).
    if keep_bucket or write_dir is not None:
        pid_expr = F.col(bcol).cast("long") * F.lit(splits)
        pid_expr = pid_expr + (
            F.col(scol).cast("long") if write_dir is not None
            else split_expr(split_by, splits).cast("long")
        )
    else:
        pid_expr = (
            bucket_expr(bucket_by, num_buckets).cast("long") * F.lit(splits)
            + split_expr(split_by, splits).cast("long")
        )
    rep = work.repartition(num_buckets * splits, pid_expr)
    return rep.mapInArrow(fold, out_schema)


class PartitionReplaceAccum:
    """AccumulatorParam for {partition_id: value} maps where merge REPLACES
    per key — deterministic per-partition results make task retries and
    speculative duplicates idempotent instead of double-counted."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        a.update(b)
        return a


def lineage_accumulator(spark):
    from pyspark.accumulators import AccumulatorParam

    class _P(AccumulatorParam):
        zero = PartitionReplaceAccum.zero
        addInPlace = PartitionReplaceAccum.addInPlace

    return spark.sparkContext.accumulator({}, _P())


def fold_lineage_counts(acc_value: dict) -> dict:
    """Sum the per-partition {(src_part, deleted): n} maps into one."""
    total: dict = {}
    for counts in acc_value.values():
        for k, n in counts.items():
            total[k] = total.get(k, 0) + n
    return total


def fold_lineage_counts_epoch(acc_value: dict, epoch: int) -> dict:
    """Sum a FUSED fold's per-partition {epoch: {(src_part, deleted): n}}
    maps into one map for the given epoch."""
    total: dict = {}
    for per_epoch in acc_value.values():
        for k, n in (per_epoch.get(int(epoch)) or {}).items():
            total[k] = total.get(k, 0) + n
    return total


def aligned_lww_fold_fused(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    bucket_by: str,
    num_buckets: int,
    splits: int,
    split_by: str | list[str],
    epoch_col: str,
    write_dirs: dict[int, str],
    target_files: dict[tuple[int, int], list[str]] | None = None,
    lineage_acc=None,
    parquet_codec: str = "snappy",
) -> DataFrame:
    """FUSED multi-epoch aligned merge: ONE scan + ONE shuffle for a chunk
    of consecutive epochs, each (bucket, split) unit's winner state carried
    IN MEMORY across the chunk inside the fold task that owns the unit.

    The per-epoch replay re-reads the full winner table from parquet at
    the start of every epoch's fold (the target-local read) — O(table)
    read+decode PER EPOCH. At 10^4-epoch catch-up scale that is 10^4 full
    table re-reads; fused chunks make it one read per chunk. Correctness
    rests on LWW associativity: the winner set after epoch e equals the
    fold of (chunk-start state ∪ batches ≤ e), so folding state with each
    epoch's rows in ascending order reproduces every intermediate
    snapshot exactly (tombstones are retained rows, so state only grows).

    Input `df` is physical-shape rows PLUS `epoch_col`, holding only the
    epochs that key `write_dirs`. Routing follows the cluster, not the
    layout: every fold task is a Python worker with a fixed start-up cost
    whatever its input, so rows shuffle by the unit's pid = bucket * splits
    + split into min(units, 2 × defaultParallelism) partitions, each sorted
    by (pid, epoch). A task then streams its input run by run. On a unit's
    first row it reads that unit's carried files (`target_files[(bucket,
    split)]`, absolute parquet paths) and resolves them to the unit's
    state. At the end of each (unit, epoch) run it folds the run in,
    state <- winner(state ∪ rows_e), and writes the state as one file under
    `write_dirs[e]` (write-in-fold contract: attempt-unique
    `_bucket=B/_split=S/` files, manifest entries as output). A unit with
    no rows in an epoch writes nothing for it; the driver's manifest
    carries its file forward. Each epoch's batch self-winner counts are
    summed over the task's units and reported through `lineage_acc` as
    {partition id: {epoch: {(src_part, deleted): n}}}; replace-on-merge
    keeps retries idempotent. Output rows: (path, bucket, split, nrows,
    epoch).

    Memory: a task holds ONE unit's winner state plus ONE epoch run of
    that unit's rows, however many units hash to its partition; the JVM
    sort spills as needed. Target-local + write-in-fold only (the fused
    path exists for steady-state COW replay; sparse/broadcast epochs break
    the chunk in replay())."""
    import pyarrow as pa

    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StructField, StructType

    from go_tfdata_spark.lake.table import bucket_expr, split_expr

    bcol, scol, ecol = "_fold_bucket", "_fold_split", "_fold_epoch"
    clash = [c for c in (bcol, scol, ecol) if c in df.columns and c != epoch_col]
    if clash:
        raise ValueError(f"input already holds the fold's reserved columns {clash}")
    work = (
        df.withColumnRenamed(epoch_col, ecol)
        .withColumn(bcol, bucket_expr(bucket_by, num_buckets).cast("int"))
        .withColumn(scol, split_expr(split_by, splits).cast("int"))
    )
    out_fields = [
        f for f in df.schema.fields if f.name != epoch_col
    ]
    pa_schema = pa.schema(
        [pa.field(f.name, to_arrow_type(f.dataType)) for f in out_fields]
    )
    cols = [f.name for f in out_fields]
    sort_cols = list(order_cols)
    slim_cols = list(dict.fromkeys([*key_cols, *sort_cols, "_src_part", "_deleted"]))
    wdirs = {int(e): d for e, d in write_dirs.items()}
    tfiles = target_files or {}
    out_schema = StructType([
        StructField("path", T.StringType(), False),
        StructField("bucket", T.IntegerType(), False),
        StructField("split", T.IntegerType(), False),
        StructField("nrows", T.LongType(), False),
        StructField("epoch", T.LongType(), False),
    ])

    def fold(batches):
        import uuid as _uuid

        import numpy as np
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        part = TaskContext.get().partitionId()
        entries_out: list = []
        lin: dict[int, dict] = {}
        isb = "_fold_isb"
        unit = epoch = None  # (bucket, split) and epoch of the buffered run
        state = None  # the unit's winner table
        run: list = []

        def load(u):
            init = [
                t for t in (
                    _conform_arrow(pq.read_table(p), pa_schema)
                    for p in tfiles.get(u, ())
                ) if len(t)
            ]
            if not init:
                return None
            # pre-resolve carried state once (MOR deltas in the target file
            # set fold to their winners here)
            return _winner_table(
                pa.concat_tables(init, promote_options="default"),
                key_cols, sort_cols,
            )

        def flush():
            nonlocal state, run
            erows = pa.concat_tables(run, promote_options="default")
            run = []
            if lineage_acc is not None:
                # ONE sort per epoch: the batch self-winners ride the main
                # fold via a per-row flag + conditional-rank aggregate
                # (same trick as the single-epoch fold — a separate slim
                # sort per epoch measured ~25% slower at 20M x 8 cores)
                erows = erows.append_column(
                    isb, pa.array([True] * len(erows), pa.bool_())
                )
                tables = [erows]
                if state is not None:
                    tables.insert(0, state.append_column(
                        isb, pa.array([False] * len(state), pa.bool_())
                    ))
                state, batch_slim = _winner_and_batch_table(
                    pa.concat_tables(tables, promote_options="default"),
                    key_cols, sort_cols, isb, slim_cols,
                )
                state = state.drop_columns([isb])
                grp = batch_slim.select(["_src_part", "_deleted"]).group_by(
                    ["_src_part", "_deleted"], use_threads=False
                ).aggregate([([], "count_all")])
                counts = lin.setdefault(epoch, {})
                for sp, dl, n in zip(
                    grp["_src_part"].to_pylist(),
                    grp["_deleted"].to_pylist(),
                    grp["count_all"].to_pylist(),
                ):
                    k = (int(sp), bool(dl))
                    counts[k] = counts.get(k, 0) + int(n)
            else:
                tables = ([state] if state is not None else []) + [erows]
                state = _winner_table(
                    pa.concat_tables(tables, promote_options="default"),
                    key_cols, sort_cols,
                )
            b, s = unit
            d = os.path.join(wdirs[epoch], f"_bucket={b}", f"_split={s}")
            os.makedirs(d, exist_ok=True)
            # attempt-unique name: a retried/speculative twin writes its own
            # file; only entries yielded by the WINNING attempt reach the
            # manifest, losers become vacuum-swept orphans
            fpath = os.path.join(d, f"part-{part:05d}-{_uuid.uuid4().hex}.parquet")
            pq.write_table(state, fpath, compression=parquet_codec)
            entries_out.append((fpath, b, s, len(state), epoch))

        for rb in batches:
            if not rb.num_rows:
                continue
            bs = rb.column(bcol).to_numpy()
            ss = rb.column(scol).to_numpy()
            es = rb.column(ecol).to_numpy()
            cut = (np.flatnonzero(
                (bs[1:] != bs[:-1]) | (ss[1:] != ss[:-1]) | (es[1:] != es[:-1])
            ) + 1).tolist()
            t = pa.Table.from_batches([rb]).select(cols)
            for lo, hi in zip([0, *cut], [*cut, rb.num_rows]):
                u, e = (int(bs[lo]), int(ss[lo])), int(es[lo])
                if u != unit or e != epoch:
                    if run:
                        flush()
                    # (bucket, split) order is pid order: split < splits
                    if unit is not None and (u, e) < (unit, epoch):
                        raise RuntimeError(
                            "fused fold input is not sorted by (unit, epoch)")
                    if u != unit:
                        unit, state = u, load(u)
                    epoch = e
                run.append(t.slice(lo, hi - lo))
        if run:
            flush()
        if lineage_acc is not None and lin:
            lineage_acc.add({part: lin})
        if entries_out:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([x[0] for x in entries_out], pa.string()),
                    pa.array([x[1] for x in entries_out], pa.int32()),
                    pa.array([x[2] for x in entries_out], pa.int32()),
                    pa.array([x[3] for x in entries_out], pa.int64()),
                    pa.array([x[4] for x in entries_out], pa.int64()),
                ],
                names=["path", "bucket", "split", "nrows", "epoch"],
            )

    # Sized by the cluster, not the layout: each Python task costs a fixed
    # ~0.25 CPU-s of worker set-up whatever its input. The 2x leaves slack
    # for hash skew when units are spread over the tasks.
    n_tasks = min(num_buckets * splits,
                  2 * df.sparkSession.sparkContext.defaultParallelism)
    pid_expr = (
        F.col(bcol).cast("long") * F.lit(splits) + F.col(scol).cast("long")
    )
    rep = work.repartition(n_tasks, pid_expr).sortWithinPartitions(
        pid_expr, F.col(ecol)
    )
    return rep.mapInArrow(fold, out_schema)
