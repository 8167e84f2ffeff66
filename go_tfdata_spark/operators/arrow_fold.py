"""Bucket-aligned Arrow LWW fold — the engine's one merge fold kernel.

The encoded/max_by folds (operators/lww.py) aggregate BEFORE the table's
bucket layout is imposed, so a COW merge pays two payload shuffles: the
fold's groupBy exchange, then `_write_data`'s repartition to (bucket,
split). For dense batches (keys ~ table) this doubles the bytes moved and
funnels wide rows through a sort-based aggregate (string agg buffers cannot
hash-aggregate) plus a to_json/from_json round-trip.

`aligned_lww_fold_fused` folds ON the write layout instead:

    repartition(tasks, bucket * splits + split).sortWithinPartitions(unit, epoch)
      -> mapInArrow: per (bucket, split) unit, carried state folded with
         each epoch's rows (stable Arrow sort + group_by max-position; no
         JSON, no wide sort-agg), written as parquet in the worker
      -> manifest entries (path, bucket, split, nrows, epoch) as output

ONE payload shuffle total, and the winner payload never crosses back into
the JVM. Every merge write runs through it: a fused replay chunk and a
single `apply_changes` epoch of any size (`LakeTable.merge_aligned_fused`), a
merge-on-read delta batch (no carried files) and a keyed compaction (the
bucket's rows as one epoch, tombstones optionally purged).

The fold is pyarrow end-to-end (mapInArrow), never pandas: the Arrow->
pandas conversion silently widens nullable int64 to float64, corrupting
payload values above 2^53 whenever a tombstone nulls a bigint column in
the same partition. Staying in Arrow keeps every column's physical type
bit-exact through the fold.

Correctness: bucket and split are pure functions of the bucket key, so all
rows of one (conv_id, turn_idx) land in one unit and a unit-local fold is a
global fold. State is the unit's winner set, O(distinct keys in the unit),
and an epoch's rows fold into it in amortised squashes, so memory stays
bounded for arbitrarily large units.

Measured (20M events x 256-char text, 32 cores): fold+bucketed-write 46.5s
vs 77.4s for the encoded fold + repartition write — 1.66x, with strictly
better 8->32 scaling.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from go_tfdata_spark.worker import release_zip_finders

# Incremental-fold squash floor: a unit's buffered epoch rows fold into its
# state once they reach max(floor, len(state)) rows — O(1) amortised copies
# per row. 512k keeps typical units to ONE sort per epoch (measured:
# repeated interim squashes cost ~2x the fold CPU at 32 threads) while
# bounding memory at O(max(floor, winners)) rows for pathological units.
_SQUASH_FLOOR = 512_000


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
    """Conform an Arrow table (a parquet read or an incoming batch) to the
    fold's Arrow schema: reorder, drop extras, null-fill columns the file
    predates (additive schema evolution), and cast physical types — Spark
    writes timestamps as INT96/naive-ns, and tags batch timestamps with the
    session timezone, while the fold schema carries timestamp[us, tz=UTC];
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
    drop_deleted: bool = False,
) -> DataFrame:
    """Fold a chunk of consecutive epochs onto the table's write layout:
    ONE scan + ONE shuffle for the whole chunk, each (bucket, split) unit's
    winner state carried IN MEMORY across the chunk inside the fold task
    that owns the unit. A single epoch is a chunk of one.

    A per-epoch fold re-reads the full winner table from parquet at the
    start of every epoch — O(table) read+decode PER EPOCH. At 10^4-epoch
    catch-up scale that is 10^4 full table re-reads; chunks make it one
    read per chunk. Correctness rests on LWW associativity: the winner set
    after epoch e equals the fold of (chunk-start state ∪ batches ≤ e), so
    folding state with each epoch's rows in ascending order reproduces
    every intermediate snapshot exactly (tombstones are retained rows, so
    state only grows).

    Input `df` is physical-shape rows PLUS `epoch_col`, holding only the
    epochs that key `write_dirs`. Routing follows the cluster, not the
    layout: every fold task is a Python worker with a fixed start-up cost
    whatever its input, so rows shuffle by the unit's pid = bucket * splits
    + split into min(units, 2 × defaultParallelism) partitions, each sorted
    by (pid, epoch). A task then streams its input run by run. On a unit's
    first row it reads that unit's carried files (`target_files[(bucket,
    split)]`, absolute parquet paths; none for a merge-on-read delta batch
    or a compaction) and resolves them to the unit's state. It folds each
    (unit, epoch) run in, state <- winner(state ∪ rows_e), and at the run's
    end writes the state as one file under `write_dirs[e]` (write-in-fold
    contract: attempt-unique `_bucket=B/_split=S/` files, manifest entries
    as output). A unit with no rows in an epoch writes nothing for it; the
    driver's manifest carries its file forward.

    `drop_deleted=True` leaves tombstone winners out of what is written,
    after resolution (compaction's purge: dropping them before the fold
    would let an older live version win back). The carried state keeps
    them.

    Lineage: each epoch's batch self-winner counts — per key, the winner
    among that epoch's rows alone, which still counts when it loses to a
    carried row — are summed over the task's units and reported through
    `lineage_acc` as {partition id: {epoch: {(src_part, deleted): n}}};
    replace-on-merge keeps retries idempotent. Output rows: (path, bucket,
    split, nrows, epoch).

    Memory: a task holds ONE unit's winner state plus at most
    max(`_SQUASH_FLOOR`, len(state)) buffered rows of the current epoch
    run, however many units hash to its partition; a longer run folds into
    the state in several squashes, and the epoch's batch self-winners merge
    across them. The JVM sort spills as needed."""
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
    sort_cols = list(order_cols)
    slim_cols = list(dict.fromkeys([*key_cols, *sort_cols, "_src_part", "_deleted"]))
    wdirs = {int(e): d for e, d in write_dirs.items()}
    tfiles = target_files or {}
    floor = _SQUASH_FLOOR
    out_schema = StructType([
        StructField("path", T.StringType(), False),
        StructField("bucket", T.IntegerType(), False),
        StructField("split", T.IntegerType(), False),
        StructField("nrows", T.LongType(), False),
        StructField("epoch", T.LongType(), False),
    ])

    def fold(batches):
        release_zip_finders()
        import uuid as _uuid

        import numpy as np
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        part = TaskContext.get().partitionId()
        entries_out: list = []
        lin: dict[int, dict] = {}
        isb = "_fold_isb"
        unit = epoch = None  # (bucket, split) and epoch of the current run
        state = None  # the unit's winner table
        run: list = []  # buffered, not yet squashed rows of the run
        run_rows = 0
        bwin = None  # the run's batch self-winners (slim), across squashes

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

        def squash():
            nonlocal state, run, run_rows, bwin
            erows = pa.concat_tables(run, promote_options="default")
            run, run_rows = [], 0
            if lineage_acc is None:
                tables = ([state] if state is not None else []) + [erows]
                state = _winner_table(
                    pa.concat_tables(tables, promote_options="default"),
                    key_cols, sort_cols,
                )
                return
            # ONE sort per squash: the batch self-winners ride the main
            # fold via a per-row flag + conditional-rank aggregate (a
            # separate slim sort per epoch measured ~25% slower at 20M x 8
            # cores)
            tables = [erows.append_column(
                isb, pa.array([True] * len(erows), pa.bool_())
            )]
            if state is not None:
                tables.insert(0, state.append_column(
                    isb, pa.array([False] * len(state), pa.bool_())
                ))
            state, batch_slim = _winner_and_batch_table(
                pa.concat_tables(tables, promote_options="default"),
                key_cols, sort_cols, isb, slim_cols,
            )
            state = state.drop_columns([isb])
            # merge with the previous squash's batch winners — O(winner
            # keys) slim rows, not O(batch rows)
            bwin = batch_slim if bwin is None else _winner_table(
                pa.concat_tables([bwin, batch_slim]), key_cols, sort_cols
            )

        def flush():
            nonlocal bwin
            if run:
                squash()
            if bwin is not None:
                grp = bwin.select(["_src_part", "_deleted"]).group_by(
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
                bwin = None
            out = state
            if drop_deleted:
                out = out.filter(pc.invert(pc.fill_null(
                    pc.cast(out["_deleted"], pa.bool_()), False
                )))
            if not len(out):
                return
            b, s = unit
            d = os.path.join(wdirs[epoch], f"_bucket={b}", f"_split={s}")
            os.makedirs(d, exist_ok=True)
            # attempt-unique name: a retried/speculative twin writes its own
            # file; only entries yielded by the WINNING attempt reach the
            # manifest, losers become vacuum-swept orphans
            fpath = os.path.join(d, f"part-{part:05d}-{_uuid.uuid4().hex}.parquet")
            pq.write_table(out, fpath, compression=parquet_codec)
            entries_out.append((fpath, b, s, len(out), epoch))

        for rb in batches:
            if not rb.num_rows:
                continue
            bs = rb.column(bcol).to_numpy()
            ss = rb.column(scol).to_numpy()
            es = rb.column(ecol).to_numpy()
            cut = (np.flatnonzero(
                (bs[1:] != bs[:-1]) | (ss[1:] != ss[:-1]) | (es[1:] != es[:-1])
            ) + 1).tolist()
            # Spark tags batch timestamps with the session timezone; carried
            # files load as UTC, and Arrow refuses to concat the two
            t = _conform_arrow(pa.Table.from_batches([rb]), pa_schema)
            for lo, hi in zip([0, *cut], [*cut, rb.num_rows]):
                u, e = (int(bs[lo]), int(ss[lo])), int(es[lo])
                if u != unit or e != epoch:
                    if unit is not None:
                        flush()
                    # (bucket, split) order is pid order: split < splits
                    if unit is not None and (u, e) < (unit, epoch):
                        raise RuntimeError(
                            "fused fold input is not sorted by (unit, epoch)")
                    if u != unit:
                        unit, state = u, load(u)
                    epoch = e
                run.append(t.slice(lo, hi - lo))
                run_rows += hi - lo
                if run_rows >= max(floor, 0 if state is None else len(state)):
                    squash()
        if unit is not None:
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
    # ~0.03 CPU-s of Python-worker set-up whatever its input (a trivial
    # 4-task mapInArrow job on 4 vCPUs). The 2x leaves slack for hash skew
    # when units are spread over the tasks.
    n_tasks = min(num_buckets * splits,
                  2 * df.sparkSession.sparkContext.defaultParallelism)
    pid_expr = (
        F.col(bcol).cast("long") * F.lit(splits) + F.col(scol).cast("long")
    )
    rep = work.repartition(n_tasks, pid_expr).sortWithinPartitions(
        pid_expr, F.col(ecol)
    )
    return rep.mapInArrow(fold, out_schema)
