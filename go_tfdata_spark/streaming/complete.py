"""Incremental completeness emission — the reference's streaming heart.

The TarSeekReader emits a record THE MOMENT its expected member set is
complete, evicting its state immediately (tfdata/archive/seekreader.go:
125-135, SameMembers check manager.go:33-43). The Spark-native restatement
is a stateful streaming operator: group change events by conv_id, hold
per-conversation state (which turn_idxs have arrived), and emit the
assembled conversation as soon as all expected turns are present — with a
processing-time timeout to flush stragglers (the watermark/late-data knob
the reference sidesteps by reading a finite archive).

Arrow-batched (`applyInPandasWithState`) per the no-per-row-Python rule;
state is O(open conversations), evicted on emission exactly like
DeleteRecord in the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from go_tfdata_spark.worker import release_zip_finders

ASSEMBLED_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("n_turns", T.IntegerType(), False),
        T.StructField("turns", T.ArrayType(T.StringType()), False),
        T.StructField("complete", T.BooleanType(), False),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("turn_idxs", T.ArrayType(T.IntegerType()), True),
        T.StructField("texts", T.ArrayType(T.StringType()), True),
        # completion tombstone: the reference reads a finite archive where
        # each member arrives once (seekreader.go:125-135 can evict state on
        # emit); a CDC stream can deliver more events for an already-emitted
        # conversation, which must NOT re-emit it.
        T.StructField("done", T.BooleanType(), True),
    ]
)


def assemble_conversations_stream(
    changes: DataFrame,
    expected_turns: int,
    timeout_ms: int = 0,
    tombstone_retention_ms: int | None = None,
) -> DataFrame:
    """Streaming conversation assembly: emits one row per conversation as
    soon as `expected_turns` distinct turn_idx values have arrived (state
    evicted on emit); with `timeout_ms`, stale incomplete conversations are
    flushed with complete=false.

    The done-tombstone outlives the incomplete-flush timeout by
    `tombstone_retention_ms` (default 100× `timeout_ms`): evicting it at the
    same cadence would let a straggler event recreate empty state and
    RE-emit an already-emitted conversation. Emit-exactly-once therefore
    holds for any event arriving within the retention window; events later
    than that can re-open the conversation (bounded-state trade-off — state
    stays O(open conversations), not O(all conversations ever seen))."""
    import pandas as pd

    if tombstone_retention_ms is None:
        tombstone_retention_ms = 100 * timeout_ms

    def fn(key, pdfs, state: GroupState):
        release_zip_finders()
        (conv_id,) = key
        if state.hasTimedOut:
            turn_idxs, texts, done = state.get
            state.remove()
            if not done:
                yield pd.DataFrame(
                    {
                        "conv_id": [conv_id],
                        "n_turns": [len(set(turn_idxs))],
                        "turns": [[t for _, t in sorted(zip(turn_idxs, texts))]],
                        "complete": [False],
                    }
                )
            return
        turn_idxs, texts, done = (state.get if state.exists else ([], [], False))
        if done:
            for _ in pdfs:  # drain; already emitted exactly once
                pass
            if timeout_ms:  # activity extends the tombstone's retention
                state.setTimeoutDuration(tombstone_retention_ms)
            return
        seen = dict(zip(turn_idxs, texts))
        for pdf in pdfs:
            for ti, tx in zip(pdf["turn_idx"], pdf["text"]):
                seen[int(ti)] = tx  # last processed wins (manager.go:57-63)
        if len(seen) >= expected_turns:
            # emit once; keep a tombstone so later events can't re-emit.
            # The payload state is dropped (bounded memory, like
            # DeleteRecord) — only the done flag remains.
            state.update(([], [], True))
            if timeout_ms:
                state.setTimeoutDuration(tombstone_retention_ms)
            ordered = [seen[k] for k in sorted(seen)]
            yield pd.DataFrame(
                {
                    "conv_id": [conv_id],
                    "n_turns": [len(seen)],
                    "turns": [ordered],
                    "complete": [True],
                }
            )
        else:
            state.update((list(seen.keys()), [seen[k] for k in seen], False))
            if timeout_ms:
                state.setTimeoutDuration(timeout_ms)

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout if timeout_ms else GroupStateTimeout.NoTimeout
    )
    return (
        changes.groupBy("conv_id")
        .applyInPandasWithState(fn, ASSEMBLED_SCHEMA, _STATE_SCHEMA, "append", timeout)
    )
