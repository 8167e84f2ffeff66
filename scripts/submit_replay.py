"""spark-submit entry point: replay a change log into a transcripts table.

The north rule's deployment surface — the SAME job, shipped as
`spark-submit --py-files go_tfdata_spark.zip scripts/submit_replay.py`,
run at two cluster sizes (N and 4N executors). In the sandbox the two
"cluster sizes" are `--master local[N]` / `local[4N]` (see
BENCH/BASELINE.md); on a real cluster the identical command line runs
unchanged with a YARN/K8s master. The engine package arrives via
--py-files (sc.addPyFile distribution), NOT via a driver-local install —
exactly how a multi-executor cluster receives it.

Build the zip:   python scripts/submit_replay.py --make-zip /tmp/e.zip
Run:             spark-submit --master local[8] --py-files /tmp/e.zip \
                     scripts/submit_replay.py --table /x/t --log /x/log \
                     --job-id j --create

Prints one JSON line: {"events": N, "sec": ..., "events_per_sec": ...,
"epochs": [...], "version": V}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import zipfile


def make_zip(out_path: str) -> str:
    """Package go_tfdata_spark into a --py-files-able zip."""
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = os.path.join(pkg_root, "go_tfdata_spark")
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _dirnames, filenames in os.walk(src):
            for fn in sorted(filenames):
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(dirpath, fn)
                z.write(full, os.path.relpath(full, pkg_root))
    return out_path


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--make-zip", help="write the --py-files zip and exit")
    p.add_argument("--table", help="lake table path")
    p.add_argument("--log", help="parquet change-log path")
    p.add_argument("--job-id", default="submit")
    p.add_argument("--create", action="store_true",
                   help="create the table if absent (idempotent across resubmits)")
    p.add_argument("--num-buckets", type=int, default=16)
    p.add_argument("--merge-strategy", default="aligned")
    p.add_argument("--stream", action="store_true",
                   help="Structured Streaming ingest (readStream + foreachBatch) "
                        "instead of batch replay; requires --checkpoint")
    p.add_argument("--checkpoint", help="streaming checkpoint dir (--stream)")
    p.add_argument("--max-files-per-trigger", type=int, default=1)
    p.add_argument("--die-after-batches", type=int, default=0,
                   help="crash-inject: os._exit after N applied batches, "
                        "BETWEEN the lake commit and Spark's checkpoint "
                        "commit (tests the exactly-once resume window)")
    p.add_argument("--consume-feed", action="store_true",
                   help="consume the go_tfdata_cdf readStream source from "
                        "--table into --sink (idempotent per-batchId parquet "
                        "dirs); requires --checkpoint. No --log needed.")
    p.add_argument("--sink", help="output dir for --consume-feed")
    p.add_argument("--die-in-batch", type=int, default=-1,
                   help="crash-inject (--consume-feed): os._exit inside the "
                        "given batchId's foreachBatch, AFTER the sink write "
                        "but BEFORE Spark's checkpoint commit — the "
                        "at-least-once redelivery window a consumer's "
                        "idempotent sink must absorb")
    args = p.parse_args()

    if args.make_zip:
        print(make_zip(args.make_zip))
        return
    if args.consume_feed:
        if not (args.table and args.sink and args.checkpoint):
            p.error("--consume-feed requires --table, --sink and --checkpoint")
    elif not (args.table and args.log):
        p.error("--table and --log are required (or --make-zip)")

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.getOrCreate()
    # Imports AFTER the session exists: the package resolves from the
    # --py-files zip that spark-submit registered on the context.
    from go_tfdata_spark.lake.table import LakeTable
    from go_tfdata_spark.model import TRANSCRIPTS_SCHEMA
    from go_tfdata_spark.operators.merge import create_transcripts_table, replay
    from go_tfdata_spark.sources.changes import read_change_log

    if args.consume_feed:
        # Downstream CDF consumer: epochs arrive from the go_tfdata_cdf
        # source, progress lives in Spark's OWN offset log (the source
        # commits nothing), and the sink is idempotent by construction —
        # each micro-batch overwrites a dir keyed by its batchId, so a
        # batch redelivered after a crash in the at-least-once window
        # lands on the same dir and the feed stays exactly-once end to
        # end. A jsonl beside the sink records every delivery ATTEMPT
        # (batchId + epochs), so a test can prove the redelivery really
        # happened rather than the crash never firing.
        from go_tfdata_spark.streaming.feed import read_change_feed_stream

        meta_log = args.sink.rstrip("/") + "_batches.jsonl"

        def on_feed_batch(df, batch_id: int) -> None:
            bdir = os.path.join(args.sink, f"b{batch_id}")
            df.write.mode("overwrite").parquet(bdir)
            eps = sorted(
                r[0]
                for r in spark.read.parquet(bdir)
                .select("_commit_epoch").distinct().collect()
            )
            with open(meta_log, "a") as f:
                f.write(json.dumps({"batch_id": batch_id, "epochs": eps}) + "\n")
            if args.die_in_batch == batch_id:
                os._exit(137)  # sink written, checkpoint commit swallowed

        q = (
            read_change_feed_stream(spark, args.table, args.job_id)
            .writeStream.foreachBatch(on_feed_batch)
            .option("checkpointLocation", args.checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        attempts = []
        if os.path.exists(meta_log):
            with open(meta_log) as f:
                attempts = [json.loads(l) for l in f if l.strip()]
        batch_dirs = sorted(
            d for d in os.listdir(args.sink) if d.startswith("b")
        ) if os.path.isdir(args.sink) else []
        delivered = (
            spark.read.parquet(*[os.path.join(args.sink, d) for d in batch_dirs])
            if batch_dirs else None
        )
        counts = (
            {
                int(r["_commit_epoch"]): r["n"]
                for r in delivered.groupBy("_commit_epoch").count()
                .withColumnRenamed("count", "n").collect()
            }
            if delivered is not None else {}
        )
        print(json.dumps({
            "mode": "consume_feed",
            "attempts": attempts,
            "batch_dirs": batch_dirs,
            "epoch_row_counts": {str(k): v for k, v in sorted(counts.items())},
        }))
        sys.stdout.flush()
        return

    try:
        table = LakeTable.load(spark, args.table)
    except FileNotFoundError:
        if not args.create:
            raise
        table = create_transcripts_table(
            spark, args.table, TRANSCRIPTS_SCHEMA, num_buckets=args.num_buckets
        )
    if args.stream:
        if not args.checkpoint:
            p.error("--stream requires --checkpoint")
        from pyspark.sql import functions as F

        from go_tfdata_spark.operators.merge import lineage_metrics
        from go_tfdata_spark.sources.changes import read_change_stream
        from go_tfdata_spark.streaming.apply import start_ingest

        applied: list[int] = []
        skipped: list[int] = []

        def on_batch(r) -> None:
            (skipped if r.skipped else applied).append(r.epoch)
            if args.die_after_batches and len(applied) >= args.die_after_batches:
                os._exit(137)  # hard crash: checkpoint commit never happens

        q = start_ingest(
            table,
            read_change_stream(spark, args.log,
                               max_files_per_trigger=args.max_files_per_trigger),
            job_id=args.job_id, checkpoint_dir=args.checkpoint,
            merge_strategy=args.merge_strategy, on_batch=on_batch,
        )
        q.awaitTermination()  # availableNow: drains then stops
        lm = lineage_metrics(table, args.job_id)
        total = lm.agg(F.sum("offsets_applied")).first()[0]
        out = {
            "mode": "stream",
            "applied_epochs": applied,
            "skipped_epochs": skipped,
            "offsets_total": int(total or 0),
            "committed": sorted(table.committed_epochs(args.job_id)),
            "version": table.current_version(),
        }
        print(json.dumps(out))
        sys.stdout.flush()
        return

    log = read_change_log(spark, args.log)
    n_events = log.count()
    t0 = time.time()
    results = replay(table, log, job_id=args.job_id,
                     merge_strategy=args.merge_strategy)
    dt = time.time() - t0
    out = {
        "events": n_events,
        "sec": round(dt, 3),
        "events_per_sec": round(n_events / dt) if dt > 0 else None,
        "epochs": [r.epoch for r in results],
        "skipped": [r.epoch for r in results if r.skipped],
        "version": table.current_version(),
    }
    print(json.dumps(out))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
