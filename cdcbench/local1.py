"""Single-thread baseline: replay a backfill log at local[1] in a fresh
process and print the replay's wall time in seconds.

    python3 cdcbench/local1.py LOG_DIR WORK_DIR

Like the first replay of a backfill run (the one it is compared with), the
replay is the first in its JVM, after one scan of the log.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdcbench.run import prepare_env, start_session, stop_session  # noqa: E402


def main(log_dir: str, work: str) -> None:
    work = os.path.join(work, "local1")
    prepare_env(work)
    from go_tfdata_spark.model import TRANSCRIPTS_SCHEMA
    from go_tfdata_spark.operators.merge import create_transcripts_table, replay
    from go_tfdata_spark.sources.changes import read_change_log

    from cdcbench.workloads import BACKFILL_BUCKETS, JOB

    spark = start_session(work, cores=1)
    try:
        log = read_change_log(spark, log_dir)
        log.count()
        table = create_transcripts_table(spark, os.path.join(work, "t"), TRANSCRIPTS_SCHEMA,
                                         num_buckets=BACKFILL_BUCKETS)
        t0 = time.perf_counter()
        replay(table, log, job_id=JOB, merge_strategy="aligned")
        wall = time.perf_counter() - t0
    finally:
        stop_session(spark)
    print(wall, flush=True)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
