"""The closed-loop workloads: one client, the next operation starts only
after the previous one returned.

Each workload function takes a `Run` and returns the values of its
measured operations plus, in a traced run, its per-layer metrics. Oracle
checks run outside every timed region; each checked operation counts once
in `attempted`, each exception or mismatch once in `failed`.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from cdcbench.inputs import dir_bytes, write_corpus
from cdcbench.oracle import corpus_expected, log_digest, spark_digest
from cdcbench.procstat import ProcessTree
from cdcbench.trace import Tracer, manifest_diff

# backfill: 8 epochs fill exactly one fused chunk (replay's default chunk).
BACKFILL_EVENTS = 400_000
BACKFILL_EPOCHS = 8
BACKFILL_BUCKETS = 16
# 256-char turn text, Zipf skew 1.0 on conv_id, 5% deletes, 10% late events.
BACKFILL_SHAPE = dict(text_chars=256, skew=1.0, delete_frac=0.05, late_frac=0.10)
# corpus_dedup: a fixed corpus (the seed argument does not apply) with the
# structure of the sf0.1 contract corpus at a fifth of its size.
CORPUS_SEED = 42
CORPUS_DOCS = 1_000
CORPUS_VECS = 400
TEXT_QUERIES = ["shingle_jaccard", "minhash_near_dups", "simhash",
                "simhash_near_dups", "dedup_corpus"]
VECTOR_QUERIES = ["embedding_near_dups", "semantic_dedup_corpus", "ann_topk"]

JOB = "bench"


@dataclass
class Run:
    spark: object
    tree: ProcessTree
    tracer: Tracer
    work: str
    seed: int
    seconds: float
    traced: bool
    t_process: float
    attempted: int = 0
    failed: int = 0
    setup_s: float = 0.0
    warmup_s: float = 0.0
    layers: dict = field(default_factory=dict)
    # backfill only: the first replay in the process and its log, for the
    # local[1] baseline that runs after this session has stopped.
    cold_replay_s: float = 0.0
    log_dir: str = ""

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {what}", file=sys.stderr, flush=True)

    def guarded(self, what: str, fn):
        """Run one operation; an exception counts as a failed operation."""
        try:
            return fn()
        except Exception:
            self.attempted += 1
            self.failed += 1
            print(f"OPERATION FAILED: {what}", file=sys.stderr, flush=True)
            traceback.print_exc()
            return None

    def warm_up(self, fn):
        """Run the set-up's warm-up operation and end the set-up."""
        t0 = time.perf_counter()
        out = fn()
        self.warmup_s = time.perf_counter() - t0
        self.setup_s = time.perf_counter() - self.t_process
        return out

    def loop(self, op, min_ops: int) -> list:
        """Closed loop: call op(i, traced) until `seconds` have passed and at
        least `min_ops` ran. A traced run alternates untraced and traced
        operations, so it yields the tracing overhead too."""
        if self.traced:
            min_ops = max(min_ops, 2)
        out, t0, i = [], time.perf_counter(), 0
        while i < min_ops or time.perf_counter() - t0 < self.seconds:
            traced = self.traced and i % 2 == 1
            self.tracer.enabled = traced
            out.append((traced, op(i, traced)))
            i += 1
        self.tracer.enabled = False
        return out


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def report(label: str, xs: list[float]) -> None:
    """Print a timing's median, sample count, and the highest percentile
    that has at least ten samples beyond it (when there is one)."""
    line = f"{label}: n={len(xs)} p50={_median(xs):.4f} s min={min(xs, default=0):.4f} s"
    if len(xs) >= 11:
        p = 100 * (1 - 10 / len(xs))
        tail = sorted(xs)[int(len(xs) * p / 100)]
        line += f" p{p:.0f}={tail:.4f} s"
    print(line, file=sys.stderr, flush=True)


def _overhead(results: list, value) -> float:
    plain = [value(r) for t, r in results if r is not None and not t]
    traced = [value(r) for t, r in results if r is not None and t]
    return _median(traced) / _median(plain) - 1.0 if plain and traced else 0.0


def _gen(run: Run, path: str, log) -> int:
    from go_tfdata_spark.sources.changes import write_change_log

    run.tracer.enabled = run.traced
    with run.tracer.span("sources.changes.write_change_log"):
        write_change_log(log, path)
    run.tracer.enabled = False
    return dir_bytes(path)


def _log_layers(run: Run, log_bytes: int) -> None:
    run.layers["sources.changes.generate_s"] = run.tracer.total(
        run.tracer.spans, "sources.changes.write_change_log")
    run.layers["sources.changes.log_bytes"] = log_bytes


def _commit_layers(run: Run, commits: list[dict], epoch_bytes: dict[int, int],
                   n_ops: int) -> None:
    """Per-commit counters from manifest diffs of the traced operations."""
    L = run.layers
    n = max(len(commits), 1)
    L["lake.table.commits"] = len(commits) / max(n_ops, 1)
    L["lake.table.files_added"] = sum(c["files_added"] for c in commits) / n
    L["lake.table.bytes_added"] = sum(c["bytes_added"] for c in commits) / n
    L["lake.table.buckets_rewritten"] = sum(c["buckets_rewritten"] for c in commits) / n
    log_b = sum(epoch_bytes.get(c["epoch"], 0) for c in commits)
    L["lake.table.write_amp"] = (sum(c["bytes_added"] for c in commits) / log_b) if log_b else 0.0
    L["lake.table.live_files"] = commits[-1]["live_files"] if commits else 0


def _span_layers(run: Run, roots: list[dict], op_walls: list[float]) -> None:
    """Layer times per operation from the spans of the traced operations."""
    tr, L = run.tracer, run.layers
    spans = tr.within(roots)
    n = max(len(op_walls), 1)
    L["operators.merge.precompute_epoch_stats_s"] = tr.total(
        spans, "operators.merge.precompute_epoch_stats") / n
    L["lake.table.merge_aligned_fused_s"] = tr.total(spans, "lake.table.merge_aligned_fused") / n
    L["lake.table.snapshot_s"] = tr.total(spans, "lake.table.snapshot") / n
    L["lake.table.snapshot_calls"] = tr.count(spans, "lake.table.snapshot") / n
    L["operators.arrow_fold.python_cpu_s"] = tr.total(
        spans, "lake.table.merge_aligned_fused", "python_cpu_s") / n
    L["operators.arrow_fold.jvm_cpu_s"] = tr.total(
        spans, "lake.table.merge_aligned_fused", "jvm_cpu_s") / n
    # Job counts are per span, so summing over every span counts each job once.
    for k in ("jobs", "tasks", "failed_tasks"):
        L[f"spark.{k}"] = sum(s.get(k, 0) for s in spans) / n
    L["trace.span_coverage"] = sum(tr.dur(r) for r in roots) / sum(op_walls) if op_walls else 0.0


# --------------------------------------------------------------------------
# backfill
# --------------------------------------------------------------------------
def backfill(run: Run) -> list[float]:
    from go_tfdata_spark.model import TRANSCRIPTS_SCHEMA
    from go_tfdata_spark.operators.merge import create_transcripts_table, read_table, replay
    from go_tfdata_spark.sources.changes import read_change_log, synthetic_changes

    spark = run.spark
    log_dir = os.path.join(run.work, "backfill_log")
    log_bytes = _gen(run, log_dir, synthetic_changes(
        spark, BACKFILL_EVENTS, n_epochs=BACKFILL_EPOCHS, seed=run.seed, **BACKFILL_SHAPE))
    epoch_bytes = {e: dir_bytes(os.path.join(log_dir, f"epoch={e}"))
                   for e in range(BACKFILL_EPOCHS)}
    log = read_change_log(spark, log_dir)
    tables: list = []

    def one(i: int, traced: bool):
        t_op = time.perf_counter()
        path = os.path.join(run.work, f"backfill_t{i}")
        with run.tracer.span("operators.merge.create_transcripts_table") as c_root:
            table = create_transcripts_table(spark, path, TRANSCRIPTS_SCHEMA,
                                             num_buckets=BACKFILL_BUCKETS)
        v0 = table.current_version()
        with run.tracer.span("operators.merge.replay") as r_root:
            t0 = time.perf_counter()
            replay(table, log, job_id=JOB, merge_strategy="aligned")
            wall = time.perf_counter() - t0
        run.check(table.committed_epochs(JOB) == set(range(BACKFILL_EPOCHS)),
                  f"backfill replay {i} committed every epoch")
        commits = manifest_diff(table.path, v0, table.current_version())
        for old in tables:
            shutil.rmtree(old.path, ignore_errors=True)
        tables[:] = [table]
        return {"wall": wall, "roots": [c_root, r_root], "commits": commits,
                "total": time.perf_counter() - t_op}

    warm = run.warm_up(lambda: run.guarded("backfill warm-up replay", lambda: one(-1, False)))
    results = run.loop(lambda i, t: run.guarded(f"backfill replay {i}", lambda: one(i, t)),
                       min_ops=2)
    walls = [r["wall"] for t, r in results if r is not None and not t]
    report("backfill replay", walls)
    if walls:
        print(f"backfill: {BACKFILL_EVENTS / _median(walls):.0f} events/s at "
              f"{BACKFILL_EVENTS} events", file=sys.stderr)

    if tables:
        table = tables[0]
        run.check(spark_digest(read_table(table)) == log_digest(log_dir),
                  "backfill final state equals the DuckDB LWW fold")
        v = table.current_version()
        replay(table, log, job_id=JOB, merge_strategy="aligned")
        run.check(table.current_version() == v,
                  "backfill re-replay commits no new version (exactly-once)")

    if run.traced:
        traced = [r for t, r in results if t and r is not None]
        _log_layers(run, log_bytes)
        _span_layers(run, [x for r in traced for x in r["roots"]],
                     [r["total"] for r in traced])
        _commit_layers(run, [c for r in traced for c in r["commits"]], epoch_bytes,
                       len(traced))
        run.layers["trace.overhead_frac"] = _overhead(results, lambda r: r["wall"])
        run.cold_replay_s = warm["wall"] if warm else 0.0
        run.log_dir = log_dir
    return walls


# --------------------------------------------------------------------------
# corpus_dedup
# --------------------------------------------------------------------------
def corpus_dedup(run: Run) -> list[float]:
    import __spark_entry__ as entry
    from go_tfdata_spark.operators.dedup import release_caches
    from scripts.check_contract import rowset

    spark = run.spark
    corpus = os.path.join(run.work, "corpus")
    write_corpus(corpus, CORPUS_SEED, CORPUS_DOCS, CORPUS_VECS)
    queries = entry.queries()
    names = TEXT_QUERIES + VECTOR_QUERIES
    layer = {q: "operators.dedup" for q in TEXT_QUERIES}
    layer.update({q: "operators.similarity" for q in VECTOR_QUERIES})

    def one_query(name: str):
        release_caches()
        spark.catalog.clearCache()
        with run.tracer.span(f"{layer[name]}.{name}") as root:
            t0 = time.perf_counter()
            with run.tracer.span(f"{layer[name]}.{name}.build"):
                df = queries[name](spark, corpus)
            build = time.perf_counter() - t0
            rows = [tuple(r) for r in df.collect()]
            wall = time.perf_counter() - t0
        return {"wall": wall, "build": build, "root": root, "cols": df.columns, "rows": rows}

    def one_pass(i: int, traced: bool):
        return {q: run.guarded(f"{q} pass {i}", lambda q=q: one_query(q)) for q in names}

    warm = run.warm_up(lambda: one_pass(-1, False))
    results = run.loop(one_pass, min_ops=3)
    release_caches()

    expected = corpus_expected(corpus, {q: entry.oracle_sql()[q] for q in names}, rowset)
    for p in [warm] + [p for _, p in results]:
        for q, r in p.items():
            if r is not None:
                exp_cols, exp_rows = expected[q]
                run.check(sorted(r["cols"]) == exp_cols
                          and rowset(r["cols"], r["rows"]) == exp_rows,
                          f"{q} equals its oracle_sql()")

    def per_query_median(traced: bool) -> dict[str, float]:
        return {q: _median([p[q]["wall"] for t, p in results if t == traced and p[q]])
                for q in names}

    plain = per_query_median(False)
    for q in names:
        report(f"corpus_dedup {q}", [p[q]["wall"] for t, p in results if not t and p[q]])
    text_s = sum(plain[q] for q in TEXT_QUERIES)
    vector_s = sum(plain[q] for q in VECTOR_QUERIES)
    print(f"corpus_dedup: text family {text_s:.3f} s, vector family {vector_s:.3f} s "
          "(sums of per-query medians)", file=sys.stderr)

    if run.traced:
        tr, L = run.tracer, run.layers
        traced = [p for t, p in results if t]
        n = max(len(traced), 1)
        roots = [p[q]["root"] for p in traced for q in names if p[q]]
        spans = tr.within(roots)
        for q in names:
            pre = f"{layer[q]}.{q}"
            L[f"{pre}.s"] = tr.total(spans, pre) / n
            L[f"{pre}.python_cpu_s"] = tr.total(spans, pre, "python_cpu_s") / n
            L[f"{pre}.jvm_cpu_s"] = tr.total(spans, pre, "jvm_cpu_s") / n
            if layer[q] == "operators.dedup":
                L[f"{pre}.build_s"] = tr.total(spans, f"{pre}.build") / n
                q_spans = tr.within([p[q]["root"] for p in traced if p[q]])
                L[f"{pre}.spark_jobs"] = sum(s.get("jobs", 0) for s in q_spans) / n
        for k in ("jobs", "tasks", "failed_tasks"):
            L[f"spark.{k}"] = sum(s.get(k, 0) for s in spans) / n
        traced_s = sum(per_query_median(True).values())
        L["trace.overhead_frac"] = traced_s / (text_s + vector_s) - 1.0 if traced_s else 0.0
        L["trace.span_coverage"] = (sum(tr.dur(r) for r in roots)
                                    / sum(p[q]["wall"] for p in traced for q in names if p[q]))
    return [text_s + vector_s]


WORKLOADS = {"backfill": backfill, "corpus_dedup": corpus_dedup}
