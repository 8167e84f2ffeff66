"""Span tracing for the traced benchmark run.

Spans are recorded around calls into each layer: call sites in the
workloads, plus public engine functions wrapped at run time (the engine
itself is not modified). A span holds (name, start, end, parent, run id),
the JVM and Python-worker CPU consumed while it was open, and the Spark
jobs, tasks and failed tasks run under its job group. Spans stay in memory
and are written once, at the end of the run.
"""

from __future__ import annotations

import functools
import json
import os
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager

from cdcbench.procstat import ProcessTree

_GROUP_PROP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark, tree: ProcessTree):
        self.sc = spark.sparkContext
        self.tree = tree
        # Off except around the operations a traced run measures.
        self.enabled = False
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    # ----------------------------------------------------------------- spans
    @contextmanager
    def span(self, name: str, cpu: bool = True):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "start": time.perf_counter()}
        self.spans.append(rec)
        group = f"{self.run_id}-{idx}"
        prev_group = self.sc.getLocalProperty(_GROUP_PROP)
        self.sc.setLocalProperty(_GROUP_PROP, group)
        cpu0 = self.tree.cpu_s() if cpu else None
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            if cpu0 is not None:
                cpu1 = self.tree.cpu_s()
                rec["jvm_cpu_s"] = cpu1[0] - cpu0[0]
                rec["python_cpu_s"] = cpu1[1] - cpu0[1]
            self.sc.setLocalProperty(_GROUP_PROP, prev_group)
            rec.update(self._job_counts(group))

    def _job_counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else []):
                si = st.getStageInfo(s)
                if si:
                    tasks += si.numCompletedTasks + si.numFailedTasks
                    failed += si.numFailedTasks
        return {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}

    def wrap(self, owner, attr: str, name: str, cpu: bool = True) -> None:
        """Replace `owner.attr` with a version that opens span `name`."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*a, **kw):
            with self.span(name, cpu=cpu):
                return orig(*a, **kw)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # --------------------------------------------------------------- queries
    def dur(self, s: dict) -> float:
        return s["end"] - s["start"]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part covered by child
        spans (children of one span never overlap: calls are sequential)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += self.dur(s)
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += self.dur(s) - child[i]
        return dict(out)

    def within(self, roots: list[dict]) -> list[dict]:
        """Spans that are `roots` or descend from one of them."""
        ids = {id(r) for r in roots}
        keep: list[dict] = []
        inside: set[int] = set()
        for i, s in enumerate(self.spans):
            if id(s) in ids or (s["parent"] is not None and s["parent"] in inside):
                inside.add(i)
                keep.append(s)
        return keep

    def total(self, spans: list[dict], name: str, key: str | None = None) -> float:
        return sum((self.dur(s) if key is None else s.get(key, 0.0))
                   for s in spans if s["name"] == name)

    def count(self, spans: list[dict], name: str) -> int:
        return sum(1 for s in spans if s["name"] == name)

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "self_time_s": self.self_times(), **extra}, f)


def install_engine_wrappers(tracer: Tracer) -> None:
    """Wrap the engine functions that other engine functions call, so their
    spans nest under the benchmark's call-site spans."""
    from go_tfdata_spark.lake.table import LakeTable
    from go_tfdata_spark.operators import merge

    tracer.wrap(merge, "precompute_epoch_stats", "operators.merge.precompute_epoch_stats")
    tracer.wrap(merge, "apply_changes_fused", "operators.merge.apply_changes_fused")
    tracer.wrap(LakeTable, "merge_aligned_fused", "lake.table.merge_aligned_fused")
    # Called dozens of times per commit: no CPU reading, to keep it cheap.
    tracer.wrap(LakeTable, "snapshot", "lake.table.snapshot", cpu=False)


def manifest_diff(table_path: str, v_from: int, v_to: int) -> list[dict]:
    """Per commit in (v_from, v_to]: files and bytes it added and the buckets
    it rewrote, read from the manifests on disk."""
    mdir = os.path.join(table_path, "_manifests")

    def load(v: int) -> dict:
        with open(os.path.join(mdir, f"v{v:012d}.json")) as f:
            return json.load(f)

    out = []
    prev = {f["path"] for f in load(v_from)["files"]}
    for v in range(v_from + 1, v_to + 1):
        m = load(v)
        added = [f for f in m["files"] if f["path"] not in prev]
        out.append({
            "version": v,
            "epoch": m.get("summary", {}).get("epoch"),
            "files_added": len(added),
            "bytes_added": sum(os.path.getsize(os.path.join(table_path, f["path"]))
                               for f in added),
            "buckets_rewritten": len({f.get("bucket") for f in added}),
            "live_files": len(m["files"]),
        })
        prev = {f["path"] for f in m["files"]}
    return out
