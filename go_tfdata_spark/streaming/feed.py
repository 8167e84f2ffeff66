"""Change data feed as a Structured Streaming SOURCE (readStream wrapper).

`table_changes` / `table_changes_range` (operators/merge.py) serve batch
catch-up reads; this module makes the same per-epoch diffs consumable as a
real stream: `spark.readStream.format("go_tfdata_cdf")` — so a downstream
materialization is just readStream -> transformations -> writeStream, with
Spark's own offset log giving the consumer exactly-once progress tracking.

Built on the public PySpark 4 Python Data Source API
(pyspark.sql.datasource.DataSourceStreamReader):

- OFFSETS are ledger epochs. `latestOffset` advances to the CONTIGUOUS
  committed frontier (an out-of-order parallel commit of epoch k+2 does not
  surface until k+1 lands), so a consumer never sees a gap it would have to
  re-read. All offset management is driver-side manifest-JSON reads — the
  same files the exactly-once ledger rides in, no Spark jobs.
- PARTITIONS are the buckets each epoch's commit touched (immutable data
  files -> manifest file-set diff), so a sparse epoch streams a sparse
  diff. Each partition task reads ONLY its bucket's files from the two
  snapshots (pyarrow), folds LWW per key, and classifies
  insert / update_postimage / delete — identical semantics to
  `table_changes`, including full-order-tuple winner identity (null-safe).

The per-epoch unit of work mirrors the reference's emit-on-complete
grouping (tfdata/archive/manager.go:57-63): a commit is "complete" exactly
when its ledger entry is visible, and only then does it become a batch.

Scale shape: worker tasks fan out per (epoch, bucket); driver work is
O(epochs * files) dict arithmetic. The pandas fold inside a task handles
one bucket of one epoch — the same unit the aligned merge writes, sized by
num_buckets to fit an executor.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

from go_tfdata_spark.worker import release_zip_finders

FORMAT_NAME = "go_tfdata_cdf"
_MANIFEST_DIR = "_manifests"  # mirrors lake.table layout constants


def _ledger_contains(ledger: dict, job_id: str, epoch: int) -> bool:
    """Local copy of lake.table._ledger_contains (tests/test_feed.py pins
    the two to identical behavior). Deliberately NOT imported: this module
    must be fully self-contained so `register_change_feed` can register it
    pickle-by-value — Spark's Python data source planner process does not
    inherit --py-files, so any by-reference pickle of this module's classes
    dies with ModuleNotFoundError under spark-submit."""
    entry = ledger.get(job_id)
    if not entry:
        return False
    return int(epoch) <= int(entry["lw"]) or int(epoch) in set(entry["extra"])

# stored-order / tombstone metadata — local copies of operators/merge.py's
# LWW_ORDER_COLUMNS / META_COLUMNS (tests/test_feed.py pins them equal):
# NOT imported, for the same self-containment reason as _ledger_contains
_ORDER = ("ts", "_lsn", "_src_part")
_DELETED = "_deleted"
_META = ("_lsn", "_src_part", "_deleted")


class _ManifestChain:
    """Driver-side, Spark-free access to a lake table's manifest chain —
    the stream reader cannot assume a SparkSession (and never needs one:
    manifests are single JSON files)."""

    def __init__(self, path: str):
        self.path = os.path.abspath(path)
        self.mdir = os.path.join(self.path, _MANIFEST_DIR)

    def _mpath(self, v: int) -> str:
        return os.path.join(self.mdir, f"v{v:012d}.json")

    def manifest(self, v: int) -> dict:
        with open(self._mpath(v)) as f:
            return json.load(f)

    def retained_versions(self) -> list[int]:
        if not os.path.isdir(self.mdir):
            return []
        return sorted(
            int(f[1:-5])
            for f in os.listdir(self.mdir)
            if f.startswith("v") and f.endswith(".json")
        )

    def latest(self) -> dict | None:
        vs = self.retained_versions()
        return self.manifest(vs[-1]) if vs else None

    def version_for_epoch(self, job_id: str, epoch: int) -> int:
        """Mirror of LakeTable.version_for_epoch (binary search over the
        monotone cumulative ledger + vacuum-exactness guard)."""
        vs = self.retained_versions()
        if not vs or not _ledger_contains(
            self.manifest(vs[-1]).get("ledger") or {}, job_id, epoch
        ):
            raise KeyError(f"epoch {epoch} of job {job_id!r} not committed")
        lo, hi = 0, len(vs) - 1
        while lo < hi:
            mid = (lo + hi) // 2
            if _ledger_contains(self.manifest(vs[mid]).get("ledger") or {}, job_id, epoch):
                hi = mid
            else:
                lo = mid + 1
        s = self.manifest(vs[lo]).get("summary") or {}
        if s.get("job_id") != job_id or int(s.get("epoch", -1)) != int(epoch):
            raise KeyError(
                f"epoch {epoch} of job {job_id!r} predates the retained "
                f"manifest window (vacuumed)"
            )
        return vs[lo]

    def frontier(self, job_id: str, start_epoch: int) -> int:
        """Largest e such that every epoch in [start_epoch, e] is committed
        (contiguous — gaps from out-of-order parallel commits hold the
        stream back until filled); start_epoch - 1 when none are."""
        m = self.latest()
        entry = ((m or {}).get("ledger") or {}).get(job_id)
        if not entry:
            return start_epoch - 1
        lw, extra = int(entry["lw"]), sorted(int(x) for x in entry["extra"])
        e = max(lw, start_epoch - 1)
        for x in extra:
            if x == e + 1:
                e = x
        return e


@dataclass
class _FeedPartition(InputPartition):
    """One (epoch, bucket) diff task: everything the worker needs as plain
    data — absolute file paths for both snapshots of one bucket."""

    epoch: int
    cur_files: list = field(default_factory=list)
    prev_files: list = field(default_factory=list)
    key_cols: tuple = ()
    out_cols: tuple = ()
    map_cols: tuple = ()  # MapType business columns (arrow -> list of
    #                       (k, v) pairs in pandas; Spark rows need dicts)


def _schema_from_manifest(m: dict) -> tuple[T.StructType, list[str], list[str]]:
    """(feed schema, business cols, key cols) from a manifest JSON."""
    phys = T.StructType.fromJson(m["schema"])
    business = [f for f in phys.fields if f.name not in _META]
    out = T.StructType(
        business
        + [
            T.StructField("_change_type", T.StringType(), False),
            T.StructField("_commit_epoch", T.LongType(), False),
        ]
    )
    return out, [f.name for f in business], list(m.get("key_cols") or ())


def _fold_bucket(paths: list[str], columns: list[str], key_cols: list[str]):
    """Read one bucket's files (base + any MOR deltas) and fold to the LWW
    winner per key — pandas restatement of the table's resolve fold:
    ascending sort by (ts, _lsn, _src_part) with nulls FIRST (null sorts
    smallest, as in Spark), keep last per key."""
    import pandas as pd
    import pyarrow.parquet as pq

    frames = []
    for p in paths:
        # additive schema evolution: files written before a column was
        # added simply lack it — read what exists, null-fill the rest
        pf = pq.ParquetFile(p)
        have = [c for c in columns if c in pf.schema_arrow.names]
        pdf = pf.read(columns=have).to_pandas()
        for c in columns:
            if c not in pdf.columns:
                pdf[c] = None
        frames.append(pdf[columns])
    if not frames:
        return pd.DataFrame({c: [] for c in columns})
    df = pd.concat(frames, ignore_index=True)
    order = [c for c in _ORDER if c in df.columns]
    df = df.sort_values(order, kind="stable", na_position="first")
    return df.drop_duplicates(list(key_cols), keep="last")


class ChangeFeedStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.table_path = options.get("path")
        self.job_id = options.get("job_id")
        if not self.table_path or not self.job_id:
            raise ValueError("go_tfdata_cdf requires options path and job_id")
        self.start_epoch = int(options.get("start_epoch", 0))
        self.chain = _ManifestChain(self.table_path)
        m = self.chain.latest()
        if m is None:
            raise FileNotFoundError(f"no lake table at {self.table_path}")
        self._schema, self.business, self.key_cols = _schema_from_manifest(m)
        self.map_cols = tuple(
            f.name for f in self._schema.fields if isinstance(f.dataType, T.MapType)
        )

    # ------------------------------------------------------------ offsets
    def initialOffset(self) -> dict:
        return {"epoch": self.start_epoch}

    def latestOffset(self) -> dict:
        # exclusive end: next epoch past the contiguous committed frontier
        return {"epoch": self.chain.frontier(self.job_id, self.start_epoch) + 1}

    def commit(self, end: dict) -> None:
        pass  # progress lives in the consumer's own Spark offset log

    # ---------------------------------------------------------- partitions
    def _bucket_files(self, m: dict) -> dict:
        out: dict = {}
        for f in m["files"]:
            out.setdefault(f.get("bucket"), []).append(
                os.path.join(self.chain.path, f["path"])
            )
        return out

    def partitions(self, start: dict, end: dict):
        parts: list[_FeedPartition] = []
        read_cols = list(
            dict.fromkeys(self.business + [c for c in _ORDER if c != "ts"] + [_DELETED])
        )
        for epoch in range(int(start["epoch"]), int(end["epoch"])):
            v = self.chain.version_for_epoch(self.job_id, epoch)
            m = self.chain.manifest(v)
            parent = m.get("parent")
            try:
                pm = self.chain.manifest(parent) if parent is not None else None
            except FileNotFoundError:
                raise KeyError(
                    f"parent snapshot of epoch {epoch} vacuumed past"
                ) from None
            cur, prev = self._bucket_files(m), self._bucket_files(pm) if pm else {}
            cur_paths = {p for ps in cur.values() for p in ps}
            prev_paths = {p for ps in prev.values() for p in ps}
            if None in cur or None in prev:
                # legacy un-bucketed files: one whole-table diff task
                parts.append(_FeedPartition(
                    epoch,
                    sorted(cur_paths),
                    sorted(prev_paths),
                    tuple(self.key_cols),
                    tuple(read_cols),
                    self.map_cols,
                ))
                continue
            for b in sorted(set(cur) | set(prev)):
                cb, pb = cur.get(b, []), prev.get(b, [])
                if set(cb) == set(pb):
                    continue  # immutable files: identical set -> no changes
                parts.append(_FeedPartition(
                    epoch, sorted(cb), sorted(pb),
                    tuple(self.key_cols), tuple(read_cols), self.map_cols,
                ))
        return parts

    # ---------------------------------------------------------------- read
    def read(self, partition: _FeedPartition):
        release_zip_finders()
        import numpy as np
        import pandas as pd

        cols = list(partition.out_cols)
        keys = list(partition.key_cols)
        business = [c for c in cols if c not in ("_lsn", "_src_part", _DELETED)]
        cur = _fold_bucket(partition.cur_files, cols, keys)
        prev = _fold_bucket(partition.prev_files, cols, keys)
        # a tombstone in prev means the key did NOT exist (table_changes
        # filters prev to live rows the same way)
        if len(prev):
            prev = prev[~prev[_DELETED].eq(True)]

        pslim = prev[keys + [c for c in _ORDER if c in prev.columns]].copy()
        pslim["_p_exists"] = True
        rename = {c: f"_p_{c}" for c in _ORDER if c in pslim.columns}
        pslim = pslim.rename(columns=rename)
        j = cur.merge(pslim, on=keys, how="left") if len(cur) else cur.assign(_p_exists=[])
        if len(j) == 0:
            return iter(())
        p_live = j["_p_exists"].notna().to_numpy()
        same = np.ones(len(j), dtype=bool)
        for c in _ORDER:
            a, b = j[c], j[f"_p_{c}"]
            eq = (a == b) | (a.isna() & b.isna())  # null-safe
            same &= eq.to_numpy()
        deleted = j[_DELETED].eq(True).to_numpy()
        change = np.where(
            ~deleted & ~p_live, "insert",
            np.where(~deleted & p_live & ~same, "update_postimage",
                     np.where(deleted & p_live, "delete", "")),
        )
        j = j.assign(_change_type=change)
        j = j[j["_change_type"] != ""]
        out_cols = [c for c in business if c != _DELETED]
        ts_cols = {c for c in out_cols if pd.api.types.is_datetime64_any_dtype(j[c])}

        map_cols = set(partition.map_cols)

        def conv(c, v):
            if v is None or v is pd.NaT or (isinstance(v, float) and np.isnan(v)):
                return None
            if c in ts_cols:
                return pd.Timestamp(v).to_pydatetime()
            if c in map_cols:
                return dict(v)  # arrow map -> [(k, v), ...] in pandas
            if isinstance(v, np.generic):
                return v.item()
            return v

        for row in j[out_cols + ["_change_type"]].itertuples(index=False, name=None):
            yield tuple(conv(c, v) for c, v in zip(out_cols, row[:-1])) + (
                row[-1], int(partition.epoch),
            )


class ChangeFeedDataSource(DataSource):
    """`spark.readStream.format("go_tfdata_cdf").option("path", table)
    .option("job_id", job).option("start_epoch", 0).load()` — the change
    data feed as a first-class streaming source. Register once per session
    with `register_change_feed(spark)`."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self):
        chain = _ManifestChain(self.options["path"])
        m = chain.latest()
        if m is None:
            raise FileNotFoundError(f"no lake table at {self.options['path']}")
        return _schema_from_manifest(m)[0]

    def streamReader(self, schema):
        return ChangeFeedStreamReader(dict(self.options))


def register_change_feed(spark) -> None:
    """Register the source, shipping THIS MODULE by value: the Python data
    source planner process Spark spawns to drive offsets/partitions does
    not inherit --py-files, so a by-reference pickle of the source class
    fails to import there on any deployment where the engine arrives via
    py-files/archives rather than a cluster-wide install. The module is
    stdlib+pyspark-only (see `_ledger_contains`) apart from
    `go_tfdata_spark.worker`, which is stdlib-only and shipped by value
    too, so by-value is cheap and total. A failed registration raises
    here, not later as a `ModuleNotFoundError` in the planner process."""
    import sys

    from pyspark import cloudpickle

    from go_tfdata_spark import worker

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    cloudpickle.register_pickle_by_value(worker)
    spark.dataSource.register(ChangeFeedDataSource)


def read_change_feed_stream(spark, table_path: str, job_id: str, start_epoch: int = 0):
    """Convenience: register the source and open the feed stream."""
    register_change_feed(spark)
    return (
        spark.readStream.format(FORMAT_NAME)
        .option("path", table_path)
        .option("job_id", job_id)
        .option("start_epoch", str(start_epoch))
        .load()
    )
