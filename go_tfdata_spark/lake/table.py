"""LakeTable — a minimal Iceberg-style table format on parquet + JSON manifests.

The sandbox has no Iceberg runtime jar, so the engine ships its own tiny
copy-on-write table format with the same semantics the CDC sink needs
(SURVEY.md §7 "Iceberg-in-sandbox" fallback):

- **snapshot isolation**: a table version is one immutable JSON manifest
  listing immutable parquet data files; readers read one manifest.
- **atomic commit**: manifests are published with a compare-and-swap
  (hard-link of a fully-written temp file onto the next version name —
  `os.link` fails if the version already exists). This fixes the
  non-atomic sink the reference documents (tfdata/core/tfrecord.go:62
  "file is corrupted" on partial write): here a partial write is simply
  an unpublished temp file; readers can never observe it.
- **bucket layout + pruning**: data files are hash-bucketed by the record
  key (`bucket(conv_id)` per FIXTURES.md §1); MERGE rewrites only the
  buckets that contain changed keys, so a 100 TB table with a 0.1%% change
  batch rewrites ~0.1%% of files, and the bucket filter prunes the scan.
- **additive schema evolution**: the manifest carries the current schema;
  old data files missing newer columns read as NULL (Spark fills them when
  an explicit read schema is supplied). This is the reference's
  unknown-field-carry stance (tfdata/transform/transformer.go:135-142)
  made transactional.
- **exactly-once summaries**: each commit records an application summary
  (e.g. ``{"job_id": ..., "epoch": ...}``) AND carries a cumulative
  compressed ledger of every (job_id, epoch) committed so far, so
  `committed_epochs` is O(1) — one manifest read — not a chain scan.
  The ledger is compressed as a per-job low watermark ("all epochs
  0..lw applied") plus a small out-of-order overflow set, so its size is
  O(jobs + max concurrent out-of-order epochs), not O(epochs): a
  10^5-epoch stream carries a ~50-byte ledger.

At 10^10-event scale the driver-side state here is O(files-in-changed-
buckets) per commit, never O(rows): file lists live in the manifest, row
data only ever moves executor-side through DataFrame reads/writes.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"
_BUCKET_COL = "_bucket"
_SPLIT_COL = "_split"
# Write-slices per bucket: constant (a table-layout property, identical at
# every cluster size) so file counts stay bounded: files/commit <= buckets*4.
_WRITE_SPLITS_PER_BUCKET = 4

# Broadcast-hint byte budget for join build sides. An EXPLICIT broadcast hint
# is honored by Spark regardless of size (AQE does NOT demote it), so the
# hint must be gated on an estimated byte size up front; past this budget the
# join is left to the planner (AQE can still broadcast at runtime if the
# built side turns out small).
_BROADCAST_MAX_BYTES = 32 << 20

_FIXED_WIDTH_TYPES = (
    T.IntegerType, T.LongType, T.ShortType, T.ByteType, T.DoubleType,
    T.FloatType, T.BooleanType, T.TimestampType, T.DateType,
)


def _est_row_bytes(schema: T.StructType, cols: list[str]) -> int:
    """Pessimistic per-row byte estimate for a broadcast build side."""
    w = 16  # row object overhead
    for f in schema.fields:
        if f.name in cols:
            w += 8 if isinstance(f.dataType, _FIXED_WIDTH_TYPES) else 48
    return w


def gate_broadcast(df: DataFrame, approx_rows: int | None = None) -> DataFrame:
    """Attach a broadcast hint ONLY when the estimated build size fits
    `_BROADCAST_MAX_BYTES`. With `approx_rows` (e.g. the exact folded-batch
    key count a caller already computed) the estimate is rows × schema
    width; otherwise Catalyst's optimized-plan stats are used. When the
    estimate is too big or unavailable the df is returned unhinted and the
    planner (incl. AQE's runtime re-plan) decides the join strategy."""
    if approx_rows is not None:
        est = approx_rows * _est_row_bytes(df.schema, df.columns)
    else:
        try:
            est = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes().toString()
            )
        except Exception:  # stats unavailable: let the planner decide
            return df
    return F.broadcast(df) if 0 <= est <= _BROADCAST_MAX_BYTES else df


def _ledger_add(ledger: dict, job_id: str, epoch: int) -> dict:
    """Fold one (job_id, epoch) into the compressed cumulative ledger.

    Representation per job: {"lw": int, "extra": [int]} — every epoch in
    [0, lw] is committed, plus the sorted out-of-order epochs in `extra`
    (> lw). In-order streams keep extra empty; parallel MOR replay keeps it
    bounded by the epoch parallelism."""
    entry = dict(ledger.get(job_id) or {"lw": -1, "extra": []})
    lw, extra = int(entry["lw"]), set(int(x) for x in entry["extra"])
    e = int(epoch)
    if e <= lw or e in extra:
        return ledger
    if e == lw + 1:
        lw = e
        while lw + 1 in extra:
            lw += 1
            extra.discard(lw)
    else:
        extra.add(e)
    out = dict(ledger)
    out[job_id] = {"lw": lw, "extra": sorted(extra)}
    return out


def _ledger_contains(ledger: dict, job_id: str, epoch: int) -> bool:
    entry = ledger.get(job_id)
    if not entry:
        return False
    return int(epoch) <= int(entry["lw"]) or int(epoch) in set(entry["extra"])


def bucket_expr(bucket_by: str, num_buckets: int):
    """Deterministic key->bucket hash, identical across commits and readers.

    xxhash64 is a JVM-side built-in (whole-stage codegen'd) and stable
    across Spark sessions, which makes the bucket id a pure function of the
    key — the property Iceberg's bucket transform relies on for pruning.
    """
    return F.pmod(F.xxhash64(F.col(bucket_by)), F.lit(num_buckets)).cast("int")


def split_expr(split_by: str | list[str], splits: int):
    """Deterministic key->write-split hash (sub-divides each bucket; the
    salt 17 decorrelates it from the bucket hash). Pure function of the
    named column(s), so a file written under (bucket, split) holds exactly
    the keys that hash there — at every commit, at every cluster size.

    `split_by` is the FULL key on tables created with key_cols: a hot
    conv_id's turns then spread across `splits` fold partitions/files —
    per-conversation skew bounded by splits, while bucket pruning is
    untouched (the bucket remains f(bucket_by)). Legacy manifests without
    a recorded split_by keep the bucket-key-only split so their stored
    (bucket, split) file coordinates stay aligned with the fold's
    routing."""
    cols = [split_by] if isinstance(split_by, str) else list(split_by)
    return F.pmod(
        F.xxhash64(*[F.col(c) for c in cols], F.lit(17)), F.lit(splits)
    ).cast("int")


@dataclass
class Manifest:
    version: int
    parent: int | None
    schema: T.StructType
    bucket_by: str
    num_buckets: int
    files: list[dict]  # {"path": rel, "bucket": int | None, "delta": bool?}
    summary: dict
    timestamp: float
    # merge-on-read resolution identity (set at create time when the table
    # is a keyed LWW table): reads fold (base ∪ delta) rows per key_cols by
    # order_cols, exactly like Iceberg MOR applies equality deletes.
    key_cols: list[str] | None = None
    order_cols: list[str] | None = None
    # Write-split columns (see split_expr): full key on keyed tables,
    # absent on legacy manifests (= bucket_by only). Fixed at create time
    # — every file's recorded (bucket, split) must come from ONE function.
    split_by: list[str] | None = None
    # Cumulative exactly-once ledger: {job_id: {"lw": int, "extra": [int]}}.
    # Includes this manifest's own (job_id, epoch) — folded in at publish —
    # so committed_epochs() needs exactly ONE manifest read.
    ledger: dict | None = None

    def to_json(self) -> str:
        return json.dumps(
            {
                "version": self.version,
                "parent": self.parent,
                "schema": self.schema.jsonValue(),
                "bucket_by": self.bucket_by,
                "num_buckets": self.num_buckets,
                "files": self.files,
                "summary": self.summary,
                "timestamp": self.timestamp,
                "key_cols": self.key_cols,
                "order_cols": self.order_cols,
                "split_by": self.split_by,
                "ledger": self.ledger or {},
            }
        )

    @staticmethod
    def from_json(s: str) -> "Manifest":
        d = json.loads(s)
        return Manifest(
            version=d["version"],
            parent=d["parent"],
            schema=T.StructType.fromJson(d["schema"]),
            bucket_by=d["bucket_by"],
            num_buckets=d["num_buckets"],
            files=d["files"],
            summary=d.get("summary", {}),
            timestamp=d.get("timestamp", 0.0),
            key_cols=d.get("key_cols"),
            order_cols=d.get("order_cols"),
            split_by=d.get("split_by"),
            ledger=d.get("ledger") or {},
        )

    @property
    def has_deltas(self) -> bool:
        return any(f.get("delta") for f in self.files)


class CommitConflict(Exception):
    """Another writer published this version first (optimistic concurrency)."""


class LakeTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)
        # last version this instance OBSERVED to exist; current_version()
        # probes forward from here instead of listing the whole manifest dir
        # (O(1) per commit on a long-running stream instead of O(epochs)).
        self._seen_version: int | None = None

    # ------------------------------------------------------------------ DDL
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        bucket_by: str = "conv_id",
        num_buckets: int = 16,
        exist_ok: bool = False,
        key_cols: list[str] | None = None,
        order_cols: list[str] | None = None,
    ) -> "LakeTable":
        t = cls(spark, path)
        os.makedirs(os.path.join(t.path, _MANIFEST_DIR), exist_ok=True)
        os.makedirs(os.path.join(t.path, _DATA_DIR), exist_ok=True)
        if t.current_version() is not None:
            if exist_ok:
                return t
            raise FileExistsError(f"table already exists at {path}")
        m = Manifest(
            version=1,
            parent=None,
            schema=schema,
            bucket_by=bucket_by,
            num_buckets=num_buckets,
            files=[],
            summary={"operation": "create"},
            timestamp=time.time(),
            key_cols=key_cols,
            order_cols=order_cols,
            # full-key splits on keyed tables: bounds hot-bucket-key skew
            # by `splits` in the fold AND the write (split_expr docstring)
            split_by=list(key_cols) if key_cols else None,
        )
        t._publish(m)
        return t

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "LakeTable":
        t = cls(spark, path)
        if t.current_version() is None:
            raise FileNotFoundError(f"no lake table at {path}")
        return t

    # ------------------------------------------------------------- manifests
    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.path, _MANIFEST_DIR, f"v{version:012d}.json")

    def current_version(self) -> int | None:
        v = self._seen_version
        if v is None:
            v = self._listdir_version()
            if v is None:
                return None
        # The max version only ever grows and vacuum never deletes the
        # newest kept manifests, so probing forward from any version that
        # once existed always lands on the current max...
        while os.path.exists(self._manifest_path(v + 1)):
            v += 1
        # ...UNLESS another process's vacuum() deleted everything up to and
        # including the cached version: then the probe start itself is gone
        # and the forward walk finds nothing. Re-list instead of trusting a
        # stale cache forever (the pre-cache listdir behavior).
        if not os.path.exists(self._manifest_path(v)):
            self._seen_version = None
            v = self._listdir_version()
            if v is None:
                return None
        self._seen_version = v
        return v

    def _listdir_version(self) -> int | None:
        d = os.path.join(self.path, _MANIFEST_DIR)
        if not os.path.isdir(d):
            return None
        versions = [
            int(f[1:-5])
            for f in os.listdir(d)
            if f.startswith("v") and f.endswith(".json")
        ]
        return max(versions) if versions else None

    def snapshot(self, version: int | None = None) -> Manifest:
        v = version if version is not None else self.current_version()
        if v is None:
            raise FileNotFoundError(f"no manifests under {self.path}")
        with open(self._manifest_path(v)) as f:
            return Manifest.from_json(f.read())

    def history(self) -> list[Manifest]:
        cur = self.current_version()
        return [self.snapshot(v) for v in range(1, (cur or 0) + 1) if os.path.exists(self._manifest_path(v))]

    def _publish(self, m: Manifest) -> None:
        """Atomically publish manifest version m.version (CAS via os.link).

        The manifest's own (job_id, epoch) summary is folded into its
        cumulative ledger here, so ledger maintenance and the data commit
        are one atomic write — the invariant exactly-once depends on: a
        ledger that could land without its data (or vice versa) would
        let a retried epoch double-apply or silently skip."""
        s = m.summary or {}
        if s.get("job_id") is not None and "epoch" in s:
            m.ledger = _ledger_add(m.ledger or {}, s["job_id"], int(s["epoch"]))
        final = self._manifest_path(m.version)
        tmp = final + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(m.to_json())
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, final)  # fails atomically if `final` exists
        except FileExistsError as e:
            raise CommitConflict(f"version {m.version} already committed") from e
        finally:
            os.unlink(tmp)
        self._seen_version = max(self._seen_version or 0, m.version)

    def _next_manifest(self, summary: dict) -> Manifest:
        cur = self.snapshot()
        return Manifest(
            version=cur.version + 1,
            parent=cur.version,
            schema=cur.schema,
            bucket_by=cur.bucket_by,
            num_buckets=cur.num_buckets,
            files=list(cur.files),
            summary=summary,
            timestamp=time.time(),
            key_cols=cur.key_cols,
            order_cols=cur.order_cols,
            split_by=cur.split_by,
            ledger=dict(cur.ledger or {}),
        )

    # ---------------------------------------------------------------- reads
    def schema(self) -> T.StructType:
        return self.snapshot().schema

    def read(self, version: int | None = None, resolve: bool = True) -> DataFrame:
        """Snapshot read. If the snapshot contains merge-on-read delta files
        and the table declares (key_cols, order_cols), the read RESOLVES:
        one LWW fold picks the winning row per key across base + deltas —
        the engine's equivalent of Iceberg MOR equality-delete application.
        `resolve=False` returns raw physical rows (all versions of a key)."""
        m = self.snapshot(version)
        return self._maybe_resolve(m, self._read_files(m, m.files), resolve)

    def read_buckets(
        self, buckets: list[int], version: int | None = None, resolve: bool = True
    ) -> DataFrame:
        """Bucket-pruned scan: only files whose bucket is in `buckets`."""
        m = self.snapshot(version)
        wanted = set(buckets)
        files = [f for f in m.files if f.get("bucket") in wanted]
        return self._maybe_resolve(m, self._read_files(m, files), resolve)

    def _maybe_resolve(self, m: Manifest, df: DataFrame, resolve: bool) -> DataFrame:
        if resolve and m.has_deltas and m.key_cols and m.order_cols:
            from go_tfdata_spark.operators.lww import lww_latest

            return lww_latest(df, key_cols=m.key_cols, order_cols=m.order_cols)
        return df

    def _read_files(self, m: Manifest, files: list[dict]) -> DataFrame:
        if not files:
            return self.spark.createDataFrame([], m.schema)
        paths = [os.path.join(self.path, f["path"]) for f in files]
        # Explicit schema => old files missing newly-added columns read NULL
        # (additive evolution) and the scan prunes to exactly these columns.
        return self.spark.read.schema(m.schema).parquet(*paths)

    # --------------------------------------------------------------- writes
    def _write_data(
        self, df: DataFrame, m: Manifest, delta: bool = False
    ) -> list[dict]:
        """Write df (bucketed) under a fresh uuid dir; return file entries.

        Every file lands under `_bucket=B/_split=S/` and its manifest entry
        records both, so each file holds rows of exactly one (bucket, split)
        — the invariant the target-local aligned merge relies on to hand a
        file to the one fold task that owns its keys without any shuffle."""
        commit_dir = os.path.join(_DATA_DIR, uuid.uuid4().hex)
        abs_dir = os.path.join(self.path, commit_dir)
        splits = _WRITE_SPLITS_PER_BUCKET
        out = df.withColumn(_BUCKET_COL, bucket_expr(m.bucket_by, m.num_buckets)) \
            .withColumn(_SPLIT_COL, split_expr(m.split_by or m.bucket_by, splits))
        # One parquet dir per bucket partition: rewrites and reads prune by
        # bucket without opening files. Cluster rows by (bucket, split)
        # before the write: bounded files per bucket (the small-files guard)
        # AND no single hot bucket bounding the write stage's makespan —
        # with Zipf-skewed conv_ids one bucket can carry several times the
        # mean, and an unsplit repartition caps scaling at (total work /
        # largest bucket) regardless of cores.
        out = out.repartition(
            m.num_buckets * splits, F.col(_BUCKET_COL), F.col(_SPLIT_COL)
        )
        out.write.partitionBy(_BUCKET_COL, _SPLIT_COL).parquet(
            abs_dir, mode="errorifexists"
        )
        entries: list[dict] = []
        for bdir in sorted(os.listdir(abs_dir)):
            if not bdir.startswith(f"{_BUCKET_COL}="):
                continue
            b = int(bdir.split("=", 1)[1])
            for sdir in sorted(os.listdir(os.path.join(abs_dir, bdir))):
                if not sdir.startswith(f"{_SPLIT_COL}="):
                    continue
                s = int(sdir.split("=", 1)[1])
                for fn in sorted(os.listdir(os.path.join(abs_dir, bdir, sdir))):
                    if fn.endswith(".parquet"):
                        e = {
                            "path": f"{commit_dir}/{bdir}/{sdir}/{fn}",
                            "bucket": b,
                            "split": s,
                        }
                        if delta:
                            e["delta"] = True
                        entries.append(e)
        return entries

    def append(self, df: DataFrame, summary: dict | None = None) -> Manifest:
        m = self._next_manifest({"operation": "append", **(summary or {})})
        m.files = m.files + self._write_data(self._conform(df, m.schema), m)
        self._publish(m)
        return m

    def overwrite(self, df: DataFrame, summary: dict | None = None) -> Manifest:
        m = self._next_manifest({"operation": "overwrite", **(summary or {})})
        m.files = self._write_data(self._conform(df, m.schema), m)
        self._publish(m)
        return m

    def append_delta(
        self,
        df: DataFrame | None,
        summary: dict | None = None,
        max_retries: int = 20,
        finalize=None,
        entries: list[dict] | None = None,
    ) -> Manifest:
        """Merge-on-read write: append the (already LWW-folded) change batch
        as DELTA files — zero target scan, zero rewrite, write volume
        O(batch). Reads resolve per key via the table's (key_cols,
        order_cols); `compact()` folds deltas back into base files. This is
        the engine's Iceberg-MOR path: the copy-on-write
        `merge_aligned_fused` gives read-optimized tables, `append_delta`
        gives write-optimized ingest — the standard trade for streaming
        upserts.

        Delta appends are pure file ADDITIONS and LWW resolution is
        commutative, so concurrent appenders are safe: on a CAS conflict the
        loser re-reads the snapshot and republishes the SAME already-written
        files against the new parent (no data rewrite in the retry loop).
        This is what lets a replay apply epochs in parallel.

        Zombie protection: when the summary carries a (job_id, epoch), every
        (re)publish attempt first re-checks the new parent's ledger — two
        at-least-once executions of the same epoch racing each other cannot
        both commit; the loser's already-written files become orphans that
        vacuum's grace-period sweep reclaims."""
        snap = self.snapshot()
        if not (snap.key_cols and snap.order_cols):
            raise ValueError("append_delta requires key_cols/order_cols on the table")
        s = {"operation": "append-delta", **(summary or {})}
        job_id, epoch = s.get("job_id"), s.get("epoch")
        m = self._next_manifest(s)
        if entries is None:
            entries = self._write_data(
                self._conform(df, m.schema), m, delta=True
            )
        # else: files already on disk (write-in-fold); entries must carry
        # path/bucket/split and "delta": True — only the manifest commits here
        if finalize is not None:
            finalize(m)  # post-write, pre-publish (accumulator-fed lineage)
            s = dict(m.summary)  # CAS retries re-manifest with the filled summary
        for _ in range(max_retries):
            if (
                job_id is not None
                and epoch is not None
                and _ledger_contains(m.ledger or {}, job_id, int(epoch))
            ):
                return self.snapshot()  # a twin execution already committed it
            m.files = m.files + entries
            try:
                self._publish(m)
                return m
            except CommitConflict:
                m = self._next_manifest(s)
        raise CommitConflict(f"append_delta lost {max_retries} CAS races")

    def _conform(
        self, df: DataFrame, schema: T.StructType, keep: tuple = ()
    ) -> DataFrame:
        """Project df to the table schema: missing columns -> NULL (additive
        evolution tolerance), extra columns rejected (must evolve first).
        Columns named in `keep` (e.g. a fold's epoch column) pass through
        after the table columns."""
        extra = [
            c for c in df.columns if c not in schema.fieldNames() and c not in keep
        ]
        if extra:
            raise ValueError(
                f"columns {extra} not in table schema; call update_schema() first"
            )
        cols = []
        for f in schema.fields:
            if f.name in df.columns:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        return df.select(*cols, *keep)

    # ------------------------------------------------------ schema evolution
    def update_schema(self, new_fields: list[T.StructField], summary: dict | None = None) -> Manifest:
        """Additive-only schema update transaction (Iceberg ADD COLUMN analog).

        Reference stance: unknown fields never fail the pipeline
        (transformer.go:135-142 bytes fallback); here they become real typed
        columns in one atomic manifest commit, old files read NULL for them.

        Concurrency: the add is idempotent (existing fields are skipped), so
        a CAS loss — e.g. two parallel MOR epochs racing to add the same
        column — is resolved by re-snapshotting and retrying, not crashing.
        """
        for _ in range(20):
            m = self._next_manifest({"operation": "add-columns", **(summary or {})})
            existing = set(m.schema.fieldNames())
            added = []
            for f in new_fields:
                if f.name in existing:
                    continue  # idempotent
                # an ADDED column is nullable BY CONSTRUCTION — every row
                # written before this commit reads NULL for it — even when
                # the batch expression that introduced it is non-null
                # (e.g. create_map) and Catalyst typed it nullable=False
                m.schema = T.StructType(
                    m.schema.fields + [T.StructField(f.name, f.dataType, True)]
                )
                added.append(f.name)
            if not added:
                return self.snapshot()
            m.summary["added_columns"] = added
            try:
                self._publish(m)
                return m
            except CommitConflict:
                continue
        raise CommitConflict("update_schema lost 20 CAS races")

    # ----------------------------------------------------------------- merge
    def _fold_write(
        self,
        m: Manifest,
        rows: DataFrame,
        epoch_col: str,
        epochs: list[int],
        key_cols: list[str],
        order_cols: list[str],
        target_files: dict[tuple[int, int], list[str]] | None = None,
        lineage_acc=None,
        drop_deleted: bool = False,
    ) -> dict[int, list[dict]]:
        """Fold `rows` (physical-shape rows plus `epoch_col`) onto m's
        (bucket, split) layout with the Arrow fold
        (operators/arrow_fold.aligned_lww_fold_fused) and return the
        manifest entries of the files it wrote, per epoch, in path order.
        Publishes nothing: the fold tasks write the files in-worker and the
        caller decides which manifests carry them. Rows are conformed to
        m's schema first (missing columns NULL, extra columns refused)."""
        from go_tfdata_spark.operators.arrow_fold import aligned_lww_fold_fused

        write_dirs: dict[int, str] = {}
        for e in epochs:
            d = os.path.join(self.path, _DATA_DIR, uuid.uuid4().hex)
            os.makedirs(d, exist_ok=True)
            write_dirs[int(e)] = d
        entries = aligned_lww_fold_fused(
            self._conform(rows, m.schema, keep=(epoch_col,)),
            key_cols=key_cols,
            order_cols=order_cols,
            bucket_by=m.bucket_by,
            num_buckets=m.num_buckets,
            splits=_WRITE_SPLITS_PER_BUCKET,
            split_by=m.split_by or m.bucket_by,
            epoch_col=epoch_col,
            write_dirs=write_dirs,
            target_files=target_files,
            lineage_acc=lineage_acc,
            parquet_codec=self.spark.conf.get(
                "spark.sql.parquet.compression.codec", "snappy"
            ),
            drop_deleted=drop_deleted,
        ).collect()
        written: dict[int, list[dict]] = {int(e): [] for e in epochs}
        for r in sorted(entries, key=lambda r: r["path"]):
            written[int(r["epoch"])].append({
                "path": os.path.relpath(r["path"], self.path),
                "bucket": int(r["bucket"]),
                "split": int(r["split"]),
            })
        return written

    def merge_aligned_fused(
        self,
        source: DataFrame,
        epoch_col: str,
        summaries: dict[int, dict],
        key_cols: list[str],
        order_cols: list[str],
        affected_by_epoch: dict[int, list[int] | None],
        lineage_acc=None,
        finalize_by_epoch=None,
    ) -> list[Manifest]:
        """The copy-on-write merge, for a chunk of consecutive epochs
        (one epoch is a chunk of one): ONE scan + ONE shuffle + ONE fold job
        for the whole chunk, then one ledger-carrying manifest commit PER
        EPOCH — the exactly-once contract is per epoch (each epoch's
        (job_id, epoch) entry rides its own atomic commit; a crash
        mid-chunk commits a prefix and the ledger re-runs only the rest).

        `source` is physical-shape rows (tombstones as rows, see
        operators/merge.physical_rows) plus `epoch_col`; `summaries` keys
        the chunk's epochs. The fold resolves carried target rows, the
        batch and late events in one pass, on the table's write layout.

        Why chunks: a per-epoch merge re-reads the full carried winner
        table from parquet every epoch. Steady-state catch-up over E epochs
        costs E table re-reads; chunks cost one re-read per chunk — the
        difference between O(E·table) and O(E/chunk·table) read volume on a
        10^4-epoch backfill.

        Manifests are built at (bucket, split) granularity: epoch e's
        manifest replaces exactly the (bucket, split) files the fold wrote
        for e and carries every other file forward — an epoch that touched
        3 of 128 write units commits 3 new files.

        The fold runs min(units, 2 × defaultParallelism) Python tasks, not
        one per (bucket, split) unit: each task streams its units in
        (unit, epoch) order, reading a unit's carried files when its first
        row arrives and holding one unit's state plus a bounded buffer of
        one epoch's rows at a time (see aligned_lww_fold_fused). Carried
        files are handed over keyed by (bucket, split).

        `affected_by_epoch` names each epoch's buckets (None: unknown); it
        only prunes the carried-file hand-over and the legacy upgrade below.
        Files written before manifests recorded their split have no
        (bucket, split) owner: the affected buckets holding any are
        compacted once, in a commit of their own, before the fold.

        With `lineage_acc` the fold reports each epoch's batch-winner
        counts through the accumulator; `finalize_by_epoch(e, manifest)`
        runs after the data is written but BEFORE that epoch's atomic
        publish, so accumulator-derived lineage lands in the commit.

        Single-writer path (batch replay, one streaming epoch); a
        concurrent foreign commit surfaces as CommitConflict from the
        sequential publish loop — the caller re-runs and the ledger skips
        the committed prefix."""
        epochs = sorted(int(e) for e in summaries)
        chunk_affected: set[int] | None = set()
        for e in epochs:
            a = affected_by_epoch.get(e)
            if a is None:
                chunk_affected = None
                break
            chunk_affected.update(a)

        def targets(files):
            return [
                f for f in files
                if chunk_affected is None or f.get("bucket") in chunk_affected
            ]

        base = self.snapshot()
        legacy = {f.get("bucket") for f in targets(base.files) if "split" not in f}
        if legacy:
            self.compact(buckets=sorted(legacy))
            base = self.snapshot()
        tfiles: dict[tuple[int, int], list[str]] = {}
        for f in targets(base.files):
            tfiles.setdefault((f["bucket"], f["split"]), []).append(
                os.path.join(self.path, f["path"])
            )
        written = self._fold_write(
            base, source, epoch_col, epochs, key_cols, order_cols,
            target_files=tfiles, lineage_acc=lineage_acc,
        )
        out: list[Manifest] = []
        prev = base
        files = list(base.files)
        for e in epochs:
            wkeys = {(f["bucket"], f["split"]) for f in written[e]}
            files = [
                f for f in files
                if (f.get("bucket"), f.get("split")) not in wkeys
            ] + written[e]
            s = {"operation": "merge", **summaries[e]}
            s["affected_buckets"] = sorted({b for b, _ in wkeys})
            s["merge_strategy"] = "aligned"
            m = Manifest(
                version=prev.version + 1,
                parent=prev.version,
                schema=base.schema,
                bucket_by=base.bucket_by,
                num_buckets=base.num_buckets,
                files=list(files),
                summary=s,
                timestamp=time.time(),
                key_cols=base.key_cols,
                order_cols=base.order_cols,
                split_by=base.split_by,
                ledger=dict(prev.ledger or {}),
            )
            if finalize_by_epoch is not None:
                finalize_by_epoch(e, m)
            self._publish(m)
            prev = m
            out.append(m)
        return out

    def compact(
        self,
        buckets: list[int] | None = None,
        max_files_per_bucket: int = 1,
        purge_tombstones: bool = False,
        summary: dict | None = None,
    ) -> Manifest:
        """Maintenance rewrite: coalesce each bucket's files and optionally
        purge retained `_deleted` tombstones (safe once no change older
        than the replay watermark can still arrive). No semantic change to
        live rows; snapshot isolation means readers of older versions are
        unaffected. Incremental-merge COW accumulates files per bucket;
        compaction restores the read-amplification floor.

        A bucket is rewritten when it holds more than `max_files_per_bucket`
        files, MOR delta files, or files without a recorded split (written
        before manifests recorded one — the rewrite records it, which is
        how legacy buckets reach the layout the merge fold needs), and
        always under `purge_tombstones`.

        Keyed tables resolve with the merge's Arrow fold: the buckets' rows
        are fed as one epoch onto the write layout, files written in the
        fold workers, and the purge drops tombstone WINNERS after
        resolution (dropping tombstone rows first would let an older live
        version win back). Unkeyed tables are rewritten as they read."""
        m = self._next_manifest({"operation": "compact", **(summary or {})})
        by_bucket: dict[int, list[dict]] = {}
        for f in m.files:
            by_bucket.setdefault(f.get("bucket"), []).append(f)
        todo = [
            b
            for b, fs in by_bucket.items()
            if (buckets is None or b in set(buckets))
            and (
                len(fs) > max_files_per_bucket
                or purge_tombstones
                or any(f.get("delta") or "split" not in f for f in fs)
            )
        ]
        if not todo:
            return self.snapshot()
        kept = [f for f in m.files if f.get("bucket") not in set(todo)]
        purge = purge_tombstones and "_deleted" in m.schema.fieldNames()
        if m.key_cols and m.order_cols:
            rows = self.read_buckets(todo, resolve=False)
            written = self._fold_write(
                m, rows.withColumn("_epoch", F.lit(0)), "_epoch", [0],
                m.key_cols, m.order_cols, drop_deleted=purge,
            )
            m.files = kept + written[0]
        else:
            df = self.read_buckets(todo)
            if purge:
                df = df.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
            m.files = kept + self._write_data(df, m)
        m.summary["compacted_buckets"] = sorted(todo)
        self._publish(m)
        return m

    def vacuum(self, keep_versions: int = 10, orphan_grace_sec: float = 3600.0) -> dict:
        """Physically delete data files no longer referenced by the last
        `keep_versions` manifests (bounds time travel), plus files orphaned
        by failed commits (written but never published — the crash window
        the CAS protocol leaves behind harmlessly).

        Two deletion classes with different safety rules:

        - files referenced ONLY by expired manifests: committed data whose
          versions are being dropped — deletable immediately (no live
          reader: snapshot() can no longer return those versions);
        - files referenced by NO manifest at all: indistinguishable from an
          in-flight concurrent commit that has written its data but not yet
          CAS-published (exactly the window `append_delta` creates), so they
          are only deleted past `orphan_grace_sec` of mtime age — the
          Iceberg remove_orphan_files `older_than` discipline.

        No manifest is ever rewritten: the cumulative ledger rides forward
        in every commit, so dropping expired manifests loses no
        exactly-once state (manifests stay immutable after publish).
        """
        cur = self.current_version()
        keep_from = max(1, (cur or 1) - keep_versions + 1)
        history = self.history()
        kept_manifests = [m for m in history if m.version >= keep_from]
        expired = [m for m in history if m.version < keep_from]

        referenced = {f["path"] for m in kept_manifests for f in m.files}
        expired_refs = {
            f["path"] for m in expired for f in m.files
        } - referenced
        now = time.time()
        removed_files = 0
        data_root = os.path.join(self.path, _DATA_DIR)
        for dirpath, _dirnames, filenames in os.walk(data_root):
            for fn in filenames:
                if not fn.endswith(".parquet"):
                    continue
                abs_p = os.path.join(dirpath, fn)
                rel = os.path.relpath(abs_p, self.path)
                if rel in referenced:
                    continue
                if rel not in expired_refs:
                    try:  # true orphan: possibly an in-flight commit's data
                        if now - os.path.getmtime(abs_p) < orphan_grace_sec:
                            continue
                    except FileNotFoundError:
                        continue
                os.unlink(abs_p)
                removed_files += 1
        for m in expired:
            os.unlink(self._manifest_path(m.version))
        return {"removed_files": removed_files, "removed_manifests": len(expired)}

    # ----------------------------------------------------------- exactly-once
    def is_committed(self, job_id: str, epoch: int) -> bool:
        """O(1) idempotence check: one manifest read, no chain scan.

        `foreachBatch` is at-least-once; a retried epoch finds itself in the
        cumulative ledger and skips — this is the engine's idempotent-commit
        ledger (SURVEY.md §2.9), fixing the reference's documented sink
        non-atomicity (tfrecord.go:62). The ledger rides INSIDE each data
        commit (see `_publish`), so there is no window where data committed
        but the ledger missed it.
        """
        return _ledger_contains(self.snapshot().ledger or {}, job_id, epoch)

    def committed_epochs(self, job_id: str) -> set[int]:
        """Materialized committed-epoch set (diagnostics; prefer
        `is_committed` in hot paths — this expands the compressed ledger)."""
        entry = (self.snapshot().ledger or {}).get(job_id)
        if not entry:
            return set()
        return set(range(0, int(entry["lw"]) + 1)) | {int(x) for x in entry["extra"]}

    # ------------------------------------------------------------ time travel
    def retained_versions(self) -> list[int]:
        """Ascending list of manifest versions still on disk (vacuum keeps
        the newest `keep_versions`; older snapshots age out of travel)."""
        d = os.path.join(self.path, _MANIFEST_DIR)
        if not os.path.isdir(d):
            return []
        return sorted(
            int(f[1:-5])
            for f in os.listdir(d)
            if f.startswith("v") and f.endswith(".json")
        )

    def version_for_epoch(self, job_id: str, epoch: int) -> int:
        """Time travel by ledger: the SMALLEST retained manifest version
        whose cumulative ledger contains (job_id, epoch) — i.e. the table
        exactly as of that epoch's commit (later epochs absent). Because
        the ledger rides inside every data commit and only grows,
        membership is monotone in version, so this is a binary search over
        retained manifests: O(log versions) manifest reads, no chain scan.
        Raises KeyError when the epoch was never committed or its manifest
        was vacuumed past (`retained_versions` bounds the travel window)."""
        vs = self.retained_versions()
        if not vs or not _ledger_contains(
            self.snapshot(vs[-1]).ledger or {}, job_id, epoch
        ):
            raise KeyError(f"epoch {epoch} of job {job_id!r} not committed")
        lo, hi = 0, len(vs) - 1
        while lo < hi:
            mid = (lo + hi) // 2
            if _ledger_contains(self.snapshot(vs[mid]).ledger or {}, job_id, epoch):
                hi = mid
            else:
                lo = mid + 1
        # Exactness: the ledger is cumulative, so after a vacuum every
        # retained manifest still CONTAINS old epochs — containing is not
        # introducing. The manifest that introduced an epoch names it in
        # its own commit summary (_publish folds exactly that into the
        # ledger); if the first retained manifest containing the epoch
        # doesn't name it, the true snapshot was vacuumed away and serving
        # a later state as "as of epoch k" would silently include newer
        # epochs.
        s = self.snapshot(vs[lo]).summary or {}
        if s.get("job_id") != job_id or int(s.get("epoch", -1)) != int(epoch):
            raise KeyError(
                f"epoch {epoch} of job {job_id!r} predates the retained "
                f"manifest window (vacuumed); oldest retained version {vs[0]}"
            )
        return vs[lo]
