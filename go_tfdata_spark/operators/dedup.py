"""Deduplication operators for training-data pipelines.

Exact, shingle-Jaccard, MinHash+LSH, SimHash, and embedding-cosine
near-dup — each designed for the 100 TB shape:

- exact dedup is a hash aggregation on a fingerprint (map-side combine);
- the shingler, MinHash and SimHash share one text path in their Arrow
  kernels: one normalizer (`_normalize`), chunks of a fixed code-point
  budget (`_text_chunks`), one span builder for word n-grams with the
  whole-text fallback (`_spans`; SimHash's tokens are its n = 1 case),
  and one flat prefix-sum rolling hash over the chunk's code points
  (`_substring_hashes`), so a kernel's memory tracks its chunk's code
  points, not rows x longest document;
- Jaccard avoids the O(n^2) cross join by grouping docs per shingle (only
  docs sharing at least one shingle ever meet) and counting pairs in a
  numpy kernel;
- MinHash+LSH and SimHash both band a per-doc key and pair docs only
  inside equal (band, band value) buckets: one shuffle and one Arrow
  kernel (`_banded_pairs`) form each bucket's pairs and verify them in
  place (signature agreement; bit_count of the XOR, complete by
  pigeonhole over max_hamming+1 bands), with no self-join, `distinct` or
  cache;
- candidate PAIRS resolve to transitive CLUSTERS (connected components:
  one numpy labelling task when the edge set fits one partition,
  pointer-jumped min-label propagation rounds otherwise) with one
  canonical doc kept per cluster;
- embedding near-dup offers a random-hyperplane-bucketed variant (the
  scale path: one numpy kernel buckets every table's vectors, and the
  banded-pair kernel pairs and scores each bucket) and a quadratic
  baseline (a tiled block product with a BLAS prefilter); both score
  cosines bit for bit as the JVM expression does, in numpy.

A corpus pass is bound by its Spark job count, not by its kernels (one
job costs ~0.1 s of fixed work on a 4-vCPU box): the near-dup operators
are lazy — building one runs no job — except the generic-id branch of
`shingle_jaccard_pairs` (one pin) and `cluster_dups` (its labelling).

All hashes are engine-agnostic (md5 / polynomial rolling hash, restated
by `functions.text.rolling_hash`) so DuckDB oracles can restate them
exactly; SimHash at bits=64 mixes tokens with the JVM's xxhash64.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from go_tfdata_spark.functions.text import fingerprint, tokens
from go_tfdata_spark.worker import release_zip_finders

_MERSENNE = 2**31 - 1

# Narrow intermediates persisted by the multi-consumer pipelines below
# (the generic-id shingle groups). Their consumers are lazy, so the
# operator cannot unpersist before returning; instead the registry keeps the
# `_MAX_LIVE_CACHES` most recent invocations' caches and evicts older ones,
# so a long-lived session's cached footprint stays bounded WITHOUT yanking
# the cache out from under a still-unconsumed DataFrame returned by the
# immediately-preceding call (or a concurrent thread's in-flight query —
# the registry is lock-guarded). `release_caches()` drops everything.
import threading as _threading

_LIVE_CACHES: list = []
_CACHE_LOCK = _threading.Lock()
_MAX_LIVE_CACHES = 4


def _take_cache(df: DataFrame) -> DataFrame:
    df = df.persist()
    evicted = []
    with _CACHE_LOCK:
        _LIVE_CACHES.append(df)
        while len(_LIVE_CACHES) > _MAX_LIVE_CACHES:
            evicted.append(_LIVE_CACHES.pop(0))
    for old in evicted:  # unpersist outside the lock (it can run a JVM call)
        old.unpersist()
    return df


def release_caches() -> None:
    """Drop ALL cached dedup intermediates (for long-lived apps that know
    no returned DataFrame is still pending consumption)."""
    with _CACHE_LOCK:
        evicted, _LIVE_CACHES[:] = list(_LIVE_CACHES), []
    for old in evicted:
        old.unpersist()


_SIZE_SUFFIX = {
    "": 1, "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
    "p": 1 << 50, "pb": 1 << 50,
}


def _parse_bytes(value: str) -> int:
    """Spark byte-size string ('134217728', '128m', '64MB') -> bytes."""
    s = str(value).strip().lower()
    num = s.rstrip("kmgtpb")
    suffix = s[len(num):]
    if suffix not in _SIZE_SUFFIX:
        raise ValueError(f"unknown byte-size suffix {suffix!r} in {value!r}")
    return int(num) * _SIZE_SUFFIX[suffix]


def _ensure_parallelism(df: DataFrame, *cols: str) -> DataFrame:
    """Spread a narrow input across the cluster before an expensive
    per-row expression (shingle explode, hash family, bucket projection).

    A small dimension-sized parquet often arrives as ONE split (maxPartition-
    Bytes), which would serialize the whole explode on one core — measured
    7s of a 14s query at sf0.1. At real scale inputs already carry thousands
    of splits and this is a no-op (we only repartition when the scan has
    materially fewer partitions than the cluster has slots). Partition-count
    introspection prefers the scan's file listing (plan-only); the RDD
    conversion fallback only runs for non-scan inputs."""
    want = df.sparkSession.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files:
        if len(files) * 2 >= want:
            return df  # enough splits already; no RDD conversion, no shuffle
        # Few files: only tiny ones imply few splits. Local paths can be
        # stat'ed cheaply; non-local few-file scans fall through to the
        # RDD-partition check below.
        import os
        from urllib.parse import urlparse

        paths = [urlparse(f) for f in files]
        if all(p.scheme in ("file", "") for p in paths):
            try:
                total = sum(os.path.getsize(p.path) for p in paths)
                max_split = _parse_bytes(
                    df.sparkSession.conf.get(
                        "spark.sql.files.maxPartitionBytes", "134217728"
                    )
                )
                est_splits = max(len(files), total // max_split)
                if est_splits * 2 >= want:
                    return df
                return df.repartition(want, *[F.col(c) for c in cols])
            except (OSError, ValueError):
                pass
    if df.rdd.getNumPartitions() * 2 < want:
        return df.repartition(want, *[F.col(c) for c in cols])
    return df


# Exactly Java's \s class ([ \t\n\x0B\f\r]) spelled out for RE2 — RE2's \s
# omits \x0B, so the Arrow kernels must not use \s if they are to normalize
# byte-for-byte like functions.text.normalize_text (Java regex) does.
_JAVA_WS_RE = "[ \t\n\x0b\x0c\r]+"
# Code points a text kernel handles at once (one more is counted per row):
# its numpy arrays are a few int64s per code point, whatever the rows'
# lengths. A longer document is a chunk of its own.
_CHUNK_CHARS = 1 << 20


def _normalize(text):
    """`functions.text.normalize_text` on an Arrow string array: trim
    spaces, lower-case, collapse every whitespace run to one ' '."""
    import pyarrow.compute as pc

    return pc.replace_substring_regex(
        pc.utf8_lower(pc.utf8_trim(text, " ")), pattern=_JAVA_WS_RE, replacement=" "
    )


def _text_chunks(batches):
    """(ids, text) chunks of (id, text) record batches, the text
    normalized (NULL stays NULL), each chunk within `_CHUNK_CHARS`."""
    import numpy as np
    import pyarrow.compute as pc

    for rb in batches:
        text = _normalize(rb.column(1))
        ends = np.cumsum(pc.utf8_length(text).fill_null(0).to_numpy() + 1, dtype=np.int64)
        i = 0
        while i < len(ends):
            base = ends[i - 1] if i else 0
            j = max(i + 1, int(np.searchsorted(ends, base + _CHUNK_CHARS, "right")))
            yield rb.column(0).slice(i, j - i), text.slice(i, j - i)
            i = j


def _spans(text, n: int, length=None):
    """(row, start, end) of every word n-gram of every row of `text` (a
    normalized string array without NULLs): the rows are laid end to end
    and split on ' ', and an n-gram runs from its first token's start to
    its last token's end. A row with fewer than n tokens has one span, its
    whole text (split always gives a row at least one token). Positions
    count code points, or bytes with `length=pc.binary_length`. Spans come
    in row order."""
    import numpy as np
    import pyarrow.compute as pc

    toks = pc.split_pattern(text, " ")
    m = pc.list_value_length(toks).to_numpy().astype(np.int64)
    tlen = (length or pc.utf8_length)(pc.list_flatten(toks)).to_numpy().astype(np.int64)
    # a token starts one ' ' after the previous one ends; rows abut
    tstart = np.cumsum(tlen + 1) - (tlen + 1) - np.repeat(np.arange(len(m)), m)
    c = np.maximum(m - n + 1, 1)
    row = np.repeat(np.arange(len(m)), c)
    first = np.arange(c.sum()) + np.repeat(np.cumsum(m) - m - (np.cumsum(c) - c), c)
    last = first + np.minimum(m, n)[row] - 1
    return row, tstart[first], tstart[last] + tlen[last]


def _utf8(text):
    """The UTF-8 bytes of the rows of a string array, laid end to end."""
    import numpy as np

    offsets, data = text.buffers()[1:3]
    offs = np.frombuffer(offsets, np.int32)[text.offset:text.offset + len(text) + 1]
    if data is None:
        return np.zeros(0, np.uint8)
    return np.frombuffer(data, np.uint8)[offs[0]:offs[-1]]


def _code_points(text):
    """The code points of the rows of a string array, laid end to end:
    ASCII bytes as they are, anything else decoded once for the chunk."""
    import numpy as np

    raw = _utf8(text)
    if not len(raw) or raw.max() < 0x80:
        return raw
    return np.frombuffer(raw.tobytes().decode("utf-8").encode("utf-32-le"), np.uint32)


def _substring_hashes(cp, start, end, mod: int):
    """`functions.text.rolling_hash` (acc = acc * 31 + c, mod `mod`) of
    every substring cp[start:end) of the code points `cp`, in O(len(cp))
    with no per-substring loop: with S[k] = sum_{j<k} c_j * 31^-(j+1),
    the hash of cp[a:b) is 31^b * (S[b] - S[a]). `mod` is a prime below
    2^31, where int64 products never overflow, or a power of two up to
    2^64: uint64 arithmetic wraps mod 2^64, a multiple of `mod`, and a mask
    reduces the result (31 is odd, so it is invertible there as well).
    Returns int64 (the signed view for mod 2^64)."""
    import numpy as np

    pow2 = not mod & (mod - 1)
    dt, ring = (np.uint64, 1 << 64) if pow2 else (np.int64, mod)

    def reduce(v):
        if not pow2:
            np.remainder(v, dt(mod), out=v)

    size = len(cp) + 1

    def powers(base):  # base^0 .. base^(size-1), the filled half doubling
        p = np.empty(size, dt)
        p[0] = 1
        k = 1
        while k < size:
            w = min(k, size - k)
            np.multiply(p[:w], dt(pow(base, k, ring)), out=p[k:k + w])
            reduce(p[k:k + w])
            k += w
        return p

    t = cp.astype(dt)
    t *= powers(pow(31, -1, ring))[1:]
    reduce(t)
    s = np.zeros(size, dt)
    np.cumsum(t, out=s[1:])
    del t
    h = s[end] - s[start]
    reduce(h)
    h *= powers(31)[end]
    reduce(h)
    return (h & np.uint64(mod - 1)).view(np.int64) if pow2 else h


def _shingle_kernel(batches, n: int):
    """mapInArrow kernel: (id, text) -> (doc, sh), the distinct word
    n-grams of each row (see `_exploded_distinct_shingles_arrow`)."""
    release_zip_finders()
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    for ids, text in _text_chunks(batches):
        valid = text.is_valid()
        ids, text = ids.filter(valid), text.filter(valid)
        if not len(ids):
            continue
        row, start, end = _spans(text, n, pc.binary_length)
        lens = end - start
        offs = np.zeros(len(row) + 1, np.int64)
        np.cumsum(lens, out=offs[1:])
        data = _utf8(text)[np.repeat(start - offs[:-1], lens) + np.arange(offs[-1])]
        sh = pa.StringArray.from_buffers(
            len(row), pa.py_buffer(offs.astype(np.int32)), pa.py_buffer(data)
        )
        # per-row distinct by value: dictionary codes + (row, code) sort
        codes = pc.dictionary_encode(sh).indices.to_numpy().astype(np.int64)
        order = np.lexsort((codes, row))
        r, c = row[order], codes[order]
        keep = np.ones(len(r), dtype=bool)
        keep[1:] = (r[1:] != r[:-1]) | (c[1:] != c[:-1])
        sel = order[keep]
        yield pa.RecordBatch.from_arrays(
            [ids.take(pa.array(row[sel])), sh.take(pa.array(sel))], names=["doc", "sh"]
        )


def _map_text(df: DataFrame, id_col: str, text_col: str, kernel, out_id: str, field):
    """(id, text) of `df` through a text kernel: mapInArrow to (out_id,
    field), out_id keeping the id column's type."""
    id_field = df.schema[id_col]
    return df.select(F.col(id_col), F.col(text_col)).mapInArrow(kernel, T.StructType([
        T.StructField(out_id, id_field.dataType, id_field.nullable), field,
    ]))


def _exploded_distinct_shingles_arrow(df: DataFrame, id_col: str, text_col: str, n: int):
    """Exploded PER-ROW-DISTINCT word-n-gram rows (doc, sh), computed with
    vectorized Arrow kernels + numpy inside the workers.

    Semantics are exactly explode(array_distinct(word_shingles(text, n))):
    lower/trim/whitespace-collapse normalization (`_normalize`), n-gram
    join with ' ' (each n-gram is the byte span `_spans` gives), the whole
    normalized text for <n-token rows, and duplicate shingles dropped
    WITHIN each input row (never across rows, so degenerate duplicate-id
    inputs fold exactly as the oracle's per-row unnest(list_distinct(...))
    does). NULL text has no shingles. The JVM expression shape pays the
    interpreted-HOF toll per shingle; this emits the identical row
    multiset (order differs; every consumer aggregates)."""
    nn = int(n)
    return _map_text(df, id_col, text_col, lambda batches: _shingle_kernel(batches, nn),
                     "doc", T.StructField("sh", T.StringType(), False))


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup on normalized-text fingerprint: keep the row with the
    smallest id per fingerprint group. Output: input columns + `fp`."""
    fp = fingerprint(F.col(text_col)).alias("fp")
    winners = (
        df.select(fp, F.col(id_col), *[c for c in df.columns if c != id_col])
        .groupBy("fp")
        .agg(F.min_by(F.struct(*df.columns), F.col(id_col)).alias("_r"))
    )
    return winners.select("fp", "_r.*")


def shingle_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = 10_000,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity for all document pairs sharing
    >=1 shingle, filtered to jaccard >= threshold, id_a < id_b.

    Plan shape: explode distinct shingles -> group the docs per shingle
    (docs that share nothing never meet) -> count intersections ->
    jaccard from |A|,|B|,|A∩B|. Integral ids (the fast path) take two
    more shuffles and two numpy kernels: one keyed by doc counts each
    doc's pairs and sizes, one keyed by the pair's second doc looks up
    its size and filters on jaccard (float64, as Spark's `/`). That path
    is lazy: building it runs no job and caches nothing. Other id types
    expand the pairs in the JVM over a cached, eagerly pinned copy of the
    shingle groups (one job at build time).

    `max_doc_freq` is the stop-shingle cap — the scale knob: a shingle
    appearing in d documents contributes d^2 join rows, so one stop-shingle
    (a boilerplate phrase in 1%% of a 10^9-doc corpus) alone would be 10^14
    pairs. Capping document frequency bounds the per-shingle group size;
    Jaccard is then computed on the capped shingle universe (both the
    intersection AND the set sizes, so the statistic stays internally
    consistent — standard stop-shingle pruning). The default (10_000) is
    finite ON PURPOSE — mirroring the required-`dim`/`sig_len` convention,
    a default invocation can never plan an unbounded d^2 shingle join; pass
    `max_doc_freq=None` to explicitly opt into the uncapped exact
    statistic on corpora known to be small."""
    sh = _exploded_distinct_shingles_arrow(
        _ensure_parallelism(df, id_col), id_col, text_col, n
    )
    # Group the exploded rows per shingle ONCE (collect_list) and generate
    # co-occurrence pairs from the sorted doc array in place. The previous
    # shape (doc-freq groupBy + filter join + self-join on the shingle
    # string) shuffled the exploded string rows three times and — under a
    # size misestimate of the cached explode — could broadcast the entire
    # corpus-side join input; this shape shuffles the exploded rows exactly
    # once, the shingle string never crosses another exchange, and the pair
    # multiset is provably identical (each shingle group of d docs emits
    # the same d*(d-1)/2 value-ordered pairs the self-join produced, and
    # the doc-freq cap is the group size).
    grp = sh.groupBy("sh").agg(F.collect_list("doc").alias("docs"))
    if max_doc_freq is not None:
        grp = grp.filter(F.size("docs") <= max_doc_freq)
    grp = grp.select(F.array_sort("docs").alias("docs"))
    id_type = df.schema[id_col].dataType
    arrow_ids = isinstance(
        id_type, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
    )
    if not arrow_ids:
        # the generic path consumes grp twice (sizes + pair expansion):
        # cache the narrow array rows so the explode+groupBy runs once, and
        # pin the cache eagerly: AQE submits both consumers' stages at
        # once, and two scans of an unmaterialized cache each run the whole
        # child chain side by side (the cache stampede)
        grp = _take_cache(grp)
        grp.count()
        sizes = grp.select(F.explode("docs").alias("doc")).groupBy("doc").agg(
            F.count("*").alias("sz")
        )
    ex = grp.select(
        F.posexplode("docs").alias("_i", "da"),
        F.slice(F.col("docs"), F.col("_i") + F.lit(2), F.size("docs")).alias("_tail"),
    )
    if arrow_ids:
        # Arrow fast path for integral ids: shuffle the (da, tail-array)
        # rows hashed by da — every co-occurrence of da lands in one
        # partition as a PACKED int64 list (~55x fewer rows and roughly
        # half the bytes of expanded pair rows) — and expand + run-length
        # count the pairs with numpy inside the worker. A JVM hash
        # aggregate over the expanded pairs is the wrong tool for this
        # distribution (near-all-distinct keys: partial aggregation
        # combines nothing, and the 67M-entry final hash tables spill in a
        # default-size heap — measured 13.6s vs 2-3s for this shape at
        # sf1.0/32 cores). Exact-prune before crossing back to the JVM:
        # szb >= inter always, so jaccard <= inter/sz(da); a pair with
        # inter < threshold*sz(da) can never reach the threshold and is
        # dropped in-worker (the surviving pairs — the only pair rows the
        # second shuffle moves — are the near-threshold ones). sz(da) is exact and
        # partition-local: every group containing da contributes exactly
        # one posexplode row, all hashed to da's partition.
        thr = float(threshold)

        def _count_pairs(batches):
            release_zip_finders()
            import numpy as np
            import pyarrow as pa
            import pyarrow.compute as pc

            da_p, len_p, val_p = [], [], []
            for rb in batches:
                da_p.append(rb.column(0).to_numpy(zero_copy_only=False))
                tails = rb.column(1)
                len_p.append(
                    pc.list_value_length(tails).to_numpy(zero_copy_only=False)
                )
                val_p.append(pc.list_flatten(tails).to_numpy(zero_copy_only=False))
            if not da_p:
                return
            da = np.concatenate(da_p).astype(np.int64, copy=False)
            lens = np.concatenate(len_p).astype(np.int64, copy=False)
            vals = np.concatenate(val_p).astype(np.int64, copy=False)
            # per-doc capped-universe sizes, exact and partition-complete
            # (every group containing a doc contributes one posexplode row,
            # all hashed here) — emitted as id_b=NULL sentinel rows so the
            # downstream sz_b lookup needs no separate sizes subtree. Always
            # emitted, even when this partition produces no pairs: another
            # partition's pairs may reference these docs as id_b.
            ua, ucnt = np.unique(da, return_counts=True)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ua, pa.int64()),
                 pa.array([None] * len(ua), pa.int64()),
                 pa.array(np.zeros(len(ua), np.int64), pa.int64()),
                 pa.array(ucnt.astype(np.int64), pa.int64())],
                names=["id_a", "id_b", "inter", "sz_a"],
            )
            da_exp = np.repeat(da, lens)
            keep = vals > da_exp  # value-compare: exact a.doc < b.doc parity
            da_exp, db = da_exp[keep], vals[keep]
            if not len(da_exp):
                return
            # Sort ONE packed key instead of lexsort+gather: with both ids
            # nonnegative and < 2^31 (every driver corpus; checked per
            # partition), (da << 31) | db is a bijection whose int64 order
            # equals the (da, db) lex order, and counting needs no
            # permutation array at all — np.sort + single-array run-length
            # is ~2x the lexsort path (0.75s vs 1.6s per 3.2M-pair task).
            lo = min(da_exp.min(), db.min())
            hi = max(da_exp.max(), db.max())
            if lo >= 0 and hi < (1 << 31):
                packed = (da_exp << np.int64(31)) | db
                packed.sort()
                new = np.empty(len(packed), dtype=bool)
                new[0] = True
                np.not_equal(packed[1:], packed[:-1], out=new[1:])
                starts = np.flatnonzero(new)
                inter = np.diff(np.append(starts, len(packed)))
                keys = packed[starts]
                pa_ = keys >> np.int64(31)
                pb_ = keys & np.int64((1 << 31) - 1)
            else:
                order = np.lexsort((db, da_exp))
                da_exp, db = da_exp[order], db[order]
                new = np.empty(len(da_exp), dtype=bool)
                new[0] = True
                np.not_equal(da_exp[1:], da_exp[:-1], out=new[1:])
                new[1:] |= db[1:] != db[:-1]
                starts = np.flatnonzero(new)
                inter = np.diff(np.append(starts, len(da_exp)))
                pa_, pb_ = da_exp[starts], db[starts]
            # exact prune (conservative float margin: the final jaccard
            # filter downstream is the decider; this must only never drop
            # a pair that could pass it)
            sza = ucnt[np.searchsorted(ua, pa_)]
            ok = inter >= thr * sza - 1e-9
            yield pa.RecordBatch.from_arrays(
                [pa.array(pa_[ok], pa.int64()), pa.array(pb_[ok], pa.int64()),
                 pa.array(inter[ok], pa.int64()), pa.array(sza[ok], pa.int64())],
                names=["id_a", "id_b", "inter", "sz_a"],
            )

        # ONE kernel pass emits both the pruned pair counts (sz_a riding
        # along — it is the exact per-doc capped shingle count, already in
        # hand for the prune) and the per-doc sizes (id_b NULL sentinel
        # rows). One more shuffle brings each pair to its id_b's size row:
        # pair rows route by id_b, size rows by their doc (id_a), so
        # coalesce(id_b, id_a) is the doc whose size the row holds or
        # needs. No cache, no pin, no join: building runs no job.
        cnt = (
            ex.select("da", "_tail").repartition("da")
            .mapInArrow(_count_pairs, "id_a long, id_b long, inter long, sz_a long")
        )

        def _jaccard(batches):
            release_zip_finders()
            import numpy as np
            import pyarrow as pa
            import pyarrow.compute as pc

            batches = list(batches)
            if not batches:
                return
            tbl = pa.Table.from_batches(batches)
            # split off the size rows BEFORE leaving Arrow: a column with
            # NULLs converts to float64 (NaN), which would round ids > 2^53
            size_row = tbl.column(1).is_null()
            sizes = tbl.filter(size_row)
            docs, sz = (sizes.column(c).to_numpy() for c in (0, 3))
            order = np.argsort(docs)
            docs, sz = docs[order], sz[order]
            id_a, id_b, inter, sz_a = (
                tbl.filter(pc.invert(size_row)).column(c).to_numpy() for c in range(4)
            )
            sz_b = sz[np.searchsorted(docs, id_b)]
            # float64 division of the long counts, as Spark's `/`
            jac = inter.astype(np.float64) / (sz_a + sz_b - inter).astype(np.float64)
            sel = np.flatnonzero(jac >= thr)
            for s in range(0, len(sel), _PAIR_BATCH_ROWS):
                part = sel[s:s + _PAIR_BATCH_ROWS]
                yield pa.RecordBatch.from_arrays(
                    [pa.array(id_a[part]), pa.array(id_b[part]), pa.array(jac[part])],
                    names=["id_a", "id_b", "jaccard"],
                )

        return (
            cnt.repartition(F.coalesce("id_b", "id_a"))
            .mapInArrow(_jaccard, "id_a long, id_b long, jaccard double")
            .select(
                F.col("id_a").cast(id_type).alias("id_a"),
                F.col("id_b").cast(id_type).alias("id_b"),
                "jaccard",
            )
        )
    # generic ids: expand in the JVM and hash-aggregate per pair
    pairs = (
        ex.select("da", F.explode("_tail").alias("db"))
        # duplicate ids inside one group sort adjacently; value-compare
        # (not position-compare) keeps exact parity with a.doc < b.doc
        .filter(F.col("da") < F.col("db"))
        .groupBy(F.col("da").alias("id_a"), F.col("db").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    out = (
        pairs.join(sizes.withColumnsRenamed({"doc": "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"doc": "id_b", "sz": "sz_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def _minhash_params(num_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a*x + b) mod p."""
    params = []
    a, b = 1, 0
    for i in range(num_hashes):
        # simple LCG-derived constants; odd a, stable across runs
        a = (a * 1103515245 + 12345 + seed + i) % _MERSENNE
        b = (b * 69069 + 1 + seed * 31 + i) % _MERSENNE
        params.append((a | 1, b))
    return params


def _minhash_kernel(batches, n: int, params, id_col: str):
    """mapInArrow kernel: (id, text) -> (id, sig), one row per input row."""
    release_zip_finders()
    import numpy as np
    import pyarrow as pa

    for ids, text in _text_chunks(batches):
        null = text.is_null().to_numpy(zero_copy_only=False)
        text = text.fill_null("")
        row, start, end = _spans(text, n)
        x = _substring_hashes(_code_points(text), start, end, _MERSENNE)
        seg = np.flatnonzero(np.diff(row, prepend=-1))  # each row's first span
        sig = np.empty((len(ids), len(params)), np.int64)
        for k, (a, b) in enumerate(params):  # one slot at a time
            sig[:, k] = np.minimum.reduceat((np.int64(a) * x + np.int64(b)) % _MERSENNE, seg)
        # null text keeps its row with every slot NULL (a min over nulls)
        values = pa.array(sig.ravel(), mask=np.repeat(null, len(params)) if null.any() else None)
        offsets = pa.array(np.arange(len(ids) + 1, dtype=np.int32) * len(params))
        yield pa.RecordBatch.from_arrays(
            [ids, pa.ListArray.from_arrays(offsets, values)], names=[id_col, "sig"]
        )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    n: int = 3,
    seed: int = 7,
) -> DataFrame:
    """MinHash signature per document: sig[i] = min over shingles s of
    (a_i * rolling_hash(s) + b_i) mod p. Output: (id, sig array<long>).

    One Arrow/numpy kernel, zero shuffles. The normalized text equals
    ' '.join(tokens), so every word n-gram shingle IS a contiguous span of
    it (`_spans`), and the rolling hash of every span follows from one
    prefix sum over the chunk's code points (`_substring_hashes`): no
    shingle explode, no per-char fold, no groupBy, and no cost that grows
    with the longest document of a chunk. Each document is one input row,
    so the kernel emits its final signature directly (a per-doc min,
    slot by slot). The min is insensitive to duplicate shingles, so
    skipping array_distinct is exact. NULL text keeps its row with every
    slot NULL. Values equal the rolling-hash formulation bit for bit (the
    oracle restates them through DuckDB list_reduce and compares exactly).
    """
    params = _minhash_params(num_hashes, seed)
    nn = int(n)
    return _map_text(
        _ensure_parallelism(df, id_col), id_col, text_col,
        lambda batches: _minhash_kernel(batches, nn, params, id_col),
        id_col, T.StructField("sig", T.ArrayType(T.LongType()), False),
    )


def _band_hashes(sig_col: str, bands: int, sig_len: int):
    """array<int> of the per-band LSH keys: band i is F.hash of signature
    slots [i*r, (i+1)*r), r = sig_len // bands (trailing slots unused)."""
    r = sig_len // bands
    return F.array(*[F.hash(F.slice(F.col(sig_col), i * r + 1, r)) for i in range(bands)])


# Rows per batch a pair kernel yields: a hot bucket's pairs stream out in
# slices of this size instead of being held at once.
_PAIR_BATCH_ROWS = 1 << 16


def _banded_pairs(banded: DataFrame, load, judge, score_field) -> DataFrame:
    """Verified near-dup pairs from banded rows in ONE shuffle and ONE
    Arrow kernel.

    `banded` holds one row per (doc, band): (id, band, bv, *payload), where
    `bv` is the doc's key in that band. The rows are hash-partitioned on
    (band, bv), so every bucket is whole in one task. The kernel sorts the
    task's rows by (band, bv, id) and forms the value-ordered pairs
    id_a < id_b inside each equal-key run, diagonal by diagonal (pairs k
    apart, k = 1, 2, ...), so candidates never outnumber the task's rows
    plus one output slice. `load(table)` turns the payload columns into
    numpy arrays aligned with the table's rows; `judge(payload, i, j, band)`
    gets row indices of candidate pairs and the band they met in, and
    returns (keep mask, score). It must keep a pair only in the LOWEST band
    on which the two payloads agree, so a pair that collides in several
    bands is emitted once and no `distinct` is needed. NULL ids never pair
    (as `a.id < b.id` is NULL in SQL). Output: (id_a, id_b, score_field)."""
    id_type = banded.schema.fields[0].dataType
    names = ["id_a", "id_b", score_field.name]

    def kernel(batches):
        release_zip_finders()
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        batches = list(batches)
        if not batches:
            return
        tbl = pa.Table.from_batches(batches)
        tbl = tbl.filter(pc.is_valid(tbl.column(0))).combine_chunks()
        n = tbl.num_rows
        if n < 2:
            return
        ids = tbl.column(0).chunk(0)
        # equal ids share a rank; rank order is Arrow's (bytewise for strings)
        key = pc.rank(ids, sort_keys="ascending", tiebreaker="dense").to_numpy().astype(np.int64)
        band = tbl.column(1).to_numpy().astype(np.int64, copy=False)
        bv = tbl.column(2).to_numpy().astype(np.int64, copy=False)
        payload = load(tbl)
        order = np.lexsort((key, bv, band))
        key_s, band_s, bv_s = key[order], band[order], bv[order]
        new = np.empty(n, dtype=bool)
        new[0] = True
        np.not_equal(band_s[1:], band_s[:-1], out=new[1:])
        new[1:] |= bv_s[1:] != bv_s[:-1]
        starts = np.flatnonzero(new)
        run = np.cumsum(new) - 1
        # rows after each row inside its run
        rest = np.append(starts[1:], n)[run] - np.arange(n) - 1
        active = np.flatnonzero(rest > 0)

        def verified(ci, cj, cb):
            i, j = np.concatenate(ci), np.concatenate(cj)
            keep, score = judge(payload, i, j, np.concatenate(cb))
            sel = np.flatnonzero(keep)
            for s in range(0, len(sel), _PAIR_BATCH_ROWS):
                part = sel[s:s + _PAIR_BATCH_ROWS]
                yield pa.RecordBatch.from_arrays(
                    [ids.take(pa.array(i[part])), ids.take(pa.array(j[part])),
                     pa.array(score[part])],
                    names=names,
                )

        ci, cj, cb, pending = [], [], [], 0
        k = 1
        while len(active):
            p = active
            q = p + k
            ok = key_s[p] < key_s[q]  # duplicate ids sort adjacent; never pair
            ci.append(order[p[ok]])
            cj.append(order[q[ok]])
            cb.append(band_s[p[ok]])
            pending += int(ok.sum())
            if pending >= _PAIR_BATCH_ROWS:
                yield from verified(ci, cj, cb)
                ci, cj, cb, pending = [], [], [], 0
            k += 1
            active = active[rest[active] >= k]
        if pending:
            yield from verified(ci, cj, cb)

    out_schema = T.StructType([
        T.StructField("id_a", id_type, False),
        T.StructField("id_b", id_type, False),
        score_field,
    ])
    return banded.repartition("band", "bv").mapInArrow(kernel, out_schema)


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str,
    bands: int = 4,
    sig_col: str = "sig",
    *,
    sig_len: int,
) -> DataFrame:
    """Band the signatures and emit candidate pairs that collide in >=1 band.

    groupBy (band_idx, band_hash) keeps candidate generation linear in the
    corpus; only same-bucket docs are paired. `sig_len` (the signature
    length, i.e. num_hashes) is REQUIRED so this stays a pure plan
    transformation — Spark's array type does not carry a length, and a
    driver probe here would put a job inside any caller's loop.
    """
    banded = sig_df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(_band_hashes(sig_col, bands, sig_len)).alias("band", "bh"),
    )
    pairs = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "bh"])
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )
    return pairs


def minhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    seed: int = 7,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures -> banded candidate
    pairs -> estimated jaccard (signature agreement) >= threshold.
    Output: (id_a, id_b, est_jaccard), id_a < id_b.

    One shuffle and one pair kernel (`_banded_pairs`): each signature row
    is exploded to its `bands` (band, band hash) keys, the band hashes
    being the same `F.hash(slice)` values `lsh_candidate_pairs` joins on,
    computed in the JVM before the shuffle and carried with the signature.
    Inside each bucket the kernel pairs the docs, keeps a pair only in the
    lowest band whose hashes agree, and verifies it in place:
    est_jaccard = equal slots / num_hashes (float64, as Spark's `/`) >=
    threshold. A pair with a NULL slot (NULL text) is dropped, as the SQL
    `zip_with`/`aggregate` estimate is NULL there. Lazy: building it runs
    no Spark job and caches nothing.

    Duplicate ids: the kernel verifies only ROW pairs that share a bucket.
    If an id appears on several rows, a pair of its rows that collide in
    no band is not verified, even when another row pair of the same two
    ids collided (a join of candidate ids back to the signatures would
    verify every row combination). With unique ids the two are the same."""
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, n, seed)
    banded = sigs.select(
        F.col(id_col), F.col("sig"), _band_hashes("sig", bands, num_hashes).alias("_bhs"),
    ).select(
        F.col(id_col), F.posexplode("_bhs").alias("band", "bv"), F.col("sig"), F.col("_bhs"),
    )
    nh, nb, thr = int(num_hashes), int(bands), float(threshold)

    def load(tbl):
        import numpy as np
        import pyarrow.compute as pc

        slots = pc.list_flatten(tbl.column(3).chunk(0))
        nul = pc.is_null(slots).to_numpy(zero_copy_only=False).reshape(-1, nh).any(axis=1)
        sig = pc.fill_null(slots, 0).to_numpy(zero_copy_only=False).reshape(-1, nh)
        bh = pc.list_flatten(tbl.column(4).chunk(0)).to_numpy(
            zero_copy_only=False).reshape(-1, nb)
        return sig, nul, bh

    def judge(payload, i, j, band):
        import numpy as np

        sig, nul, bh = payload
        lowest = np.argmax(bh[i] == bh[j], axis=1)
        est = (sig[i] == sig[j]).sum(axis=1).astype(np.float64) / np.float64(nh)
        return (lowest == band) & ~(nul[i] | nul[j]) & (est >= thr), est

    return _banded_pairs(
        banded, load, judge, T.StructField("est_jaccard", T.DoubleType(), True),
    )


def _simhash_kernel(batches, bits: int, id_col: str):
    """mapInArrow kernel: (id, text) -> (id, simhash); NULL text has no row."""
    release_zip_finders()
    import numpy as np
    import pyarrow as pa

    for ids, text in _text_chunks(batches):
        valid = text.is_valid()
        ids, text = ids.filter(valid), text.filter(valid)
        if not len(ids):
            continue
        row, start, end = _spans(text, 1)
        h = _substring_hashes(_code_points(text), start, end, 1 << bits)
        seg = np.flatnonzero(np.diff(row, prepend=-1))
        m = np.diff(np.append(seg, len(row)))  # tokens per row
        fp = np.zeros(len(ids), np.int64)
        for i in range(bits):  # bit i is set when more tokens vote 1 than 0
            ones = np.add.reduceat((h >> np.int64(i)) & np.int64(1), seg)
            fp |= (2 * ones > m).astype(np.int64) << np.int64(i)
        yield pa.RecordBatch.from_arrays([ids, pa.array(fp)], names=[id_col, "simhash"])


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """SimHash: per token, a `bits`-bit token hash votes +1/-1 per bit
    position; the sign of each bit's vote sum forms the fingerprint.
    Output: (id, simhash long); NULL text has no row, empty text gives 0.

    Token hash: bits < 64 uses the polynomial rolling hash mod 2^bits
    (DuckDB-oracle expressible), in one Arrow/numpy kernel with zero
    shuffles: the tokens are the n = 1 spans of `_spans`, their hashes come
    from one prefix sum (`_substring_hashes`), and each document emits its
    fingerprint directly. bits=64 uses JVM-native xxhash64 in one explode
    and one groupBy with 64 conditional sums — a rolling hash only
    accumulates ~5 bits of entropy per character, so short tokens would
    leave the upper fingerprint bits constant-zero and the high bands of
    `simhash_near_dups` degenerate (one bucket holding the whole corpus).
    xxhash64 avalanches all 64 bits regardless of token length."""
    if not 1 <= bits <= 64:
        raise ValueError(f"bits must be in [1, 64], got {bits}")
    df = _ensure_parallelism(df, id_col)
    if bits < 64:
        nbits = int(bits)
        return _map_text(
            df, id_col, text_col, lambda batches: _simhash_kernel(batches, nbits, id_col),
            id_col, T.StructField("simhash", T.LongType(), False),
        )
    tok = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("w")).select(
        F.col(id_col), F.xxhash64("w").alias("h")
    )
    votes = tok.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    acc = F.lit(0).cast("long")
    for i in range(bits):
        # bit 63 is the sign bit: 2**63 overflows a long literal, so add
        # long-min (same two's-complement bit pattern; cannot overflow since
        # bits 0..62 sum to < 2**63)
        weight = -(2**63) if i == 63 else 2**i
        acc = acc + F.when(F.col(f"b{i}") > 0, F.lit(weight).cast("long")).otherwise(0)
    return votes.select(id_col, acc.alias("simhash"))


def simhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs: documents whose fingerprints differ in at
    most `max_hamming` bit positions, id_a < id_b. Output:
    (id_a, id_b, hamming).

    Candidate generation is band rotation (pigeonhole): split the
    `bits`-bit key into `max_hamming + 1` contiguous bands — two keys
    within hamming distance k MUST agree exactly on at least one band, so
    candidates are pairs equal on some (band_idx, band_value). Each
    fingerprint row is exploded to its (band, band value) keys and paired
    inside its bucket by one shuffle and one kernel (`_banded_pairs`),
    never an all-pairs join. The kernel takes the XOR of the two
    fingerprints, keeps a pair only in the lowest band where the XOR is
    zero, and verifies popcount(XOR) <= max_hamming in place. Lazy:
    building it runs no Spark job and caches nothing. With duplicate ids
    every passing ROW pair is emitted once, as a join of candidate ids back
    to the fingerprints would: pigeonhole makes every passing row pair
    collide in some band.

    Scale note: a band carries bits/(k+1) bits of key (8 bits at the
    32/3 default), so band-bucket sizes are corpus/256 in the worst case —
    use bits=64 (xxhash64 token hashing; all bands uniformly populated)
    for billion-doc corpora to keep buckets bounded."""
    if not 0 <= max_hamming < bits:
        raise ValueError(f"max_hamming must be in [0, {bits}), got {max_hamming}")
    fps = simhash(df, id_col, text_col, bits)
    nbands = max_hamming + 1
    w = bits // nbands
    # contiguous bands; the last band absorbs the remainder bits
    widths = [w] * (nbands - 1) + [bits - w * (nbands - 1)]
    offs = [w * i for i in range(nbands)]
    # a full-width band's all-ones mask is -1 as a long
    masks = [-1 if wd == 64 else (1 << wd) - 1 for wd in widths]
    banded = fps.select(
        F.col(id_col),
        F.posexplode(F.array(*[
            F.shiftright(F.col("simhash"), offs[i]).bitwiseAND(F.lit(masks[i]))
            for i in range(nbands)
        ])).alias("band", "bv"),
        F.col("simhash"),
    )
    kmax = int(max_hamming)

    def load(tbl):
        return tbl.column(3).to_numpy()

    def judge(fp, i, j, band):
        import numpy as np

        x = fp[i] ^ fp[j]
        lowest = np.full(len(x), nbands, dtype=np.int64)
        for b in range(nbands - 1, -1, -1):
            lowest[((x >> np.int64(offs[b])) & np.int64(masks[b])) == 0] = b
        ham = np.unpackbits(x.view(np.uint8).reshape(-1, 8), axis=1).sum(
            axis=1, dtype=np.int32)
        return (lowest == band) & (ham <= kmax), ham

    return _banded_pairs(
        banded, load, judge, T.StructField("hamming", T.IntegerType(), True),
    )


def _label_components(batches):
    """mapInArrow kernel: connected-component labels of the task's edges
    (u, v). Ids map to their `np.unique` ranks, so the smallest rank is
    the smallest id (code-point order for strings, which is UTF-8 byte
    order, as Spark compares them). Min-label propagation in both edge
    directions with pointer jumping runs until no label moves. Emits
    (node, lbl) for every endpoint: lbl is the smallest id of the node's
    component in THIS task's subgraph."""
    release_zip_finders()
    import numpy as np
    import pyarrow as pa

    us, vs = [], []
    for rb in batches:
        us.append(rb.column(0))
        vs.append(rb.column(1))
    m = sum(len(u) for u in us)
    if not m:
        return
    ids = pa.concat_arrays(us + vs)
    uniq, inv = np.unique(ids.to_numpy(zero_copy_only=False), return_inverse=True)
    u, v = inv[:m], inv[m:]
    lbl = np.arange(len(uniq))
    while True:
        prev = lbl.copy()
        np.minimum.at(lbl, u, lbl[v])
        np.minimum.at(lbl, v, lbl[u])
        while True:  # pointer jumping: take my label's label until stable
            nxt = lbl[lbl]
            if np.array_equal(nxt, lbl):
                break
            lbl = nxt
        if np.array_equal(lbl, prev):
            break
    yield pa.RecordBatch.from_arrays(
        [pa.array(uniq, ids.type), pa.array(uniq[lbl], ids.type)], names=["node", "lbl"]
    )


def cluster_dups(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 30,
) -> DataFrame:
    """Resolve candidate PAIRS into transitive near-dup CLUSTERS:
    connected components over the pair graph, cluster_id = smallest doc id
    in the component. Output: (doc_id, cluster_id, is_canonical) — one row
    per doc that appears in >=1 pair; is_canonical marks the kept
    representative (the smallest id). Pairs with a NULL id are ignored.
    The same "group then collapse" shape as the reference's keyed assembly
    fold (archive/manager.go:57-63), applied to the dup graph instead of
    archive members.

    Algorithm: the edges are shuffled on xxhash64(u) (an expression, so
    the planner cannot drop the exchange when the input is already
    partitioned on the id) and one numpy kernel per task labels its
    subgraph's components (`_label_components`); the labels are
    localCheckpointed (one job). When that stage ran as ONE task — AQE
    coalesces a small edge set to one partition — the task saw every edge,
    the labels are exact, and no round runs. Otherwise (the scale path)
    each node starts from its smallest task label and distributed
    min-label propagation with POINTER JUMPING refines them: each round
    every node takes the min label over {self} ∪ neighbor labels ∪ its
    label's OWN label, so convergence is O(log diameter) rounds, at most
    `max_iters`. Each round is two shuffles keyed by node id; lineage is
    truncated per round (localCheckpoint), and the fixpoint test rides the
    SAME job: an `observe()` metric (changed-row count) is collected while
    the eager localCheckpoint materializes the round."""
    e = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v")).filter(
        F.col("u").isNotNull() & F.col("v").isNotNull()
    )
    id_type = e.select(F.coalesce("u", "v")).schema[0].dataType
    e = e.select(F.col("u").cast(id_type).alias("u"), F.col("v").cast(id_type).alias("v"))
    labels = (
        e.repartition(F.xxhash64("u"))
        .mapInArrow(_label_components, T.StructType([
            T.StructField("node", id_type, False), T.StructField("lbl", id_type, False),
        ]))
        .localCheckpoint()
    )
    if labels.rdd.getNumPartitions() > 1:
        labels = _refine_labels(e, labels.groupBy("node").agg(F.min("lbl").alias("lbl")),
                                max_iters)
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("lbl").alias("cluster_id"),
        (F.col("node") == F.col("lbl")).alias("is_canonical"),
    )


def _refine_labels(e: DataFrame, labels: DataFrame, max_iters: int) -> DataFrame:
    """Pointer-jumping min-label rounds over the undirected edges `e`
    (u, v), from `labels` (node, lbl) where every lbl is an id of the
    node's component and <= node, until no label changes."""
    edges = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct().persist()
    try:
        for _ in range(max_iters):
            nbr = (
                edges.join(labels.withColumnsRenamed({"node": "u", "lbl": "ulbl"}), "u")
                .groupBy(F.col("v").alias("node"))
                .agg(F.min("ulbl").alias("nlbl"))
            )
            # pointer jump: my label's current label (labels is a function,
            # one row per node, so this join cannot fan out)
            jump = labels.select(F.col("node").alias("lbl"), F.col("lbl").alias("jlbl"))
            obs = Observation()
            labels = (
                labels.join(nbr, "node", "left")
                .join(jump, "lbl", "left")
                .select(
                    "node",
                    F.least(
                        "lbl",
                        F.coalesce("nlbl", "lbl"),
                        F.coalesce("jlbl", "lbl"),
                    ).alias("_new"),
                    "lbl",
                )
                .observe(
                    obs,
                    F.sum((F.col("_new") != F.col("lbl")).cast("long")).alias(
                        "changed"
                    ),
                )
                .select("node", F.col("_new").alias("lbl"))
                .localCheckpoint()
            )
            if int(obs.get["changed"] or 0) == 0:
                return labels
        raise RuntimeError(
            f"cluster_dups did not converge in {max_iters} rounds — "
            "pathological component diameter; raise max_iters"
        )
    finally:
        edges.unpersist()


def dedup_by_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Corpus-level dedup: resolve `pairs` to clusters and keep ONE
    representative per cluster (the smallest id) plus every doc that
    appears in no pair. Same columns as `df`."""
    clusters = cluster_dups(pairs, id_a, id_b)
    drop = clusters.filter(~F.col("is_canonical")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def hyperplane_matrix(hyperplanes: int, dim: int, seed: int = 7):
    """Deterministic random-hyperplane matrix (hyperplanes x dim). Exposed
    so oracles can restate the exact same bucket function."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.randn(hyperplanes, dim).astype(float)


# Slack under the threshold at which the exact path's BLAS prefilter keeps a
# candidate. Its cosine of two unit-scaled float64 vectors is within about
# dim * 2^-52 of the sequential score (under 1e-9 below dim ~10^6); float
# vectors multiply in float32 in the scored expression (relative error up to
# 2^-24 per product), so they get more room.
_PREFILTER_SLACK = {"double": 1e-9, "float": 1e-6}
# Side of the largest block-product tile the exact path scores at once
# (2048 x 2048 float64 = 32 MB).
_TILE = 2048
# Rows whose norm lies outside this range skip the prefilter and are always
# rescored: their products can underflow or overflow, so the scaled BLAS
# cosine need not track the sequential one.
_NORM_RANGE = (1e-100, 1e100)


def _vector_rows(arr):
    """An Arrow list array of vectors as (lens, ok, values, starts): row r's
    elements are values[starts[r]:starts[r] + lens[r]], and ok is False for
    a NULL vector or one that holds a NULL element (its dot products are
    NULL, so it never pairs)."""
    import numpy as np

    lens = arr.value_lengths().fill_null(0).to_numpy().astype(np.int64)
    flat = arr.flatten()  # honours slicing, skips NULL rows
    ok = arr.is_valid().to_numpy(zero_copy_only=False, writable=True)
    nulls = flat.is_null().to_numpy(zero_copy_only=False)
    if nulls.any():
        ok[np.repeat(np.arange(len(arr)), lens)[nulls]] = False
    return lens, ok, flat.to_numpy(zero_copy_only=False), np.cumsum(lens) - lens


def _columns(values, starts, rows, width):
    """width x len(rows) matrix of the rows' elements: element k of every
    row is one contiguous array, so pair products gather one column."""
    import numpy as np

    return values[starts[rows] + np.arange(width)[:, None]]


def _pair_dots(ut, vt, i, j):
    """dot(u_i, v_j) for each pair, exactly as `functions.vectors.dot`
    computes it: acc = acc + u[k] * v[k] from k = 0, in float64, each
    product taken in the element type (float32 for float vectors). No BLAS:
    its summation order differs."""
    import numpy as np

    acc = np.zeros(len(i))
    with np.errstate(all="ignore"):  # inf and NaN elements score as in the JVM
        for k in range(len(ut)):
            acc = acc + ut[k][i] * vt[k][j]
    return acc


def _norms(ut):
    """`functions.vectors.l2_norm` of every column of ut."""
    import numpy as np

    r = np.arange(ut.shape[1])
    return np.sqrt(_pair_dots(ut, ut, r, r))


def _cosine_keep(ut, vt, nu, nv, i, j, thr):
    """(keep, cos) of the pairs (u_i, v_j): cos as
    `functions.vectors.cosine_similarity` computes it, dot / (|u| * |v|).
    A zero divisor never pairs (the expression is NULL there, or raises
    under ANSI mode); a NaN cosine passes, as Spark orders NaN above every
    number."""
    import numpy as np

    den = nu[i] * nv[j]
    ok = den != 0
    with np.errstate(all="ignore"):
        cos = _pair_dots(ut, vt, i, j) / np.where(ok, den, 1.0)
    return ok & ((cos >= thr) | np.isnan(cos)), cos


def _plane_buckets(xt, planes, hyperplanes):
    """Every column of xt's bucket in every table (n x tables): `planes`
    stacks the tables' hyperplane matrices, and bit j of a table's bucket
    is set when the sequential float64 dot with its plane j is > 0 or NaN
    (Spark orders NaN above 0), as the bucket expression of the oracle."""
    import numpy as np

    acc = np.zeros((xt.shape[1], len(planes)))
    with np.errstate(all="ignore"):
        for k in range(len(xt)):
            acc = acc + xt[k][:, None] * planes[:, k]
    bits = ((acc > 0) | np.isnan(acc)).reshape(xt.shape[1], -1, hyperplanes)
    return (bits.astype(np.int64) << np.arange(hyperplanes)).sum(axis=2)


def _vector_input(df: DataFrame, id_col: str, vec_col: str):
    """(id, v) of `df` and the element type name the vectors are scored
    in: float and double vectors keep theirs, other numeric vectors are
    cast to double."""
    vt = df.select(F.col(vec_col)).schema.fields[0].dataType
    if not isinstance(vt, T.ArrayType):
        raise TypeError(f"{vec_col} must be an array column, got {vt.simpleString()}")
    v = F.col(vec_col)
    if not isinstance(vt.elementType, (T.FloatType, T.DoubleType)):
        v = v.cast("array<double>")
    work = df.select(F.col(id_col).alias("id"), v.alias("v"))
    return work, work.schema.fields[1].dataType.elementType.typeName()


def _hyperplane_banded(
    df: DataFrame, id_col: str, vec_col: str, hyperplanes: int, dim: int, seed: int,
    tables: int,
) -> DataFrame:
    """Banded rows of the LSH path, one per (vector, table): (id, band =
    the table, bv = the vector's bucket in it, v, bks = its buckets in
    every table). Table t's planes are `hyperplane_matrix(hyperplanes, dim,
    seed + 101 * t)`; one mapInArrow kernel computes every table's bits for
    a batch. A row with a NULL id, a NULL vector, a NULL element or a
    length other than `dim` gets no banded row: its bucket expression is
    NULL, so it never pairs."""
    import numpy as np

    planes = np.vstack([hyperplane_matrix(hyperplanes, dim, seed + 101 * t) for t in range(tables)])
    work, _ = _vector_input(df, id_col, vec_col)
    id_field, vec_field = work.schema.fields
    names = ["id", "band", "bv", "v", "bks"]

    def kernel(batches):
        release_zip_finders()
        import numpy as np
        import pyarrow as pa

        for rb in batches:
            lens, ok, values, starts = _vector_rows(rb.column(1))
            ok &= (lens == dim) & rb.column(0).is_valid().to_numpy(zero_copy_only=False)
            rows = np.flatnonzero(ok)
            if not len(rows):
                continue
            bks = _plane_buckets(_columns(values, starts, rows, dim), planes, hyperplanes)
            take = pa.array(rows)
            ids, vecs = rb.column(0).take(take), rb.column(1).take(take)
            bk_lists = pa.ListArray.from_arrays(
                pa.array(np.arange(0, bks.size + 1, tables, dtype=np.int32)),
                pa.array(bks.ravel()),
            )
            for t in range(tables):
                yield pa.RecordBatch.from_arrays(
                    [ids, pa.array(np.full(len(rows), t, dtype=np.int32)), pa.array(bks[:, t]),
                     vecs, bk_lists],
                    names=names,
                )

    return work.mapInArrow(kernel, T.StructType([
        T.StructField("id", id_field.dataType, False),
        T.StructField("band", T.IntegerType(), False),
        T.StructField("bv", T.LongType(), False),
        T.StructField("v", vec_field.dataType, False),
        T.StructField("bks", T.ArrayType(T.LongType(), False), False),
    ]))


def _length_groups(arr):
    """{width: (rows, ut, nrm, unit, loose)} of a block's scorable vectors
    grouped by length (only equal lengths pair: zip_with pads the shorter
    vector with NULLs). ut is the width x n element matrix, nrm the exact
    norms (zero-norm rows dropped: they never pair), unit the float64 rows
    scaled to unit length for the prefilter, and loose marks rows whose
    norm is not finite or outside `_NORM_RANGE` (always rescored)."""
    import numpy as np

    lens, ok, values, starts = _vector_rows(arr)
    groups = {}
    for width in np.unique(lens[ok]):
        rows = np.flatnonzero(ok & (lens == width))
        ut = _columns(values, starts, rows, width)
        nrm = _norms(ut)
        live = nrm != 0
        rows, ut, nrm = rows[live], ut[:, live], nrm[live]
        loose = ~((nrm >= _NORM_RANGE[0]) & (nrm <= _NORM_RANGE[1]))
        with np.errstate(all="ignore"):
            unit = np.ascontiguousarray((ut / nrm).T, dtype=np.float64)
        unit[loose] = 0.0
        groups[int(width)] = (rows, ut, nrm, unit, loose)
    return groups


def _block_product(a, b, same: bool, thr: float, slack: float):
    """Verified (id_a, id_b, cos) record batches of the row pairs between
    blocks `a` and `b` (struct arrays of (id, v)), or among the rows of `a`
    when `same`: every row pair with different ids once, id_a the smaller.
    Tiles of at most `_TILE` x `_TILE` are prefiltered with one BLAS
    product of the unit-scaled vectors at thr - slack; the candidates are
    rescored exactly (`_cosine_keep`)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    ids = pa.concat_arrays([a.field(0), b.field(0)])
    key = pc.rank(ids, sort_keys="ascending", tiebreaker="dense").to_numpy()
    ka, kb = key[:len(a)], key[len(a):]
    ga = _length_groups(a.field(1))
    gb = ga if same else _length_groups(b.field(1))
    for width in ga.keys() & gb.keys():
        ra, uta, nu, xa, la = ga[width]
        rb, utb, nv, xb, lb = gb[width]
        for a0 in range(0, len(ra), _TILE):
            for b0 in range(a0 if same else 0, len(rb), _TILE):
                cand = xa[a0:a0 + _TILE] @ xb[b0:b0 + _TILE].T >= thr - slack
                cand |= la[a0:a0 + _TILE, None] | lb[None, b0:b0 + _TILE]
                if same:
                    cand = np.triu(cand, a0 - b0 + 1)
                pi, pj = np.nonzero(cand)
                pi += a0
                pj += b0
                differ = ka[ra[pi]] != kb[rb[pj]]
                pi, pj = pi[differ], pj[differ]
                for s in range(0, len(pi), _PAIR_BATCH_ROWS):
                    i, j = pi[s:s + _PAIR_BATCH_ROWS], pj[s:s + _PAIR_BATCH_ROWS]
                    keep, cos = _cosine_keep(uta, utb, nu, nv, i, j, thr)
                    i, j = ra[i[keep]], rb[j[keep]] + len(a)
                    lo = key[i] < key[j]
                    yield pa.RecordBatch.from_arrays(
                        [ids.take(pa.array(np.where(lo, i, j))),
                         ids.take(pa.array(np.where(lo, j, i))), pa.array(cos[keep])],
                        names=["id_a", "id_b", "cos"],
                    )


def _exact_pairs(df: DataFrame, id_col: str, vec_col: str, threshold: float) -> DataFrame:
    """The quadratic baseline: the JVM groups the rows into
    defaultParallelism blocks (collect_list of (id, v) per
    pmod(xxhash64(id))), joins the blocks to each other (block a <= block
    b), and one kernel works through each block pair (`_block_product`)."""
    work, elem = _vector_input(df, id_col, vec_col)
    id_type = work.schema.fields[0].dataType
    nblk = df.sparkSession.sparkContext.defaultParallelism
    blocks = (
        work.filter(F.col("id").isNotNull() & F.col("v").isNotNull())
        .groupBy(F.pmod(F.xxhash64("id"), F.lit(nblk)).alias("blk"))
        .agg(F.collect_list(F.struct("id", "v")).alias("rows"))
    )
    prod = blocks.select(F.col("blk").alias("ba"), F.col("rows").alias("ra")).join(
        blocks.select(F.col("blk").alias("bb"), F.col("rows").alias("rb")),
        F.col("ba") <= F.col("bb"),
    )
    thr, slack = float(threshold), _PREFILTER_SLACK[elem]

    def kernel(batches):
        release_zip_finders()
        for rb in batches:
            ba, ra, bb, rows_b = (rb.column(c) for c in range(4))
            for r in range(rb.num_rows):
                same = ba[r].as_py() == bb[r].as_py()
                yield from _block_product(ra.slice(r, 1).flatten(), rows_b.slice(r, 1).flatten(),
                                          same, thr, slack)

    return prod.mapInArrow(kernel, T.StructType([
        T.StructField("id_a", id_type, False),
        T.StructField("id_b", id_type, False),
        T.StructField("cos", T.DoubleType(), True),
    ]))


def embedding_near_dups(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    hyperplanes: int = 8,
    seed: int = 7,
    dim: int | None = None,
    exact: bool = False,
    tables: int = 1,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos >= threshold, id_a < id_b).
    Output: (id_a, id_b, cos).

    DEFAULT is the scale path: random-hyperplane buckets — vectors must
    agree on all `hyperplanes` sign bits (of at least one of `tables`
    independent plane sets: OR-amplification raises recall without
    shrinking buckets) before any cosine is computed. One kernel computes
    every table's buckets (`_hyperplane_banded`), and the banded-pair
    kernel (`_banded_pairs`) pairs each bucket after one shuffle, keeps a
    pair only in the lowest table whose buckets agree, and checks its
    cosine: no bucket join, `distinct` or join back to the vectors. The
    quadratic block product (`_exact_pairs`) is the exactness baseline
    ONLY and must be requested explicitly with `exact=True` — calling this
    operator with defaults never plans a cross join. `dim` (the embedding
    dimension) is REQUIRED on the LSH path: the hyperplane matrix is built
    driver-side and the array type does not carry a length, so inferring
    it would put a driver probe job inside any caller's loop.

    Scores equal `functions.vectors.cosine_similarity` bit for bit (a
    left-to-right float64 dot; float vectors multiply in float32; other
    numeric vectors are cast to double), and a bucket bit is set when the
    same sequential dot with the plane is > 0. A NULL vector, a NULL
    element or a zero norm never pairs, nor on the LSH path does a length
    other than `dim`. Duplicate ids: as in `minhash_near_dups`, the LSH
    path scores only ROW pairs that share a bucket; the exact path scores
    every row pair with different ids."""
    if exact:
        return _exact_pairs(df, id_col, vec_col, threshold)
    if hyperplanes <= 0:
        raise ValueError(
            "hyperplanes must be positive for the LSH path; "
            "pass exact=True to opt into the quadratic baseline"
        )
    if dim is None:
        raise ValueError(
            "dim (embedding dimension) is required for the LSH path — "
            "no driver probe is ever run; pass exact=True for the "
            "quadratic baseline if you cannot know the dimension"
        )
    if tables < 1:
        raise ValueError(f"tables must be >= 1, got {tables}")
    banded = _hyperplane_banded(df, id_col, vec_col, hyperplanes, dim, seed, tables)
    thr, width, nt = float(threshold), int(dim), int(tables)

    def load(tbl):
        import numpy as np
        import pyarrow.compute as pc

        vals = pc.list_flatten(tbl.column(3).chunk(0)).to_numpy(zero_copy_only=False)
        ut = np.ascontiguousarray(vals.reshape(-1, width).T)
        bks = pc.list_flatten(tbl.column(4).chunk(0)).to_numpy(zero_copy_only=False)
        return ut, _norms(ut), bks.reshape(-1, nt)

    def judge(payload, i, j, band):
        import numpy as np

        ut, nrm, bks = payload
        sel = np.flatnonzero(np.argmax(bks[i] == bks[j], axis=1) == band)
        keep = np.zeros(len(i), dtype=bool)
        cos = np.zeros(len(i))
        keep[sel], cos[sel] = _cosine_keep(ut, ut, nrm, nrm, i[sel], j[sel], thr)
        return keep, cos

    return _banded_pairs(banded, load, judge, T.StructField("cos", T.DoubleType(), True))
