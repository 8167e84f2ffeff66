"""Training-data operators: dedup family, similarity search, text functions,
multimodal plumbing."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from go_tfdata_spark.functions.multimodal import decode_and_featurize, frame_sample, synthetic_media
from go_tfdata_spark.functions.text import normalize_text, token_count
from go_tfdata_spark.operators.dedup import (
    dedup_exact,
    embedding_near_dups,
    minhash_near_dups,
    shingle_jaccard_pairs,
    simhash,
)
from go_tfdata_spark.operators.similarity import IVFIndex, brute_force_topk


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (0, base),
        (1, base),                                   # exact dup of 0
        (2, base.replace("dog", "cat")),             # near dup
        (3, "completely different words entirely unrelated content here now"),
        (4, "  THE  quick   brown fox jumps over the lazy dog again and again today "),  # ws/case dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact_normalized(spark, docs):
    out = dedup_exact(docs, "text", "doc_id")
    groups = {r["fp"]: r["doc_id"] for r in out.collect()}
    # 0,1,4 collapse to one group (normalization folds case+whitespace), min id kept
    assert len(groups) == 3
    assert 0 in groups.values() and 2 in groups.values() and 3 in groups.values()


def test_shingle_jaccard(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             shingle_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.4).collect()}
    assert pairs[(0, 1)] == 1.0 and pairs[(0, 4)] == 1.0 and pairs[(1, 4)] == 1.0
    assert 0.4 <= pairs[(0, 2)] < 1.0  # near dup
    assert (0, 3) not in pairs


def test_shingle_jaccard_packed_and_fallback_id_ranges(spark, docs):
    """The pair-count kernel sorts a packed (da << 31) | db key when both
    ids fit in [0, 2^31); ids outside that range take the lexsort
    fallback. Both branches must produce identical pair sets: shift the
    same corpus's ids past 2^31 (and negative) and compare. Offsets of
    +-2^60 are beyond float64's exact integers, so any float round trip
    of an id (e.g. a nullable column read through NaN) shows here."""
    small = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             shingle_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.4).collect()}
    for off in (1 << 31, -7, 1 << 60, -(1 << 60)):
        shifted = docs.withColumn("doc_id", F.col("doc_id") + F.lit(off))
        got = {(r["id_a"] - off, r["id_b"] - off): r["jaccard"] for r in
               shingle_jaccard_pairs(shifted, "doc_id", "text", n=3, threshold=0.4).collect()}
        assert got == small, f"offset {off}: {got} != {small}"


def test_minhash_near_dups_finds_near_and_not_far(spark, docs):
    out = {(r["id_a"], r["id_b"]) for r in
           minhash_near_dups(docs, "doc_id", "text", num_hashes=16, bands=8, threshold=0.5).collect()}
    assert (0, 1) in out and (0, 4) in out
    assert (0, 3) not in out and (1, 3) not in out and (2, 3) not in out


def test_simhash_hamming(spark, docs):
    sh = {r["doc_id"]: r["simhash"] for r in simhash(docs, "doc_id", "text").collect()}
    def ham(a, b):
        return bin(a ^ b).count("1")
    assert sh[0] == sh[1] == sh[4]          # identical after normalization
    assert ham(sh[0], sh[2]) < ham(sh[0], sh[3])  # near dup closer than unrelated


def test_embedding_near_dups_and_lsh_buckets(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),   # near 0
        (2, [0.0, 1.0, 0.0, 0.0]),      # orthogonal
        (3, [-1.0, 0.0, 0.0, 0.0]),     # opposite
    ]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    brute = {(r["id_a"], r["id_b"]) for r in
             embedding_near_dups(df, "vec_id", "v", threshold=0.95, exact=True).collect()}
    assert brute == {(0, 1)}
    lsh = {(r["id_a"], r["id_b"]) for r in
           embedding_near_dups(df, "vec_id", "v", threshold=0.95, hyperplanes=4, dim=4).collect()}
    assert lsh <= brute  # bucketing may lose recall, never adds false pairs
    assert (0, 3) not in lsh
    # OR-amplification: more tables never loses pairs vs one table, never
    # adds false positives vs brute force
    multi = {(r["id_a"], r["id_b"]) for r in
             embedding_near_dups(df, "vec_id", "v", threshold=0.95,
                                 hyperplanes=4, tables=3, dim=4).collect()}
    assert lsh <= multi <= brute
    # dim is required on the LSH path (no silent driver probe)
    with pytest.raises(ValueError, match="dim"):
        embedding_near_dups(df, "vec_id", "v", threshold=0.95, hyperplanes=4)


def test_simhash_near_dups_banded_equals_brute(spark, docs):
    """Band rotation is candidate-COMPLETE (pigeonhole): the banded plan's
    pairs must equal a brute-force all-pairs hamming filter."""
    from go_tfdata_spark.operators.dedup import simhash_near_dups

    sh = {r["doc_id"]: r["simhash"] for r in simhash(docs, "doc_id", "text").collect()}
    for k in (0, 2, 5):
        want = {
            (a, b, bin(sh[a] ^ sh[b]).count("1"))
            for a in sh for b in sh
            if a < b and bin(sh[a] ^ sh[b]).count("1") <= k
        }
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_near_dups(docs, "doc_id", "text", max_hamming=k).collect()
        }
        assert got == want, k
    with pytest.raises(ValueError, match="max_hamming"):
        simhash_near_dups(docs, "doc_id", "text", max_hamming=32)


def test_simhash_bits64_end_to_end(spark, docs):
    """bits=64 (the documented big-corpus default) end to end: the 64-bit
    rolling hash must equal the Python uint64-wrap reference, fingerprints
    must use the full upper 32 bits, and banded pairing must equal brute
    force at 64 bits — exercising the long-wrap path the 32-bit contract
    queries never touch."""
    from go_tfdata_spark.functions.text import rolling_hash
    from go_tfdata_spark.operators.dedup import simhash_near_dups

    # 1) 64-bit rolling hash == Python reference (wrap mod 2^64, signed view)
    words = ["fox", "dog", "a", "", "supercalifragilisticexpialidocious" * 4]
    wdf = spark.createDataFrame([(w,) for w in words], "w string")
    got_h = {
        r["w"]: r["h"]
        for r in wdf.select("w", rolling_hash(F.col("w"), mod=2**64).alias("h")).collect()
    }

    def ref(word: str) -> int:
        acc = 0
        for ch in word:
            acc = (acc * 31 + ord(ch)) % 2**64
        return acc - 2**64 if acc >= 2**63 else acc

    assert got_h == {w: ref(w) for w in words}

    # 2) fingerprints differ from the 32-bit ones and exercise high bits
    sh64 = {r["doc_id"]: r["simhash"] for r in simhash(docs, "doc_id", "text", bits=64).collect()}
    assert any(v < 0 or v >= 2**32 for v in sh64.values()), "upper 32 bits never set"
    assert sh64[0] == sh64[1] == sh64[4]  # dups still collide at 64 bits

    # 3) banded candidate generation is still complete at bits=64
    for k in (0, 3):
        want = {
            (a, b, bin((sh64[a] ^ sh64[b]) & (2**64 - 1)).count("1"))
            for a in sh64 for b in sh64
            if a < b and bin((sh64[a] ^ sh64[b]) & (2**64 - 1)).count("1") <= k
        }
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_near_dups(docs, "doc_id", "text", bits=64, max_hamming=k).collect()
        }
        assert got == want, k


def test_cluster_dups_transitive_closure(spark):
    from go_tfdata_spark.operators.dedup import cluster_dups

    # chain 1-2-3-4 (transitive), pair {9,10}, singleton edges absent
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (9, 10)], "id_a long, id_b long"
    )
    got = {(r["doc_id"], r["cluster_id"], r["is_canonical"])
           for r in cluster_dups(pairs).collect()}
    assert got == {(1, 1, True), (2, 1, False), (3, 1, False), (4, 1, False),
                   (9, 9, True), (10, 9, False)}
    # empty pair set -> empty clusters, no convergence error
    assert cluster_dups(pairs.limit(0)).count() == 0


def test_cluster_dups_long_chain_pointer_jumping(spark):
    """An adversarial 64-node path must converge well inside max_iters
    (pointer jumping gives O(log diameter) rounds)."""
    from go_tfdata_spark.operators.dedup import cluster_dups

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a long, id_b long"
    )
    out = cluster_dups(pairs, max_iters=10)
    assert {r["cluster_id"] for r in out.collect()} == {0}


def test_dedup_by_clusters_end_to_end(spark, docs):
    """The VERDICT-requested chain: minhash_near_dups -> clusters ->
    dedup'd corpus keeps one canonical per near-dup group + all unpaired."""
    from go_tfdata_spark.operators.dedup import dedup_by_clusters

    pairs = minhash_near_dups(docs, "doc_id", "text", num_hashes=16, bands=8,
                              threshold=0.5)
    kept = sorted(r["doc_id"] for r in
                  dedup_by_clusters(docs, pairs, "doc_id").collect())
    # 0,1,4 are dups (one kept: 0); 2 and 3 unpaired at this threshold
    assert 0 in kept and 3 in kept
    assert 1 not in kept and 4 not in kept


def test_shingle_jaccard_default_cap_is_finite(spark, docs):
    """Scale-safety: the DEFAULT invocation applies a finite stop-shingle
    cap (an unbounded d^2 join must be an explicit opt-in)."""
    import inspect

    sig = inspect.signature(shingle_jaccard_pairs)
    assert sig.parameters["max_doc_freq"].default is not None
    # a tiny explicit cap prunes the universal shingle, dropping pairs
    capped = shingle_jaccard_pairs(docs, "doc_id", "text", threshold=0.01,
                                   max_doc_freq=1).count()
    uncapped = shingle_jaccard_pairs(docs, "doc_id", "text", threshold=0.01,
                                     max_doc_freq=None).count()
    assert capped < uncapped


def test_embedding_near_dups_default_never_plans_cartesian(spark):
    """The quadratic baseline is opt-in (exact=True); a defaults call must
    plan a bucket equi-join, not a CartesianProduct / BroadcastNestedLoop."""
    df = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5, -1.0]) for i in range(8)],
        "vec_id long, v array<double>",
    )
    plan = embedding_near_dups(df, "vec_id", "v", dim=4)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    with pytest.raises(ValueError, match="exact=True"):
        embedding_near_dups(df, "vec_id", "v", hyperplanes=0, dim=4)


def test_ivf_sparse_hashed_ids_still_make_ncells_centroids(spark):
    """Centroid sampling must not assume dense 0..n ids (regression: pmod
    stride sampling degenerated to 1 centroid on sparse id spaces)."""
    import numpy as np

    rng = np.random.RandomState(3)
    ids = list({int(x) for x in rng.randint(0, 2**62, size=120, dtype=np.int64)})[:100]
    vecs = rng.randn(100, 8).astype(float)
    df = spark.createDataFrame(
        [(ids[i], [float(x) for x in vecs[i]]) for i in range(100)],
        "vec_id long, v array<double>",
    )
    idx = IVFIndex(df, "v", "vec_id", ncells=8)
    assert len(idx.centroids) == 8
    q = [float(x) for x in vecs[11]]
    exact = [r["vec_id"] for r in brute_force_topk(df, "v", q, k=5, id_col="vec_id").collect()]
    approx = [r["vec_id"] for r in idx.topk(q, k=5, nprobe=8).collect()]
    assert approx == exact  # all cells probed == exact


def test_ivf_topk_matches_brute_force(spark):
    import numpy as np

    rng = np.random.RandomState(0)
    vecs = rng.randn(200, 16).astype(float)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(200)], "vec_id long, v array<double>"
    )
    q = [float(x) for x in vecs[7]]
    exact = [r["vec_id"] for r in brute_force_topk(df, "v", q, k=5, id_col="vec_id").collect()]
    assert exact[0] == 7  # self is nearest
    idx = IVFIndex(df, "v", "vec_id", ncells=8)
    approx = [r["vec_id"] for r in idx.topk(q, k=5, nprobe=8).collect()]
    # probing ALL cells == exact search
    assert approx == exact


def test_brute_force_topk_drops_undefined_cosines(spark):
    """A zero vector among the scored rows has no cosine: it is dropped (it
    made the whole query raise DIVIDE_BY_ZERO under ANSI mode), as are NULL
    vectors and NULL elements. The scores equal the JVM cosine expression,
    the plan keeps one TakeOrderedAndProject and runs one job, and a zero
    query raises before any job runs."""
    from go_tfdata_spark.functions.vectors import cosine_similarity

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.5, 0.5]), (3, None), (4, [None, 1.0]),
         (5, [0.3, -0.9])],
        "vec_id long, v array<double>",
    )
    out = brute_force_topk(df, "v", [1.0, 0.0], k=10)
    got, jobs = _jobs_in(spark, "topk-undefined", lambda: [tuple(r) for r in out.collect()])
    want = sorted(
        (tuple(r) for r in df.filter(F.col("vec_id").isin(0, 2, 5)).select(
            "vec_id", cosine_similarity(F.col("v"), F.array(F.lit(1.0), F.lit(0.0))).alias("c")
        ).collect()),
        key=lambda r: (-r[1], r[0]),
    )
    assert got == want and [r[0] for r in got] == [0, 2, 5]
    assert jobs == 1
    assert out._jdf.queryExecution().executedPlan().toString().count("TakeOrderedAndProject") == 1
    assert [r[0] for r in brute_force_topk(df, "v", [1.0, 0.0], k=1).collect()] == [0]
    for zero in ([0.0, 0.0], [1e-200, 0.0], []):
        with pytest.raises(ValueError, match="zero norm"):
            _jobs_in(spark, "topk-zero-query", lambda: brute_force_topk(df, "v", zero, k=3))
    assert len(spark.sparkContext.statusTracker().getJobIdsForGroup("topk-zero-query")) == 0


def test_ivf_vectorized_assignment_many_cells(spark):
    """Cell assignment is ONE mapInArrow stage whose plan size is O(1) in
    ncells (regression: the Catalyst formulation nested ncells
    greatest(struct(...)) calls per row — codegen/expression-tree blowup in
    the hundreds of cells a large corpus wants). ncells=256 over sparse
    hashed ids; assignment verified against an independent numpy argmax."""
    import numpy as np

    rng = np.random.RandomState(5)
    ids = sorted({int(x) for x in rng.randint(0, 2**62, size=420, dtype=np.int64)})[:400]
    vecs = rng.randn(400, 8)
    df = spark.createDataFrame(
        [(ids[i], [float(x) for x in vecs[i]]) for i in range(400)],
        "vec_id long, v array<double>",
    )
    idx = IVFIndex(df, "v", "vec_id", ncells=256)
    assert len(idx.centroids) == 256
    plan = idx.assigned._jdf.queryExecution().executedPlan().toString()
    assert "greatest" not in plan  # no O(ncells) expression tree
    assert plan.count("MapInArrow") == 1
    # independent assignment oracle: max cosine, ties -> largest cell id
    cents_desc = sorted(idx.centroids, key=lambda cv: cv[0], reverse=True)
    cids = np.array([c for c, _ in cents_desc])
    cmat_desc = np.array([v for _, v in cents_desc])
    cn = cmat_desc / np.linalg.norm(cmat_desc, axis=1, keepdims=True)
    by_id = {ids[i]: vecs[i] for i in range(400)}
    got = {r["vec_id"]: r["_cell"] for r in idx.assigned.select("vec_id", "_cell").collect()}
    for vid, v in by_id.items():
        vn = v / np.linalg.norm(v)
        assert got[vid] == int(cids[int(np.argmax(vn @ cn.T))])
    # probing every cell == exact search
    q = [float(x) for x in vecs[3]]
    exact = [r["vec_id"] for r in brute_force_topk(df, "v", q, k=5, id_col="vec_id").collect()]
    approx = [r["vec_id"] for r in idx.topk(q, k=5, nprobe=256).collect()]
    assert approx == exact


def test_ivf_materialized_index_no_reassignment(spark, tmp_path):
    """An index queried k times must not pay k assignment passes: with a
    build `path` the assignment is WRITTEN partitioned by `_cell`, and every
    `topk` plan is a pruned parquet scan — no MapInArrow stage, and only
    nprobe/ncells of the partition dirs survive pruning."""
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = rng.randn(300, 8)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(300)],
        "vec_id long, v array<double>",
    )
    q = [float(x) for x in vecs[42]]
    lazy = IVFIndex(df, "v", "vec_id", ncells=8)
    mat = IVFIndex(df, "v", "vec_id", ncells=8, path=str(tmp_path / "ivf"))
    # identical results, lazy vs materialized, partial and full probe
    for nprobe in (2, 8):
        a = [r["vec_id"] for r in lazy.topk(q, k=5, nprobe=nprobe).collect()]
        b = [r["vec_id"] for r in mat.topk(q, k=5, nprobe=nprobe).collect()]
        assert a == b
    plan = mat.topk(q, k=5, nprobe=2)._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in plan  # no re-assignment on query
    # partition pruning: a cell predicate reaches the scan as a partition
    # filter (not a post-scan Filter), so only the probed cells' dirs are
    # read — the nprobe/ncells scan reduction the index exists for
    import re

    two_cells = [c for c, _ in mat.centroids[:2]]
    pruned = mat.assigned.filter(F.col("_cell").isin(two_cells))
    pplan = pruned._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", pplan)
    assert m and "_cell" in m.group(1) and "IN" in m.group(1)
    lazy.close()


def test_text_functions_edgecases(spark):
    df = spark.createDataFrame([(1, ""), (2, "   "), (3, "one"), (4, "a  b\tc")],
                               "id long, text string")
    out = df.select(
        "id",
        token_count(F.col("text")).alias("n"),
        normalize_text(F.col("text")).alias("norm"),
    ).collect()
    got = {r["id"]: (r["n"], r["norm"]) for r in out}
    assert got[1] == (0, "") and got[2] == (0, "")
    assert got[3] == (1, "one")
    assert got[4] == (3, "a b c")


def test_multimodal_plumbing(spark):
    media = synthetic_media(spark, n=50)
    feats = decode_and_featurize(media)
    rows = feats.collect()
    assert len(rows) == 50
    assert all(r["width"] == 8 and r["height"] == 8 for r in rows)
    assert all(len(r["feature"]) == 16 for r in rows)
    assert all(not math.isnan(x) for r in rows for x in r["feature"])
    # deterministic across runs
    again = {r["media_id"]: r["feature"] for r in decode_and_featurize(media).collect()}
    assert all(again[r["media_id"]] == r["feature"] for r in rows)
    # frame sampling keeps every nth frame of videos only
    fs = frame_sample(media, every_nth=10)
    assert fs.filter(F.col("kind") != "video").count() == 0
    assert fs.filter(F.pmod(F.col("frame_idx"), F.lit(10)) != 0).count() == 0


def test_pandas_udf_parity_with_jvm_exprs(spark):
    """The Arrow-vectorized stages produce byte-identical results to the JVM
    column expressions (north rule: vectorized pandas UDFs, no per-row
    Python; reference analog: SampleF, transformation.go:128-142)."""
    from go_tfdata_spark.functions.text_pandas import normalize_text_pd, token_count_pd

    df = spark.createDataFrame(
        [(1, "  Hello   WORLD "), (2, ""), (3, "a\tb\nc"), (4, "ONE")],
        "id long, text string",
    )
    out = df.select(
        "id",
        (normalize_text_pd("text") == normalize_text(F.col("text"))).alias("norm_eq"),
        (token_count_pd("text") == token_count(F.col("text")).cast("long")).alias("cnt_eq"),
    ).collect()
    assert all(r["norm_eq"] and r["cnt_eq"] for r in out)


def test_repair_turn_order(spark):
    from go_tfdata_spark.functions.text_pandas import repair_turn_order

    rows = [
        ("c1", 5, 30, "late"), ("c1", 1, 10, "first"), ("c1", 1, 20, "second"),
        ("c2", 9, 1, "only"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, ts long, lsn long, text string")
    out = {(r["conv_id"], r["turn_idx"]): r["text"]
           for r in repair_turn_order(df).collect()}
    assert out == {("c1", 0): "first", ("c1", 1): "second", ("c1", 2): "late",
                   ("c2", 0): "only"}


def test_codegen_cache_holds_a_dedup_pass(spark, docs):
    """The session's compiled-class cache holds a whole pass of this module's
    text and vector dedup queries (~157 classes cold): running the pass
    again, back to back, compiles next to nothing. At Spark's default cache
    size of 100 the pass does not fit, the access pattern is cyclic, and
    every class is compiled again.

    Not exactly nothing: a whole-stage class's source embeds its codegen
    stage id, and AQE numbers stages in the order their inputs finish, so a
    warm pass now and then meets a renumbered pipeline (4 classes per
    affected query; up to 8 per pass seen). The bound stays far below the
    ~155 a cache smaller than the pass recompiles."""
    from go_tfdata_spark.operators.dedup import dedup_by_clusters, release_caches, simhash_near_dups

    rows = [(i, [float(i % 5), 1.0, 0.5 * i, -1.0]) for i in range(40)]
    vecs = spark.createDataFrame(rows, "vec_id long, v array<double>")
    q = rows[7][1]

    def queries():
        pairs = minhash_near_dups(docs, "doc_id", "text", num_hashes=16, bands=8, threshold=0.5)
        yield dedup_exact(docs, "text", "doc_id")
        yield shingle_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.4)
        yield pairs
        yield simhash(docs, "doc_id", "text")
        yield simhash_near_dups(docs, "doc_id", "text", max_hamming=5)
        yield dedup_by_clusters(docs, pairs, "doc_id")
        yield embedding_near_dups(vecs, "vec_id", "v", threshold=0.95, exact=True)
        yield embedding_near_dups(vecs, "vec_id", "v", threshold=0.95, hyperplanes=4, dim=4)
        yield brute_force_topk(vecs, "v", q, k=5, id_col="vec_id")
        idx = IVFIndex(vecs, "v", "vec_id", ncells=4)
        yield idx.topk(q, k=5, nprobe=4)
        idx.close()

    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def one_pass() -> int:
        before = metric.getCount()
        release_caches()
        spark.catalog.clearCache()
        for df in queries():
            df.collect()
        release_caches()
        spark.catalog.clearCache()
        return metric.getCount() - before

    first = one_pass()
    warm = one_pass()
    assert warm <= 40, f"a warm pass compiled {warm} classes; the first pass {first}"


def _jobs_in(spark, group, fn):
    """Run fn() under a fresh job group; return (fn's result, the number of
    Spark jobs it started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _clusters(df):
    return sorted((r["doc_id"], r["cluster_id"], r["is_canonical"]) for r in df.collect())


def test_cluster_dups_refinement_path_matches_one_task(spark, monkeypatch):
    """With AQE coalescing off, the labelling stage runs as several tasks,
    each labelling only its own share of the edges, and the pointer-jumping
    rounds must finish the job: results equal the one-task labelling on
    the transitive fixture, the 64-node chain at max_iters=10 and a graph
    of non-ASCII string ids (Spark orders strings by UTF-8 bytes)."""
    from go_tfdata_spark.operators import dedup
    from go_tfdata_spark.operators.dedup import cluster_dups

    words = ["zebra", "Zoë", "éclair", "Ω", "日本", "apple", "Äpfel", "ß", "b", "Ωmega"]
    graphs = [
        (spark.createDataFrame([(1, 2), (2, 3), (3, 4), (9, 10)], "id_a long, id_b long"), 30),
        (spark.createDataFrame([(i, i + 1) for i in range(64)], "id_a long, id_b long"), 10),
        (spark.createDataFrame(
            [(words[0], words[1]), (words[1], words[2]), (words[3], words[4]),
             (words[4], words[5]), (words[6], words[7]), (words[8], words[9]),
             (words[9], words[0])],
            "id_a string, id_b string"), 30),
    ]
    refined = []
    real = dedup._refine_labels
    monkeypatch.setattr(dedup, "_refine_labels",
                        lambda *a: refined.append(1) or real(*a))
    one_task = [_clusters(cluster_dups(p, max_iters=it)) for p, it in graphs]
    assert not refined  # a small edge set coalesces to one labelling task
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        many = [_clusters(cluster_dups(p, max_iters=it)) for p, it in graphs]
    finally:
        spark.conf.set(key, old)
    assert len(refined) == len(graphs)
    assert many == one_task
    assert {c for _, c, _ in one_task[1]} == {0}
    # string ids: cluster_id is the smallest id by UTF-8 bytes
    comps = [words[:3] + words[8:], words[3:6], words[6:8]]
    want = sorted((w, min(c, key=str.encode), w == min(c, key=str.encode))
                  for c in comps for w in c)
    assert one_task[2] == want


def test_near_dup_operators_build_lazily(spark, docs):
    """Building these operators runs no Spark job and pins no cache, so
    building more of them than the cache registry holds (_MAX_LIVE_CACHES)
    before consuming any cannot evict a pin: each result equals the
    result of building and consuming it on its own."""
    from go_tfdata_spark.operators.dedup import _MAX_LIVE_CACHES, simhash_near_dups

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    builders = (
        [lambda k=k: minhash_near_dups(docs, "doc_id", "text", num_hashes=16, bands=8,
                                       threshold=0.1 * k) for k in range(6)]
        + [lambda k=k: simhash_near_dups(docs, "doc_id", "text", max_hamming=k)
           for k in range(6)]
        + [lambda k=k: shingle_jaccard_pairs(docs, "doc_id", "text", n=3,
                                             threshold=0.1 * k) for k in range(6)]
    )
    assert len(builders) > 3 * _MAX_LIVE_CACHES
    built, jobs = _jobs_in(spark, "near-dup-build", lambda: [b() for b in builders])
    assert jobs == 0, f"building ran {jobs} Spark jobs"
    alone = [rows(b()) for b in builders]
    assert [rows(df) for df in built] == alone
    assert any(alone[:6]) and any(alone[6:12]) and any(alone[12:])


def test_shingle_jaccard_string_ids_match_integral_ids(spark, docs):
    """The generic-id branch (string ids: JVM pair expansion over a pinned
    cache of the shingle groups) gives the integral-id kernel's result
    under the id mapping. The mapping keeps the ids' order."""
    name = {i: f"doc-{i:03d}" for i in range(5)}
    sdocs = docs.select(F.format_string("doc-%03d", "doc_id").alias("doc_id"), "text")
    for thr in (0.0, 0.4):
        want = {(name[r["id_a"]], name[r["id_b"]], r["jaccard"]) for r in
                shingle_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=thr).collect()}
        got = {tuple(r) for r in
               shingle_jaccard_pairs(sdocs, "doc_id", "text", n=3, threshold=thr).collect()}
        assert got == want and want, thr


def test_banded_pairs_string_ids_match_integral_ids(spark, docs):
    """MinHash and SimHash pairs of string ids equal the long-id pairs
    under an order-preserving id mapping. Spark orders strings by UTF-8
    bytes: U+FFFF sorts before U+1F600 there (and in code points), but
    after it in UTF-16, so a wrong string order would flip id_a/id_b."""
    from go_tfdata_spark.operators.dedup import simhash_near_dups

    name = {0: "a", 1: "a\uffff", 2: "a\U0001F600", 3: "é", 4: "éz"}
    assert [name[i].encode() for i in range(5)] == sorted(name[i].encode() for i in range(5))
    sdocs = docs.join(
        spark.createDataFrame(list(name.items()), "doc_id long, sid string"), "doc_id"
    ).select(F.col("sid").alias("doc_id"), "text")
    runs = [
        lambda d: minhash_near_dups(d, "doc_id", "text", num_hashes=16, bands=8, threshold=0.0),
        lambda d: minhash_near_dups(d, "doc_id", "text", num_hashes=16, bands=8, threshold=0.5),
        lambda d: simhash_near_dups(d, "doc_id", "text", max_hamming=3),
        lambda d: simhash_near_dups(d, "doc_id", "text", bits=64, max_hamming=7),
    ]
    for k, run in enumerate(runs):
        want = sorted((name[a], name[b], s) for a, b, s in run(docs).collect())
        got = sorted(tuple(r) for r in run(sdocs).collect())
        assert got == want and want, k


def test_minhash_near_dups_duplicate_ids_verify_colliding_rows_only(spark):
    """Id 1 sits on two rows: one the same text as doc 2, one unrelated.
    Only the colliding row pair is verified, so at threshold 0 the pair
    (1, 2) appears once, with the estimate of the identical texts; the
    unrelated row of id 1 shares no band with doc 2 and is never compared
    (a join of candidate ids back to the signatures compared every row
    combination of the two ids and emitted the pair twice)."""
    text = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [(1, text), (1, "completely different words entirely unrelated content here now"),
         (2, text)],
        "doc_id long, text string",
    )
    got = [tuple(r) for r in
           minhash_near_dups(df, "doc_id", "text", num_hashes=16, bands=4, threshold=0.0).collect()]
    assert got == [(1, 2, 1.0)]


# Spark jobs one pass of the near-dup operators below runs on the `docs`
# fixture since candidates are verified inside the kernel that pairs them
# (15 in every run; 33-41 when they were verified by self-joins over
# eagerly pinned caches and cluster_dups ran a job per round).
_DOCS_PASS_JOBS = 15


def test_near_dup_pass_job_count(spark, docs):
    """A corpus pass is bound by its Spark job count, not by its kernels
    (one job costs ~0.1 s of fixed work here): one pass of these operators
    must not run more jobs than it did when this bound was set."""
    from go_tfdata_spark.operators.dedup import dedup_by_clusters, simhash_near_dups

    def one_pass():
        pairs = minhash_near_dups(docs, "doc_id", "text", num_hashes=16, bands=8, threshold=0.5)
        pairs.collect()
        simhash_near_dups(docs, "doc_id", "text", max_hamming=3).collect()
        shingle_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.4).collect()
        dedup_by_clusters(docs, pairs, "doc_id").collect()

    _, jobs = _jobs_in(spark, "near-dup-pass", one_pass)
    assert jobs <= _DOCS_PASS_JOBS, f"one pass ran {jobs} Spark jobs"


@pytest.fixture(scope="module")
def vec_rows():
    """300 seeded 64-dim vectors; about one in five is a positively scaled
    copy of an earlier one (half of those with noise added)."""
    import numpy as np

    rng = np.random.default_rng(14)
    v = rng.standard_normal((300, 64))
    for i in range(1, len(v)):
        if rng.random() < 0.2:
            j = int(rng.integers(0, i))
            v[i] = v[j] * rng.uniform(0.1, 10.0)
            if rng.random() < 0.5:
                v[i] += rng.standard_normal(64) * 0.3
    return [(i, [float(x) for x in row]) for i, row in enumerate(v)]


def _lambda_cos(df):
    """{(id_a, id_b): cos} of every pair, by `functions.vectors.cosine_similarity`."""
    from go_tfdata_spark.functions.vectors import cosine_similarity

    a = df.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = df.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    return {(r[0], r[1]): r[2] for r in pairs.select(
        "id_a", "id_b", cosine_similarity(F.col("va"), F.col("vb"))).collect()}


@pytest.mark.parametrize("elem", ["double", "float"])
def test_embedding_kernel_cos_equals_lambda_expression(spark, vec_rows, elem):
    """Both paths score a pair exactly as the JVM cosine expression does
    (float64 ==, no rounding): a left-to-right float64 dot, float vectors
    multiplying in float32. Scaled copies sit at cos 1.0 +- 1 ulp, where a
    different summation order shows."""
    df = spark.createDataFrame(vec_rows, f"vec_id long, v array<{elem}>")
    want = _lambda_cos(df)
    exact = {(r[0], r[1]): r[2] for r in
             embedding_near_dups(df, "vec_id", "v", threshold=-1.0, exact=True).collect()}
    assert exact == want
    for thr in (0.3, 0.9):
        got = {(r[0], r[1]): r[2] for r in
               embedding_near_dups(df, "vec_id", "v", threshold=thr, exact=True).collect()}
        assert got == {k: c for k, c in want.items() if c >= thr}
    lsh = {(r[0], r[1]): r[2] for r in embedding_near_dups(
        df, "vec_id", "v", threshold=0.3, hyperplanes=4, dim=64, tables=2).collect()}
    assert lsh and all(want[k] == c and c >= 0.3 for k, c in lsh.items())
    assert any(c != 1.0 and abs(c - 1.0) < 1e-6 for c in want.values())


def test_embedding_exact_path_extreme_rows_equal_lambda_expression(spark):
    """Rows the BLAS prefilter cannot judge are always rescored: a NaN or
    an infinite element (the JVM scores NaN, and Spark orders NaN above
    every threshold) and norms so small or large that the sequential
    products underflow or overflow. Every pair scores as the JVM
    expression does (NaN compared as NaN)."""
    import numpy as np

    rng = np.random.default_rng(3)
    base = rng.standard_normal((12, 8))
    vecs = [list(base[i]) for i in range(6)]
    vecs += [list(base[i] * s) for i, s in ((0, 1e-160), (1, 1e-160), (0, 1e160), (2, 1e160))]
    vecs += [[float("nan")] + list(base[6][1:]), [float("inf")] + list(base[7][1:])]
    df = spark.createDataFrame([(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
                               "vec_id long, v array<double>")

    def canon(pairs):
        return {k: "nan" if math.isnan(c) else c for k, c in pairs.items()}

    want = canon(_lambda_cos(df))
    assert "nan" in want.values()
    for thr in (-1.0, 0.5):
        got = canon({(r[0], r[1]): r[2] for r in
                     embedding_near_dups(df, "vec_id", "v", threshold=thr, exact=True).collect()})
        assert got == {k: c for k, c in want.items() if c == "nan" or c >= thr}, thr


def test_embedding_lsh_buckets_equal_lambda_expression(spark, vec_rows):
    """The bucket kernel's bucket of every (vector, table) equals the
    bucket expression restated from `hyperplane_matrix` and
    `functions.vectors.dot` (bit j set when dot > 0; Spark orders NaN
    above 0). Rows whose expression is NULL (NULL element, wrong length,
    NULL vector) get no banded row."""
    from go_tfdata_spark.functions.vectors import dot
    from go_tfdata_spark.operators.dedup import _hyperplane_banded, hyperplane_matrix

    extra = [(900, [float("nan")] + [1.0] * 63), (901, [0.0] * 64), (902, [1.0] * 63),
             (903, [None] + [1.0] * 63), (904, None)]
    df = spark.createDataFrame(vec_rows + extra, "vec_id long, v array<double>")
    hp, seed, tables = 6, 11, 3
    want = set()
    for t in range(tables):
        planes = hyperplane_matrix(hp, 64, seed + 101 * t)
        bkt = sum(
            (dot(F.col("v"), F.array(*[F.lit(float(x)) for x in planes[j]])) > 0).cast("int")
            * (2 ** j)
            for j in range(hp)
        )
        want |= {(r[0], t, r[1]) for r in df.select("vec_id", bkt).collect() if r[1] is not None}
    banded = _hyperplane_banded(df, "vec_id", "v", hp, 64, seed, tables)
    got = [(r["id"], r["band"], r["bv"]) for r in banded.collect()]
    assert len(got) == len(set(got)) and set(got) == want
    assert {i for i, _, _ in got} == set(range(len(vec_rows))) | {900, 901}


def test_embedding_near_dups_edge_rows(spark):
    """A NULL vector, a NULL element and a zero vector never pair; a
    length other than `dim` never pairs on the LSH path, and on the exact
    path pairs only with vectors of its own length. Duplicate ids: the
    exact path scores every row pair of two ids; the LSH path only the row
    pairs that share a bucket, each once (the `_banded_pairs` contract):
    id 1's second row is near doc 0 but in another bucket."""
    import numpy as np

    from go_tfdata_spark.operators.dedup import hyperplane_matrix

    near = [1.0, 0.0, 0.0, -0.5]
    planes = hyperplane_matrix(4, 4, 7)
    assert tuple(planes @ np.array(near) > 0) != tuple(planes @ np.array([1.0, 0, 0, 0]) > 0)
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [3.0, 0.0, 0.0, 0.0]),
        (1, near),
        (2, None),
        (3, [1.0, None, 0.0, 0.0]),
        (4, [1.0, 0.0, 0.0]),
        (5, [0.0, 0.0, 0.0, 0.0]),
        (6, [2.0, 0.0, 0.0, 0.0]),
        (7, [2.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    c = 1.0 / math.sqrt(1.25)
    exact = sorted(tuple(r) for r in
                   embedding_near_dups(df, "vec_id", "v", threshold=0.5, exact=True).collect())
    assert exact == sorted([(0, 1, 1.0), (0, 1, c), (0, 6, 1.0), (1, 6, 1.0), (1, 6, c),
                            (4, 7, 1.0)])
    lsh = sorted(tuple(r) for r in embedding_near_dups(
        df, "vec_id", "v", threshold=0.5, hyperplanes=4, dim=4).collect())
    assert lsh == [(0, 1, 1.0), (0, 6, 1.0), (1, 6, 1.0)]


def test_embedding_near_dups_tables_union_of_single_tables(spark, vec_rows):
    """OR-amplification: `tables=3` returns each pair once, and exactly
    the union of the three single-table runs (table t's planes are seeded
    seed + 101 t)."""
    df = spark.createDataFrame(vec_rows, "vec_id long, v array<double>")
    kw = dict(threshold=0.2, hyperplanes=3, dim=64)
    multi = [tuple(r) for r in embedding_near_dups(df, "vec_id", "v", seed=5, tables=3, **kw).collect()]
    union = set()
    singles = []
    for t in range(3):
        single = {tuple(r) for r in
                  embedding_near_dups(df, "vec_id", "v", seed=5 + 101 * t, **kw).collect()}
        singles.append(single)
        union |= single
    assert len(multi) == len(set(multi))
    assert set(multi) == union
    assert all(s < union for s in singles)


def _chained_python_udfs(plan):
    """MapInArrow nodes of a final executed plan that have another
    MapInArrow below them with no exchange in between."""
    bad = []

    def walk(node, above):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan(), above)
        if name.endswith("QueryStageExec"):
            return walk(node.plan(), above)
        if "Exchange" in name:
            above = None
        elif name == "MapInArrowExec":
            if above is not None:
                bad.append(above)
            above = node.toString()
        kids = node.children()
        for k in range(kids.size()):
            walk(kids.apply(k), above)

    walk(plan, None)
    return bad


def test_embedding_near_dups_never_chain_python_udfs(spark, vec_rows):
    """No stage of either path runs a MapInArrow fed, without an exchange,
    by another one: the daemon then forks a second Python worker per task,
    and the summed worker RSS roughly doubles."""
    df = spark.createDataFrame(vec_rows, "vec_id long, v array<double>")
    runs = [
        embedding_near_dups(df, "vec_id", "v", threshold=0.3, exact=True),
        embedding_near_dups(df, "vec_id", "v", threshold=0.3, hyperplanes=4, dim=64),
        embedding_near_dups(df, "vec_id", "v", threshold=0.3, hyperplanes=4, dim=64, tables=3),
    ]
    for out in runs:
        out.collect()
        plan = out._jdf.queryExecution().executedPlan()
        assert "MapInArrow" in plan.toString()
        assert not _chained_python_udfs(plan)
    # the walk does see a chain when there is one
    ident = df.select("vec_id")
    chained = ident.mapInArrow(lambda b: b, ident.schema).mapInArrow(lambda b: b, ident.schema)
    chained.collect()
    assert _chained_python_udfs(chained._jdf.queryExecution().executedPlan())
