"""Helpers of the query contract module `__spark_entry__.py`."""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entry

_SF_DIRS = [f"/root/testdata/{sf}" for sf in ("sf0.001", "sf0.01", "sf0.1")]


def _check_declared_schemas(spark, sf_dir, names):
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        assert entry._t(spark, sf_dir, name).schema == spark.read.parquet(path).schema, (sf_dir, name)


@pytest.mark.parametrize("sf_dir", _SF_DIRS)
def test_declared_schemas_equal_inferred(spark, sf_dir):
    """`_t` reads every contract table with a declared schema (no
    schema-inference job while a query is built); each must be exactly
    what Spark infers from the files."""
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} is absent")
    names = sorted(f[: -len(".parquet")] for f in os.listdir(sf_dir) if f.endswith(".parquet"))
    assert names == sorted(entry._SCHEMAS)
    _check_declared_schemas(spark, sf_dir, names)


def test_declared_schemas_equal_benchmark_corpus(spark, tmp_path):
    """The benchmark corpus (documents and embeddings written by
    `cdcbench.inputs.write_corpus`) reads with the same declared schemas,
    and building a lazy query over it runs no Spark job (the ones that
    label clusters or fetch a query vector run theirs by design)."""
    from cdcbench.inputs import write_corpus

    write_corpus(str(tmp_path), 3, 40, 20)
    _check_declared_schemas(spark, str(tmp_path), ["documents", "embeddings"])
    sc = spark.sparkContext
    sc.setJobGroup("entry-build", "entry-build")
    try:
        for q in ("shingle_jaccard", "minhash_near_dups", "simhash", "simhash_near_dups",
                  "embedding_near_dups", "embedding_near_dups_lsh"):
            entry.queries()[q](spark, str(tmp_path))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup("entry-build")) == 0
