"""Fluent pipeline builder — the reference's 5-stage pipeline re-expressed.

Reference lifecycle (SURVEY.md §3.1): `NewPipeline().FromTar(...)
.TransformSamples(...).SampleToTFExample(...).TransformTFExamples(...)
.FilterEmptyTFExamples().ToTFRecord(...).Do()` where every fluent call
stores a closure and `Do()` wires + executes the chain
(tfdata/pipeline/pipeline.go:104-123), with user stages composing
order-preservingly by function wrapping (pipeline.go:139-149,157-169).

Here the same composition law over DataFrame -> DataFrame callables: the
pipeline IS a logical plan; Catalyst collapses the chained projections
(the optimizer the reference lacks, SURVEY.md §4). `run()` is the action.

Stage decorators (README.md:69-86 logging decorator; :97-116 FAAS reader)
map to arbitrary user callables inserted anywhere in the chain.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

Stage = Callable[[DataFrame], DataFrame]


class Pipeline:
    """Composable DataFrame pipeline with a sink.

    Build = cheap closure accumulation; nothing executes until `run()`
    (lazy like the reference, README.md:135-136 — and like DataFrames).
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._source: Callable[[], DataFrame] | None = None
        self._stages: list[Stage] = []
        self._sink: Callable[[DataFrame], object] | None = None

    # --------------------------------------------------------------- source
    def from_df(self, df: DataFrame) -> "Pipeline":
        self._source = lambda: df
        return self

    def from_parquet(self, path: str) -> "Pipeline":
        self._source = lambda: self.spark.read.parquet(path)
        return self

    def from_source(self, fn: Callable[[SparkSession], DataFrame]) -> "Pipeline":
        self._source = lambda: fn(self.spark)
        return self

    # --------------------------------------------------------------- stages
    def transform(self, *stages: Stage) -> "Pipeline":
        """Append transform stages; applied in declared order (the
        composition law of pipeline.go:139-149)."""
        self._stages.extend(stages)
        return self

    # ----------------------------------------------------------------- sink
    def to_sink(self, fn: Callable[[DataFrame], object]) -> "Pipeline":
        self._sink = fn
        return self

    def to_parquet(self, path: str, mode: str = "overwrite") -> "Pipeline":
        self._sink = lambda df: df.write.mode(mode).parquet(path)
        return self

    def to_lake_merge(self, table, key_cols, order_cols, summary=None) -> "Pipeline":
        """Sink: order-conditional MERGE into a LakeTable — per key, the row
        with the greater `order_cols` wins — as a one-epoch chunk of the
        table's copy-on-write fold. Returns the committed Manifest."""
        self._sink = lambda df: table.merge_aligned_fused(
            df.withColumn("_epoch", F.lit(0)),
            epoch_col="_epoch",
            summaries={0: summary or {}},
            key_cols=key_cols,
            order_cols=order_cols,
            affected_by_epoch={0: None},
        )[0]
        return self

    # ------------------------------------------------------------ execution
    def plan(self) -> DataFrame:
        """Wire the chain without executing (the analog of `Do()`'s wiring
        phase, pipeline.go:104-121) — returns the composed DataFrame."""
        if self._source is None:
            raise ValueError("pipeline has no source")
        df = self._source()
        for stage in self._stages:
            df = stage(df)
        return df

    def run(self):
        """Execute: sink-driven, like the reference's pull loop
        (tfrecord.go:107-122). Returns the sink's result, or the DataFrame
        itself if no sink is attached."""
        df = self.plan()
        return self._sink(df) if self._sink is not None else df
