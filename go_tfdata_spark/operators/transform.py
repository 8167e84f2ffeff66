"""Per-record transforms — reference §2.3 (T1-T6).

- chained transforms applied in declared order (T1,
  tfdata/transform/transformer.go:48-83) -> `chain(...)`;
- Rename with later-source-wins (T2, transformation.go:54-76) ->
  `rename_last_wins` via reversed `coalesce`;
- identity (T3, transformation.go:78-84) -> `identity`;
- arbitrary per-record map fn (T4, transformation.go:128-142) ->
  `vectorized` (Arrow-batched mapInPandas; never per-row Python, per
  BASELINE.json input_hint);
- typed cast with open-schema fallback (T5/T6, transformer.go:87-204) ->
  `cast_to_schema`.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from go_tfdata_spark.worker import release_zip_finders


def identity(df: DataFrame) -> DataFrame:
    """T3 — transformation.go:78-84."""
    return df


def chain(*stages: Callable[[DataFrame], DataFrame]) -> Callable[[DataFrame], DataFrame]:
    """T1 — ordered composition (transformer.go:60-62 applies transformations
    in declared order per record; here Catalyst collapses the chain)."""

    def _run(df: DataFrame) -> DataFrame:
        for s in stages:
            df = s(df)
        return df

    return _run


def rename_last_wins(df: DataFrame, dest: str, *srcs: str, keep_srcs: bool = True) -> DataFrame:
    """T2 — Rename{dest, srcs...}: for each src present, copy its value to
    dest; LATER srcs win (transformation.go:58-66). Missing/NULL srcs are
    skipped, so this is coalesce over the reversed src list. The reference
    keeps the original src fields (`keep_srcs=True`)."""
    present = [s for s in srcs if s in df.columns]
    if not present:
        return df
    out = df.withColumn(dest, F.coalesce(*[F.col(s) for s in reversed(present)]))
    return out if keep_srcs else out.drop(*[s for s in present if s != dest])


def vectorized(
    fn: Callable[["pandas.DataFrame"], "pandas.DataFrame"],  # noqa: F821
    schema: T.StructType | str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """T4 — user map function, Arrow-batched (`mapInPandas`): the stage
    receives pandas DataFrame batches, returns transformed batches. If
    `schema` is None the input schema is preserved (pure row-wise update)."""

    def _stage(df: DataFrame) -> DataFrame:
        out_schema = schema if schema is not None else df.schema

        def _map(batches: Iterator["pandas.DataFrame"]) -> Iterator["pandas.DataFrame"]:  # noqa: F821
            release_zip_finders()
            for pdf in batches:
                yield fn(pdf)

        return df.mapInPandas(_map, out_schema)

    return _stage


def _zigzag_varint(b: bytes) -> int:
    """Go binary.ReadVarint: unsigned varint, then zigzag to signed."""
    x = 0
    shift = 0
    for byte in b:
        x |= (byte & 0x7F) << shift
        if not byte & 0x80:
            break
        shift += 7
    return (x >> 1) ^ -(x & 1)


def _binary_decoder(dt: T.DataType):
    """Reference TypesMap byte decodes (transformer.go:148-183): varint
    int64, LE float32 bits, LE int64 / float32 arrays. Returns a column
    transformer or None when the target type has no byte codec.

    Cold-path codec for ingesting reference-style raw byte payloads; runs
    as an Arrow-batched pandas UDF (per-cell decode of an opaque byte blob
    is inherently scalar work — this is not a hot-path operator)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    if isinstance(dt, T.LongType):

        @pandas_udf("long")
        def dec_i64(s: pd.Series) -> pd.Series:
            release_zip_finders()
            return s.map(lambda b: None if b is None else _zigzag_varint(bytes(b)))

        return dec_i64
    if isinstance(dt, T.FloatType):

        @pandas_udf("float")
        def dec_f32(s: pd.Series) -> pd.Series:
            release_zip_finders()
            import struct

            return s.map(
                lambda b: None if b is None else struct.unpack("<f", bytes(b)[:4])[0]
            )

        return dec_f32
    if isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.LongType):

        @pandas_udf("array<long>")
        def dec_i64s(s: pd.Series) -> pd.Series:
            release_zip_finders()
            return s.map(
                lambda b: None
                if b is None
                else np.frombuffer(bytes(b), dtype="<i8").tolist()
            )

        return dec_i64s
    if isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.FloatType):

        @pandas_udf("array<float>")
        def dec_f32s(s: pd.Series) -> pd.Series:
            release_zip_finders()
            return s.map(
                lambda b: None
                if b is None
                else np.frombuffer(bytes(b), dtype="<f4").tolist()
            )

        return dec_f32s
    return None


def cast_to_schema(
    df: DataFrame, target: T.StructType, carry_unknown: bool = True
) -> DataFrame:
    """T5/T6 — typed conversion driven by a declared schema (the TypesMap,
    core/example.go:40-46): declared fields are cast to their target types;
    fields NOT in the schema are either carried unchanged (`carry_unknown`,
    the open-schema bytes-fallback stance of transformer.go:135-142 — the
    caller later promotes them via LakeTable.update_schema) or dropped.

    BINARY source columns with numeric/array targets decode via the
    reference's wire conventions (transformer.go:148-183): zigzag-varint
    int64, little-endian float32 bits, little-endian int64/float32 arrays —
    a plain cast() cannot reinterpret raw bytes."""
    cols = []
    types = {f.name: f.dataType for f in df.schema.fields}
    declared = {f.name: f for f in target.fields}
    for c in df.columns:
        if c in declared:
            want = declared[c].dataType
            if isinstance(types[c], T.BinaryType) and not isinstance(
                want, (T.BinaryType, T.StringType)
            ):
                dec = _binary_decoder(want)
                if dec is not None:
                    cols.append(dec(F.col(c)).cast(want).alias(c))
                    continue
            cols.append(F.col(c).cast(want).alias(c))
        elif carry_unknown:
            cols.append(F.col(c))
    # Declared-but-missing fields surface as typed NULLs (additive tolerance).
    for f in target.fields:
        if f.name not in df.columns:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)
