"""Arrow-vectorized pandas-UDF text transforms.

The north rule requires row-level transforms (text normalization, ...) to
run as vectorized Arrow/pandas UDFs — never per-row Python. These mirror
the JVM column expressions in functions/text.py exactly (tests assert
parity); use the JVM versions in hot paths that Catalyst should fuse, and
these when a stage needs Python-side logic (the reference's SampleF user
transform, tfdata/transform/transformation.go:128-142).

Each batch arrives as a pandas Series over Arrow; all operations are
pandas .str vector ops — no Python-level row loop anywhere.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf

from go_tfdata_spark.worker import release_zip_finders


@pandas_udf("string")
def normalize_text_pd(s: pd.Series) -> pd.Series:
    release_zip_finders()
    return s.str.strip().str.lower().str.replace(r"\s+", " ", regex=True)


@pandas_udf("long")
def token_count_pd(s: pd.Series) -> pd.Series:
    release_zip_finders()
    norm = s.str.strip().str.lower().str.replace(r"\s+", " ", regex=True)
    n = norm.str.split(" ").str.len()
    return n.where(norm.str.len() > 0, 0).astype("int64")


def repair_turn_order(df, conv_col: str = "conv_id", order_cols=("ts", "lsn")):
    """Turn-ordering repair: re-derive a stable 0-based turn_idx per
    conversation from the event order (SURVEY.md §2.6). Window-based —
    ordering within a key group is inherently a per-group sort."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy(conv_col).orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn("turn_idx", (F.row_number().over(w) - 1).cast("int"))
