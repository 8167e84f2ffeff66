"""Reference results computed with DuckDB, outside every timed region.

The table oracle is the global last-writer-wins fold of the raw change logs
under (ts, lsn, src_part), tombstones retained as winners and dropped from
the visible state. Both engines reduce a state to (row count, two 32-bit
md5 sums) over the same canonical row string, so large states compare
without collecting them into the benchmark process.
"""

from __future__ import annotations

import duckdb
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_STATE_COLS = ("conv_id", "turn_idx", "role", "text", "tool")
_SEP = "\x1f"
_CORPUS_TABLES = ("documents", "embeddings")


def spark_digest(df: DataFrame) -> tuple[int, int, int]:
    """Digest of a `read_table` result (conv_id, turn_idx, role, text, tool, ts)."""
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("\\N")) for c in _STATE_COLS]
    parts.append(F.unix_micros("ts").cast("string"))
    h = F.md5(F.concat_ws(_SEP, *parts))
    r = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.conv(F.substring(h, 1, 8), 16, 10).cast("long")).alias("a"),
        F.sum(F.conv(F.substring(h, 9, 8), 16, 10).cast("long")).alias("b"),
    ).first()
    return int(r["n"]), int(r["a"] or 0), int(r["b"] or 0)


def log_digest(log_dir: str) -> tuple[int, int, int]:
    """Digest of the LWW fold of a parquet change log, in the form of
    `spark_digest`."""
    parts = ", ".join(f"coalesce(CAST({c} AS VARCHAR), '\\N')" for c in _STATE_COLS)
    row = f"md5(concat_ws(chr(31), {parts}, CAST(epoch_us(ts) AS VARCHAR)))"
    con = duckdb.connect()
    try:
        n, a, b = con.sql(f"""
            SELECT count(*),
                   sum(CAST(('0x' || substr(h, 1, 8)) AS BIGINT)),
                   sum(CAST(('0x' || substr(h, 9, 8)) AS BIGINT))
            FROM (
              SELECT {row} AS h, op, row_number() OVER (
                PARTITION BY conv_id, turn_idx
                ORDER BY ts DESC, lsn DESC, src_part DESC) AS rn
              FROM read_parquet('{log_dir}/*/*.parquet', hive_partitioning = true))
            WHERE rn = 1 AND op <> 'D'
        """).fetchone()
    finally:
        con.close()
    return int(n), int(a or 0), int(b or 0)


def corpus_expected(corpus_dir: str, sql: dict[str, str],
                    rowset) -> dict[str, tuple[list[str], list[str]]]:
    """Each query's `oracle_sql()` restatement over the corpus, as the
    sorted column names and `rowset` of its result."""
    con = duckdb.connect()
    try:
        for t in _CORPUS_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")
        out = {}
        for name, q in sql.items():
            res = con.sql(q)
            cols = list(res.columns)
            out[name] = (sorted(cols), rowset(cols, res.fetchall()))
    finally:
        con.close()
    return out
