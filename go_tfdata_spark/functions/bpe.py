"""Byte-pair-encoding token estimation (tokenizer-aware token counts).

Whitespace `token_count` (functions/text.py) undercounts what an LLM
tokenizer produces; training-data budgets are set in BPE tokens. This
module provides a small, fully deterministic BPE stack:

- `bpe_train`: learn a merges table from a corpus (standard BPE: count
  adjacent symbol pairs weighted by word frequency, merge the most
  frequent, repeat; ties break lexicographically so the table is stable
  across runs/platforms).
- `DEFAULT_MERGES`: a checked-in table trained on the embedded seed
  corpus below — no external data, reproducible from this file alone.
- `bpe_encode_word` / `bpe_token_count`: apply merges with EXACTLY these
  semantics: repeatedly merge the LEFTMOST occurrence of the
  LOWEST-RANKED adjacent pair until no adjacent pair is in the table.
  (One occurrence per step — the same reduction order the DuckDB oracle's
  recursive CTE states, so Spark and the oracle agree symbol-for-symbol.)

Execution shape: counting is a vectorized pandas UDF (Arrow batches, no
per-row Python at the plan level) with a per-batch word memo — corpus
token counting is dominated by repeated words, so each distinct word is
encoded once per batch. The merges table rides into executors inside the
UDF closure (a few KB), never a join.

Reference analog: the per-sample typed transform surface
(tfdata/transform/sample.go) — a pure function of one row's text, mapped
over the corpus.
"""

from __future__ import annotations

import re
from collections import Counter

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from go_tfdata_spark.worker import release_zip_finders

# Deterministic seed corpus for DEFAULT_MERGES (plain ASCII on purpose:
# normalization and char splitting then agree byte-for-byte across Python,
# Catalyst, and DuckDB).
SEED_CORPUS = """
the quick brown fox jumps over the lazy dog while the rain in spain
falls mainly on the plain and the data pipeline keeps streaming change
events into the lake table where the merge applies the latest writer
wins resolution for every conversation turn and the watermark advances
as the epochs commit exactly once with lineage recorded per partition
the tokens in this corpus teach the byte pair encoder common english
fragments like ing and tion and er and th so that counting tokens over
documents approximates what a real language model tokenizer would report
for quality scoring and training budget estimation at terabyte scale
"""


def _words(text: str) -> list[str]:
    """Whitespace words of normalized text (mirror of text.normalize_text:
    lower, trim, collapse whitespace)."""
    return re.sub(r"\s+", " ", text.strip().lower()).split(" ") if text.strip() else []


def bpe_train(corpus: str = SEED_CORPUS, num_merges: int = 200) -> list[tuple[str, str]]:
    """Learn `num_merges` merges. Deterministic: pair frequency desc, then
    lexicographic pair order; merging rewrites all occurrences."""
    vocab = Counter(tuple(w) for w in _words(corpus) if w)
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs: Counter = Counter()
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += n
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pairs[best] < 2:
            break  # singleton pairs memorize words, not fragments
        merges.append(best)
        a, b = best
        new_vocab: Counter = Counter()
        for syms, n in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] += n
        vocab = new_vocab
    return merges


DEFAULT_MERGES = bpe_train()


def bpe_encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Leftmost-lowest-rank reduction (see module docstring)."""
    syms = list(word)
    while len(syms) > 1:
        cand = [
            (ranks[(syms[i], syms[i + 1])], i)
            for i in range(len(syms) - 1)
            if (syms[i], syms[i + 1]) in ranks
        ]
        if not cand:
            break
        _, i = min(cand)
        syms[i : i + 2] = [syms[i] + syms[i + 1]]
    return syms


def bpe_token_count(
    text: Column, merges: list[tuple[str, str]] | None = None
) -> Column:
    """Column expression: BPE token count of `text` under `merges`
    (default: the checked-in table). Blank/empty text counts 0."""
    ranks = {p: r for r, p in enumerate(merges if merges is not None else DEFAULT_MERGES)}

    @F.pandas_udf(T.LongType())
    def _count(s: pd.Series) -> pd.Series:
        release_zip_finders()
        memo: dict[str, int] = {}

        def one(t) -> int:
            if t is None:
                return 0
            total = 0
            for w in _words(t):
                if not w:
                    continue
                n = memo.get(w)
                if n is None:
                    n = memo[w] = len(bpe_encode_word(w, ranks))
                total += n
            return total

        return s.map(one).astype("int64")

    return _count(text)


def merges_values_sql(merges: list[tuple[str, str]] | None = None) -> str:
    """The merges table as a SQL VALUES list `(rank, a, b)` — the oracle
    inlines the exact table the UDF closure carries."""
    ms = merges if merges is not None else DEFAULT_MERGES
    esc = lambda s: s.replace("'", "''")  # noqa: E731
    return ", ".join(f"({r}, '{esc(a)}', '{esc(b)}')" for r, (a, b) in enumerate(ms))
