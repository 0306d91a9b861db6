"""Distributed BPE tokenizer training + encoding (the Sennrich-et-al
byte-pair-encoding algorithm, the canonical way training corpora get their
tokenizer) — Spark-first:

- the 100-TB step is the WORD-FREQUENCY aggregation: one groupBy over the
  corpus collapses it to the (word, freq) vocabulary every real BPE
  trainer actually consumes;
- training iterations then run on the vocabulary table IN SPARK (it is
  Zipf-bounded but still cluster-sized for multilingual web text): each
  merge round is one pair-count aggregation (explode adjacent symbol
  pairs weighted by word freq), one 1-row bounded collect for the argmax
  pair (deterministic tie-break: count desc, then lexicographic), and one
  JVM fold that rewrites every word's symbol array. Rounds run in
  functions/iterate's eager mode: the argmax read is each round's stop
  test;
- ENCODING is a vectorized Arrow-batched pandas UDF (mapInPandas-style
  iterator) applying the trained merge ranks with the standard
  priority-merge loop — per-word Python over short symbol lists inside an
  Arrow batch is the textbook justified-UDF case (tokenization), never
  row-at-a-time plan-side Python.

No DuckDB oracle exists for the training loop (iterative argmax is not a
single SQL query) — the registry rows are rows-only by design and the
semantics are pinned against an independent pure-Python reference BPE in
tests/test_bpe.py.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_spark.functions.iterate import cached, iterate


def word_freq_table(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(word, freq): the corpus collapsed to its vocabulary — the one
    full-corpus shuffle of BPE training. Lowercased, whitespace-split."""
    return (
        docs.select(
            F.explode(
                F.expr(
                    f"filter(split(lower({text_col}), ' '), x -> x != '')"
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _merge_pair_expr(syms, left: str, right: str):
    """JVM fold rewriting one symbol array: every adjacent (left, right)
    becomes the merged token, left-to-right, non-overlapping."""
    la, lb, lm = F.lit(left), F.lit(right), F.lit(left + right)
    init = F.struct(
        F.lit([]).cast("array<string>").alias("acc"),
        F.lit(False).alias("skip"),
    )

    def step(st, i):
        cur = F.element_at(syms, i)
        nxt = F.try_element_at(syms, i + F.lit(1))
        take_pair = (
            (~st.skip) & (cur == la) & nxt.isNotNull() & (nxt == lb)
        )
        return (
            F.when(
                st.skip,
                F.struct(st.acc.alias("acc"), F.lit(False).alias("skip")),
            )
            .when(
                take_pair,
                F.struct(
                    F.concat(st.acc, F.array(lm)).alias("acc"),
                    F.lit(True).alias("skip"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(st.acc, F.array(cur)).alias("acc"),
                    F.lit(False).alias("skip"),
                )
            )
        )

    return F.aggregate(
        F.sequence(F.lit(1), F.size(syms)), init, step, lambda st: st.acc
    )


def bpe_train(
    docs: DataFrame, n_merges: int = 16, text_col: str = "text"
) -> list[tuple[str, str, int]]:
    """Train ``n_merges`` BPE merges on the corpus; returns the ranked
    merge list [(left, right, pair_freq_at_merge)]. Deterministic: the
    argmax pair tie-breaks lexicographically, and every count is exact
    integer arithmetic over the word-frequency table."""
    words = word_freq_table(docs, text_col).select(
        "word", "freq",
        F.expr("transform(split(word, ''), c -> c)").alias("syms"),
    )
    # Spark's split(word, '') yields no empty trailing element in 4.x;
    # normalize defensively so a regression can't inject '' symbols
    words = words.select(
        "word", "freq",
        F.expr("filter(syms, c -> c != '')").alias("syms"),
    )
    merges: list[tuple[str, str, int]] = []

    def best_pair(w: DataFrame) -> tuple[str, str, int] | None:
        best = (
            w.filter(F.size("syms") >= 2)
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " i -> named_struct("
                        "'l', element_at(syms, i),"
                        " 'r', element_at(syms, i + 1)))"
                    )
                ).alias("pr"),
            )
            .groupBy("pr.l", "pr.r")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not best or best[0]["cnt"] < 2:
            return None
        return best[0]["l"], best[0]["r"], int(best[0]["cnt"])

    def merge(w: DataFrame) -> DataFrame:
        left, right, _ = merges[-1]
        return w.select(
            "word", "freq",
            _merge_pair_expr(F.col("syms"), left, right).alias("syms"),
        )

    def exhausted(prev: DataFrame, new: DataFrame) -> bool:
        nxt = best_pair(new)
        if nxt is not None:
            merges.append(nxt)
        return nxt is None

    with cached(words):
        first = best_pair(words) if n_merges > 0 else None
        if first is not None:
            merges.append(first)
            iterate(merge, words, n_merges - 1, until=exhausted)
    return merges


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Standard BPE encode: repeatedly merge the best-ranked adjacent pair."""
    syms = list(word)
    while len(syms) >= 2:
        best_i, best_rank = -1, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_i, best_rank = i, r
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_words, n_tokens, tokens_sample): encode every doc with the
    trained merges via an Arrow-batched iterator UDF (see module
    docstring). tokens_sample = the first 8 tokens, for inspection."""
    from pyspark.sql.functions import pandas_udf

    ranks = {(l, r): i for i, (l, r, _) in enumerate(merges)}

    @pandas_udf("struct<n_words: bigint, n_tokens: bigint,"
                " tokens_sample: array<string>>")
    def enc(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # yields pd.DataFrame per batch — the runtime shape for a
        # struct-typed SCALAR_ITER pandas UDF (the hint stays pd.Series:
        # pyspark's type-hint inference rejects Iterator[pd.DataFrame])
        for texts in it:
            n_words, n_tokens, samples = [], [], []
            for t in texts:
                ws = [w for w in (t or "").lower().split(" ") if w]
                toks: list[str] = []
                for w in ws:
                    toks.extend(_encode_word(w, ranks))
                n_words.append(len(ws))
                n_tokens.append(len(toks))
                samples.append(toks[:8])
            yield pd.DataFrame(
                {
                    "n_words": n_words,
                    "n_tokens": n_tokens,
                    "tokens_sample": samples,
                }
            )

    return docs.select(
        F.col(id_col), enc(F.col(text_col)).alias("e")
    ).select(
        id_col,
        F.col("e.n_words").alias("n_words"),
        F.col("e.n_tokens").alias("n_tokens"),
        F.col("e.tokens_sample").alias("tokens_sample"),
    )
