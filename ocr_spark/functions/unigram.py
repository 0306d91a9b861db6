"""Distributed unigram-LM tokenizer training + encoding — the OTHER
canonical LLM tokenizer next to BPE (Kudo 2018's SentencePiece unigram
model), in its deterministic Viterbi-EM ("hard EM") variant:

- like BPE, the 100-TB step is the ONE corpus shuffle collapsing text to
  the (word, freq) vocabulary table (``bpe.word_freq_table`` is reused —
  the two trainers consume the identical relation);
- the SEED vocabulary is every substring of length 1..max_piece_len of
  every word, weighted by word freq — built as a JVM nested-transform
  explode + one aggregation, with the multi-char tail cut to the top
  ``seed_size`` pieces via TakeOrdered (a bounded collect; single chars
  are all kept so segmentation coverage is total by construction);
- each EM round: piece log-probs are add-one-smoothed counts
  (ln((c+1)/(total+V)) — floats appear ONLY inside per-word Viterbi,
  never in any cross-partition accumulation, so partitioning cannot move
  a bit), the E-step Viterbi-segments the (word, freq) table in an
  Arrow-batched iterator UDF (the justified-UDF case: per-word DP over
  short strings), and the M-step is one distributed explode + groupBy
  sum re-counting piece uses weighted by word freq, collected back
  bounded by |vocab| rows (the same bounded-collect discipline as BPE's
  per-merge argmax);
- PRUNING keeps the top ``vocab_size`` pieces by (count desc, piece asc)
  plus every single char — the final vocab is a deterministic pure
  function of the corpus;
- ENCODING Viterbi-segments documents under the trained vocab in the
  same Arrow-batched UDF shape.

Viterbi tie-breaks are part of the spec (scores can tie exactly when
counts coincide): maximize total log-prob; then FEWER pieces; then the
lexicographically smallest piece tuple. Unknown characters (absent from
the training alphabet) segment as single-char pieces at a fixed penalty
below any real piece (``ln(1/(total+V)) - 10``).

No DuckDB oracle exists for the training loop (iterative EM is not one
SQL query) — the registry rows are rows-only by design, pinned against
an independent pure-Python reference in tests/test_unigram.py (the BPE
discipline).
"""

from __future__ import annotations

import math
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_spark.functions.bpe import word_freq_table
from ocr_spark.functions.iterate import cached

MAX_PIECE_LEN = 6
SEED_SIZE = 384
VOCAB_SIZE = 256
EM_ITERS = 2


def _substr_expr(max_len: int) -> str:
    """All substrings of length 1..max_len of ``word`` (JVM HOFs)."""
    return (
        "flatten(transform(sequence(1, length(word)), i -> "
        f"transform(sequence(1, least({max_len}, length(word) - i + 1)), "
        "l -> substring(word, i, l))))"
    )


def _better(a: tuple, b: tuple) -> bool:
    """Viterbi candidate order: (score, -n_pieces) maximized, then the
    lexicographically smallest piece tuple wins."""
    if a[0] != b[0]:
        return a[0] > b[0]
    if a[1] != b[1]:
        return a[1] > b[1]
    return a[2] < b[2]


def viterbi_segment(
    word: str, logp: dict[str, float], max_len: int, unk_logp: float
) -> tuple[str, ...]:
    """Best segmentation of ``word`` under piece log-probs (spec tie-break
    order in the module docstring). Single unknown chars cost
    ``unk_logp``, so coverage is total for any input."""
    n = len(word)
    best: list[tuple | None] = [None] * (n + 1)
    best[0] = (0.0, 0, ())
    for i in range(1, n + 1):
        cand: tuple | None = None
        for ln in range(1, min(max_len, i) + 1):
            piece = word[i - ln : i]
            prev = best[i - ln]
            if prev is None:
                continue
            lp = logp.get(piece)
            if lp is None:
                if ln > 1:
                    continue
                lp = unk_logp
            c = (prev[0] + lp, prev[1] - 1, prev[2] + (piece,))
            if cand is None or _better(c, cand):
                cand = c
        best[i] = cand
    assert best[n] is not None  # single-char fallback guarantees a path
    return best[n][2]


def _logp_of(counts: dict[str, int]) -> tuple[dict[str, float], float]:
    total = sum(counts.values())
    v = len(counts)
    logp = {
        p: math.log((c + 1) / (total + v)) for p, c in counts.items()
    }
    return logp, math.log(1 / (total + v)) - 10.0


def _piece_counts(
    wf: DataFrame, counts: dict[str, int], max_len: int
) -> dict[str, int]:
    """E+M step: Viterbi-segment every (word, freq) row under ``counts``,
    re-count piece uses weighted by freq — the UDF emits (piece, freq)
    rows, Spark aggregates them, and only |vocab| rows come back."""
    logp, unk = _logp_of(counts)
    spark = wf.sparkSession
    b = spark.sparkContext.broadcast((logp, unk, max_len))

    def seg(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lp, u, ml = b.value
        for pdf in it:
            pieces: list[str] = []
            freqs: list[int] = []
            for word, fr in zip(pdf["word"], pdf["freq"]):
                for p in viterbi_segment(word, lp, ml, u):
                    pieces.append(p)
                    freqs.append(int(fr))
            yield pd.DataFrame({"piece": pieces, "freq": freqs})

    out = (
        wf.mapInPandas(seg, "piece string, freq long")
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
        .collect()
    )
    return {r["piece"]: r["cnt"] for r in out}


def unigram_train(
    docs: DataFrame,
    vocab_size: int = VOCAB_SIZE,
    seed_size: int = SEED_SIZE,
    em_iters: int = EM_ITERS,
    max_piece_len: int = MAX_PIECE_LEN,
    text_col: str = "text",
) -> list[tuple[str, int]]:
    """Train the unigram vocab → sorted [(piece, count)] where count is
    the final EM round's Viterbi use count weighted by word freq. A
    multi-char piece that no word's best segmentation used in a round
    drops out of the vocabulary then and there (the hard-EM analogue of
    SentencePiece's likelihood-loss pruning); single chars always
    survive so coverage stays total. Deterministic: integer counts,
    spec'd tie-breaks, no cross-partition float accumulation."""
    # Not iterate(): the EM state is a Python dict of piece counts, not a
    # frame; each round is one collect over the cached vocabulary.
    with cached(word_freq_table(docs, text_col)) as wf:
        wf.count()
        subs = (
            wf.select(
                F.explode(F.expr(_substr_expr(max_piece_len))).alias(
                    "piece"
                ),
                "freq",
            )
            .groupBy("piece")
            .agg(F.sum("freq").alias("cnt"))
        )
        chars = subs.filter(F.length("piece") == 1).collect()
        multi = (
            subs.filter(F.length("piece") > 1)
            .orderBy(F.desc("cnt"), "piece")
            .limit(seed_size)
            .collect()
        )
        counts = {r["piece"]: r["cnt"] for r in chars}
        counts.update({r["piece"]: r["cnt"] for r in multi})
        for _ in range(em_iters):
            new = _piece_counts(wf, counts, max_piece_len)
            # single chars always survive (coverage); unused ones at 0
            nxt = {p: 0 for p in counts if len(p) == 1}
            nxt.update(new)
            counts = nxt
    # prune: top vocab_size by (count desc, piece asc) + all chars
    keep = sorted(
        ((-c, p) for p, c in counts.items() if len(p) > 1)
    )[:vocab_size]
    final = {p: -negc for negc, p in keep}
    final.update({p: c for p, c in counts.items() if len(p) == 1})
    return sorted(final.items())


def unigram_encode(
    docs: DataFrame,
    vocab: list[tuple[str, int]],
    max_piece_len: int = MAX_PIECE_LEN,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode documents under a trained vocab → (doc_id, n_words,
    n_tokens): lowercase whitespace words, Viterbi per word, Arrow
    batches end-to-end."""
    counts = dict(vocab)
    logp, unk = _logp_of(counts)
    spark = docs.sparkSession
    b = spark.sparkContext.broadcast((logp, unk, max_piece_len))
    src = docs.select(id_col, F.lower(F.col(text_col)).alias("text"))

    def enc(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lp, u, ml = b.value
        for pdf in it:
            ids, nw, nt = [], [], []
            for did, txt in zip(pdf[id_col], pdf["text"]):
                words = [w for w in (txt or "").split(" ") if w]
                toks = 0
                for w in words:
                    toks += len(viterbi_segment(w, lp, ml, u))
                ids.append(did)
                nw.append(len(words))
                nt.append(toks)
            yield pd.DataFrame(
                {id_col: ids, "n_words": nw, "n_tokens": nt}
            )

    return src.mapInPandas(
        enc, f"{id_col} long, n_words long, n_tokens long"
    )
