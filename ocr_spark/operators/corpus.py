"""Integrated corpus-preparation funnel: the stage chain a training-data
run applies AFTER extraction — quality filter, exact dedup, near dedup,
benchmark-contamination screen, stratified sampling — as composable
DataFrame functions plus a one-plan funnel report.

Every stage is a declarative plan over the previous stage's survivors, so
the whole funnel is one lazy DAG; `scripts/corpus_job.py` persists the two
recomputation points (pre-minhash, pre-contamination) and writes the kept
corpus, while the driver registry exposes the same chain as the
`pipe_quality_filter` / `pipe_funnel` oracle queries (queries_pipeline.py).

Scale notes: the quality stats shuffle on (doc_id, word) then doc_id —
high-cardinality, skew-bounded by document length (the pipe_repetition
shape); exact dedup is one window over md5(text); near dedup is the linear
star-pass of queries_textml.minhash_group_reps; the contamination screen
broadcasts the (kilobytes-scale) eval n-gram set so the corpus side is
never shuffled for the join; sampling is a map-only md5-threshold filter.
All thresholds are integer-arithmetic comparisons of exact counts, so the
keep/drop decisions are bit-identical across engines, partition counts and
retries.
"""

from __future__ import annotations

import dataclasses as _dataclasses

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ocr_spark.queries_textml import (
    _SHINGLES_SPARK,
    _WORDS_SPARK,
    BANDS,
    NUM_PERMS,
    minhash_group_reps,
)

# Gopher-style quality flags. Each is an integer-exact predicate over the
# per-doc word stats (no float thresholds — `5*max_c > n_words` is exactly
# "top word > 20% of tokens" without an IEEE divide in the decision path).
FLAG_SHORT = 1  # n_words < min_words
FLAG_REPETITIVE = 2  # top-word fraction > top_num/top_den
FLAG_LOW_DIVERSITY = 4  # distinct-word fraction < div_num/div_den
FLAG_WORD_LEN = 8  # mean word length outside [wl_lo, wl_hi] ratios
MIN_WORDS = 20


@_dataclasses.dataclass(frozen=True)
class QualityThresholds:
    """Integer-ratio thresholds — every predicate is exact integer
    arithmetic, so decisions are bit-identical across engines. The defaults
    fit the driver's synthetic `documents` table (measured sf0.01
    distributions; the oracle constants in queries_pipeline._QFLAGS_SQL
    mirror them); corpus-specific fits go through scripts/corpus_job.py's
    WEB_THRESHOLDS. Semantics:

    - short:     n_words < min_words
    - repetitive: max_c/n_words > top_num/top_den
    - low diversity: n_distinct/n_words < div_num/div_den
    - word length: total_chars/n_words outside
      [wl_lo_num/wl_lo_den, wl_hi_num/wl_hi_den]
    """

    min_words: int = MIN_WORDS
    top_num: int = 1
    top_den: int = 5
    div_num: int = 3
    div_den: int = 10
    wl_lo_num: int = 101
    wl_lo_den: int = 25
    wl_hi_num: int = 26
    wl_hi_den: int = 5


DOC_THRESHOLDS = QualityThresholds()
# extracted web prose is stopword-heavy (mean word length ~3.3 on the
# synthetic crawl, vs ~4.5 on the driver documents table) — measured fits
# for the extraction-fed corpus job:
WEB_THRESHOLDS = QualityThresholds(
    top_num=1, top_den=3, div_num=1, div_den=10,
    wl_lo_num=3, wl_lo_den=1, wl_hi_num=6, wl_hi_den=1,
)


def word_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc word statistics: (id, n_words, n_distinct, max_c,
    total_chars). Docs with zero words produce no row (explode of an empty
    array) — callers left-join and treat the absence as an empty doc."""
    words = docs.select(
        F.col(id_col),
        F.explode(F.expr(_WORDS_SPARK.format(col=text_col))).alias("w"),
    )
    uc = words.groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("c"))
    return uc.groupBy(id_col).agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("max_c"),
        F.sum(F.col("c") * F.length("w")).alias("total_chars"),
    )


def quality_flags(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    th: QualityThresholds = DOC_THRESHOLDS,
) -> DataFrame:
    """Input docs + (n_words, flags, q_keep). flags is the OR of the FLAG_*
    bits above; q_keep <=> flags == 0. Empty docs get FLAG_SHORT."""
    st = word_stats(docs, text_col, id_col)
    j = docs.join(st, id_col, "left")
    nw = F.coalesce(F.col("n_words"), F.lit(0))
    nd = F.coalesce(F.col("n_distinct"), F.lit(0))
    mc = F.coalesce(F.col("max_c"), F.lit(0))
    tc = F.coalesce(F.col("total_chars"), F.lit(0))
    flags = (
        F.when(nw < th.min_words, F.lit(FLAG_SHORT)).otherwise(F.lit(0))
        + F.when(
            th.top_den * mc > th.top_num * nw, F.lit(FLAG_REPETITIVE)
        ).otherwise(F.lit(0))
        + F.when(
            th.div_den * nd < th.div_num * nw, F.lit(FLAG_LOW_DIVERSITY)
        ).otherwise(F.lit(0))
        + F.when(
            (th.wl_lo_den * tc < th.wl_lo_num * nw)
            | (th.wl_hi_den * tc > th.wl_hi_num * nw),
            F.lit(FLAG_WORD_LEN),
        ).otherwise(F.lit(0))
    )
    return j.select(
        *[F.col(c) for c in docs.columns],
        nw.alias("n_words"),
        flags.cast("int").alias("flags"),
        (flags == 0).alias("q_keep"),
    )


def exact_keepers(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Drop exact duplicates: keep the minimum-id doc per md5(text). One
    window shuffle keyed on the content hash (high-cardinality; a true dup
    cluster of any size lands in one partition but the window only ranks,
    never materializes the cluster)."""
    w = Window.partitionBy(F.md5(F.col(text_col).cast("binary"))).orderBy(
        id_col
    )
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# RefinedWeb-style host gate: a host whose MEAN per-doc quality is below the
# gate drops wholesale (spam farms are host-shaped). Quality = per-doc
# stopword density quantized e4 BEFORE the per-host integer mean, so the
# keep/drop decision is bit-exact across engines and partitionings.
# (queries_webgraph.pipe_host_filter is the driver-graded face of this.)
HOST_Q_GATE_E4 = 360


def host_keepers(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    group_col: str = "source",
    gate_e4: int = HOST_Q_GATE_E4,
) -> DataFrame:
    """Drop every document of a below-gate host. One aggregation Exchange
    on the host key plus a join back on the same key (Exchange reused);
    the host table is linear in distinct hosts."""
    from ocr_spark.queries import _LANG_CASE_SPARK

    words = f"filter(split({text_col}, ' '), x -> x != '')"
    # _LANG_CASE_SPARK references the column literally as `lang`; project
    # an alias rather than string-rewriting the expression
    d = docs
    if lang_col != "lang":
        d = d.withColumn("lang", F.col(lang_col))
    d = d.withColumn("_stops", F.expr(_LANG_CASE_SPARK))
    if lang_col != "lang":
        d = d.drop("lang")
    d = d.withColumn(
        "_d_e4",
        F.expr(
            f"CAST(floor(size(filter({words},"
            f" w -> array_contains(_stops, lower(w)))) * 1e4"
            f" / size({words})) AS BIGINT)"
        ),
    )
    gate = d.groupBy(group_col).agg(
        F.expr("CAST(sum(_d_e4) div count(*) AS BIGINT)").alias("_host_q_e4")
    )
    return (
        d.join(gate, group_col)
        .filter(F.col("_host_q_e4") >= gate_e4)
        .drop("_stops", "_d_e4", "_host_q_e4")
    )


def drop_common_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str | None = None,
    max_df: int = 3,
    min_line_chars: int = 4,
) -> DataFrame:
    """CCNet/RefinedWeb line-level boilerplate removal: a LINE that appears
    in >= max_df distinct documents (within ``group_col`` — usually the host
    — or corpus-wide when None) is boilerplate (cookie banner, nav bar,
    share-button text) and is removed; each document is reassembled in
    original line order. Lines shorter than ``min_line_chars`` are kept
    unconditionally — tiny fragments ('', '-', '1') collide by accident, not
    by template.

    Returns one row per input doc: (id_col, <text_col> rewritten,
    n_lines, n_dropped). Shape: explode to (group, line) -> one
    count-distinct shuffle for document frequency -> join back on the same
    key (the Exchange is reused) -> one groupBy id to reassemble. State is
    the line-frequency table, linear in the corpus; nothing quadratic. The
    driver-graded fixed-word-window variant over the newline-free documents
    table is queries_webgraph.dedup_lines_boiler.
    """
    gcol = F.col(group_col) if group_col else F.lit("")
    lines = docs.select(
        F.col(id_col).alias("_id"),
        gcol.alias("_g"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_line"),
    )
    freq = (
        lines.filter(F.length("_line") >= min_line_chars)
        .groupBy("_g", "_line")
        .agg(F.countDistinct("_id").alias("_df"))
    )
    j = lines.join(freq, ["_g", "_line"], "left").withColumn(
        "_drop",
        (F.col("_df").isNotNull()) & (F.col("_df") >= max_df),
    )
    # array_sort on (_pos, ...) structs restores line order after the
    # unordered collect_list; _pos is unique per doc so the order is total
    return j.groupBy("_id").agg(
        F.expr(
            "array_join(transform(filter(array_sort(collect_list("
            "struct(_pos, _drop, _line))), x -> NOT x._drop),"
            " x -> x._line), '\\n')"
        ).alias(text_col),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.coalesce(F.sum(F.when(F.col("_drop"), 1)), F.lit(0))
        .cast("bigint").alias("n_dropped"),
    ).withColumnRenamed("_id", id_col)


def near_keepers(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perms: int = NUM_PERMS,
    bands: int = BANDS,
    full_cc: bool = False,
) -> DataFrame:
    """Drop near-duplicates: keep a doc iff it is its own cluster
    representative. Docs with < 3 words have no signature — they survive
    this stage (the quality filter is the stage that judges short docs).

    ``full_cc=False`` (default): single MinHash-LSH star pass (linear
    output, one fixed round — may under-merge bucket chains A~B~C).
    ``full_cc=True``: min-label propagation to a FIXPOINT over the
    doc–bucket graph (functions/graph.bucket_connected_components) — true
    connected components, a few extra linear rounds. The default stays the
    star pass so the oracle-pinned funnel queries keep one deterministic
    plan; production jobs opt in per run.

    EAGER under ``full_cc=True``: unlike every other funnel stage, the
    fixpoint runs Spark jobs at DataFrame-CONSTRUCTION time (one count per
    propagation round, to detect convergence) and returns a frame joined
    against the materialized labels — callers composing or timing stages
    must not assume the usual lazy-DAG contract for this stage."""
    if full_cc:
        from ocr_spark.functions.graph import bucket_connected_components
        from ocr_spark.queries_textml import (
            minhash_band_keys,
            minhash_signatures,
        )

        sig = minhash_signatures(
            docs.select(F.col(id_col).alias("doc_id"), F.col(text_col)),
            text_col=text_col,
            num_perms=num_perms,
        )
        reps = bucket_connected_components(
            minhash_band_keys(sig, bands, num_perms // bands)
        ).withColumnRenamed("doc_id", id_col)
        j = docs.join(reps, id_col, "left")
        return j.filter(
            F.col("rep").isNull() | (F.col("rep") == F.col(id_col))
        ).drop("rep")
    reps = minhash_group_reps(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col)),
        text_col=text_col,
        num_perms=num_perms,
        bands=bands,
    ).withColumnRenamed("doc_id", id_col)
    j = docs.join(reps, id_col, "left")
    return j.filter(
        F.col("rep").isNull() | (F.col("rep") == F.col(id_col))
    ).drop("rep")


def eval_ngram_set(
    eval_docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Distinct md5 hashes of the eval split's word 3-grams — the
    (kilobytes-scale) set the contamination screen broadcasts."""
    return (
        eval_docs.select(
            F.expr(_WORDS_SPARK.format(col=text_col)).alias("w")
        )
        .select(F.explode(F.expr(_SHINGLES_SPARK)).alias("sh"))
        .select(F.md5("sh").alias("h"))
        .distinct()
    )


def clean_of_contamination(
    docs: DataFrame,
    ev: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop docs sharing any word 3-gram with the eval set. The corpus side
    streams through a broadcast hash join (never shuffled); the only
    exchange is the distinct over the (rare) contaminated ids."""
    tr = docs.select(
        F.col(id_col), F.expr(_WORDS_SPARK.format(col=text_col)).alias("w")
    ).select(F.col(id_col), F.explode(F.expr(_SHINGLES_SPARK)).alias("sh"))
    hit = (
        tr.select(F.col(id_col), F.md5("sh").alias("h"))
        .join(F.broadcast(ev), "h")
        .select(id_col)
        .distinct()
    )
    return docs.join(hit, id_col, "left_anti")


def sample_stratified(
    docs: DataFrame, id_col: str = "doc_id", lang_col: str = "lang"
) -> DataFrame:
    """Deterministic md5-threshold sampling: 50% of 'en' docs, 25% of the
    rest (first md5 hex digit of the id under '8'/'4'). Map-only; identical
    on every engine, retry and cluster size."""
    digit = F.substring(F.md5(F.col(id_col).cast("string")), 1, 1)
    thresh = F.when(F.col(lang_col) == "en", F.lit("8")).otherwise(
        F.lit("4")
    )
    return docs.filter(digit < thresh)


def pack_sequences(
    docs: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    shard_col: str | None = None,
    tokens_col: str = "n_words",
    num_shards: int = 64,
) -> DataFrame:
    """Greedy per-shard token packing: docs + (pack_shard, seq_id). The
    running-sum window partitions by the shard key, so parallelism = shard
    count (never a global ORDER BY — a total order would funnel the corpus
    through one task).

    ``shard_col=None`` (default): the shard key is derived as
    ``pmod(xxhash64(id), num_shards)`` — high-cardinality by construction,
    independent of any data column. A column like ``source`` has a handful
    of distinct values at corpus scale, which caps the window at a handful
    of tasks; the hashed key keeps the packing embarrassingly parallel at
    any ``num_shards`` while staying deterministic (xxhash64 is a fixed
    function of the id — same doc, same shard, on every run and cluster
    size). Pass an explicit ``shard_col`` to pack within meaningful shards
    (e.g. pre-existing input splits) instead.

    Budget semantics per (pack_shard, seq_id): tokens-before-this-doc lies
    in [seq_id*budget, (seq_id+1)*budget) — property-tested invariant
    across num_shards values (tests/test_corpus.py)."""
    if shard_col is None:
        docs = docs.withColumn(
            "pack_shard",
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_shards)),
        )
        shard_col = "pack_shard"
    w = (
        Window.partitionBy(shard_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    before = F.sum(tokens_col).over(w) - F.col(tokens_col)
    return docs.withColumn(
        "seq_id", (before / F.lit(budget)).cast("bigint")
    )


def funnel_stages(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    eval_mod: int = 50,
    num_perms: int = NUM_PERMS,
    bands: int = BANDS,
    persist: bool = False,
    th: QualityThresholds = DOC_THRESHOLDS,
    full_cc: bool = False,
    substr_clean: bool = False,
    substr_k: int = 16,
    host_gate: bool = False,
    line_dedup: bool = False,
    group_col: str = "source",
) -> dict[str, DataFrame]:
    """The full stage chain as an ordered dict of survivor DataFrames.
    ``docs`` with id % eval_mod == 0 form the held-out eval split (screened
    against, never kept). With ``persist=True`` the three stages whose
    plans are re-read by multiple consumers (pre-minhash,
    pre-contamination, post-contamination) are persisted — the
    production-job setting; the oracle query leaves the DAG fully lazy so
    both engines evaluate the same expressions. With ``full_cc=True`` the
    near-dup stage is EAGER (see near_keepers): this call itself runs the
    full dedup fixpoint before returning. ``substr_clean=True`` inserts a
    within-doc exact-substring deletion stage ("4b_substr") between
    near-dedup and the contamination screen (keep-first-occurrence rule,
    functions/substr.substr_dedup_clean). ``host_gate=True`` inserts
    "1b_host" (RefinedWeb host curation — whole below-gate hosts drop
    before per-document work, host_keepers). ``line_dedup=True`` inserts
    "1c_lines" (CCNet common-line boilerplate removal grouped by
    ``group_col``, rewriting ``text_col`` BEFORE dedup so shared banners
    can't keep near-dup pages apart)."""
    train = docs.filter(F.col(id_col) % eval_mod != 0)
    ev = docs.filter(F.col(id_col) % eval_mod == 0)
    hosted = None
    if host_gate:
        # RefinedWeb order: host-level gating FIRST — spam farms drop
        # wholesale before any per-document work is spent on them
        hosted = host_keepers(
            train, text_col, id_col, lang_col, group_col
        )
    lined = None
    if line_dedup:
        # CCNet order: line-level boilerplate removal BEFORE doc-level
        # dedup — stripping shared banners/navs is what makes otherwise
        # distinct pages hash apart (and true dups hash together)
        base = hosted if hosted is not None else train
        rewritten = drop_common_lines(
            base, text_col, id_col, group_col
        ).select(id_col, text_col)
        lined = base.drop(text_col).join(rewritten, id_col)
    pre_q = lined if lined is not None else (
        hosted if hosted is not None else train
    )
    q = quality_flags(pre_q, text_col, id_col, th).filter(
        F.col("flags") == 0
    )
    e = exact_keepers(q, text_col, id_col)
    if persist:
        e = e.persist()
    n = near_keepers(e, text_col, id_col, num_perms, bands, full_cc=full_cc)
    if persist:
        n = n.persist()
    sub = None
    if substr_clean:
        # within-doc surgery AFTER doc-level near-dedup (the standard
        # order: near-dup drops whole docs cheaply first, then the
        # substring pass deletes every remaining duplicated >=k-char run
        # except its corpus-first occurrence — functions/substr.py)
        from ocr_spark.functions.substr import substr_dedup_clean

        cleaned = substr_dedup_clean(
            n, k=substr_k, id_col=id_col, text_col=text_col
        )
        sub = n.drop(text_col).join(
            cleaned.select(
                id_col, F.col("clean_text").alias(text_col)
            ),
            id_col,
        )
        if persist:
            sub = sub.persist()
    after_dedup = sub if sub is not None else n
    c = clean_of_contamination(
        after_dedup, eval_ngram_set(ev, text_col), text_col, id_col
    )
    if persist:
        c = c.persist()
    s = sample_stratified(c, id_col, lang_col)
    out = {
        "0_input": docs,
        "1_train": train,
    }
    if hosted is not None:
        out["1b_host"] = hosted
    if lined is not None:
        out["1c_lines"] = lined
    out.update({
        "2_quality": q,
        "3_exact": e,
        "4_near": n,
    })
    if sub is not None:
        out["4b_substr"] = sub
    out["5_clean"] = c
    out["6_sampled"] = s
    return out


def funnel_report(stages: dict[str, DataFrame]) -> DataFrame:
    """One (stage, n) row per funnel stage plus a final '7_tokens' row
    (token sum of the kept set) — a single unioned plan."""
    parts = [
        df.select(
            F.lit(name).alias("stage"), F.count(F.lit(1)).alias("n")
        )
        for name, df in stages.items()
    ]
    parts.append(
        stages["6_sampled"].select(
            F.lit("7_tokens").alias("stage"),
            F.coalesce(F.sum("n_words"), F.lit(0)).cast("bigint").alias("n"),
        )
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def pack_sequences_ffd(
    docs: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_words",
    num_shards: int = 64,
) -> DataFrame:
    """First-fit-decreasing per-shard packing: docs + (pack_shard,
    bin_id) — the PACKING-QUALITY alternative to pack_sequences' greedy
    running-sum split.

    The window packer is one JVM window pass but splits documents at
    budget boundaries conceptually (a doc's tokens straddle seq_ids);
    FFD keeps each doc WHOLE, sorts a shard's docs by descending token
    count and drops each into the first bin it fits — the classic
    11/9·OPT+1 heuristic, what a curriculum/packing stage runs when
    sequences must not cross document boundaries. Inherently sequential
    per shard, so it runs as an Arrow-batched applyInPandas over the
    SAME hashed shard key (parallelism = num_shards, like
    pack_sequences); the per-shard state is one bin-capacity list,
    O(bins) memory. Oversized docs (> budget) get singleton bins —
    kept, flagged by construction (their bin load exceeds budget),
    never silently dropped. Deterministic: sort key is
    (-tokens, id). Rows-only in the registry (FFD's first-fit scan is
    not one SQL query); pinned against an independent Python reference
    + bin-capacity/determinism properties in tests/test_corpus.py."""
    import pandas as pd

    shard = F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_shards)).alias(
        "pack_shard"
    )
    src = docs.select(
        F.col(id_col), F.col(tokens_col).alias("_tok"), shard
    )

    def ffd(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = sorted(
            zip(pdf["_tok"], pdf[id_col]), key=lambda t: (-t[0], t[1])
        )
        loads: list[int] = []
        out_id, out_bin, out_tok = [], [], []
        for tok, did in rows:
            placed = None
            for b, ld in enumerate(loads):
                if ld + tok <= budget:
                    placed = b
                    break
            if placed is None:
                placed = len(loads)
                loads.append(0)
            loads[placed] += int(tok)
            out_id.append(did)
            out_bin.append(placed)
            out_tok.append(int(tok))
        return pd.DataFrame({
            id_col: out_id,
            "pack_shard": [int(pdf["pack_shard"].iloc[0])] * len(out_id),
            "bin_id": out_bin,
            "n_tokens": out_tok,
        })

    return src.groupBy("pack_shard").applyInPandas(
        ffd,
        f"{id_col} long, pack_shard long, bin_id long, n_tokens long",
    )
