"""Sketch registry entries (SURVEY §2 scale block): Bloom seen-set,
count-min heavy hitters, HyperLogLog distinct — see functions/sketch.py
for the integer-exactness argument and the 100 TB scale story.

All three are value-hash oracled: the DuckDB SQL rebuilds the SAME sketch
from the same md5 bit math, so the driver hash covers every register/word/
cell the Spark side produced, not a tolerance band.

* ``sketch_bloom_seen`` — the crawl-frontier membership question ("did we
  fetch this URL already?") answered by a 4096-bit filter built over the
  even-doc_id half of the corpus and probed with every URL. Output
  (doc_id, truth, bloom_hit): the no-false-negative invariant is visible
  in the graded values (truth ⇒ hit), and any false positives are
  hash-determined, identical in both engines.
* ``sketch_cms_heavy`` — token heavy hitters by count-min estimate
  (d=3 × w=64 matrix), top 20 with the exact count alongside so the
  one-sided error (est ≥ true, always) sits under the hash too.
* ``sketch_hll_distinct`` — distinct URL count: the full register table
  plus the integer raw-HLL estimate and the exact distinct, long-form
  (bucket, val) with est at bucket −1 and truth at bucket −2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.queries import register, t
from ocr_spark.functions import sketch as sk
from ocr_spark.functions.iterate import cached

# deterministic URL shape shared by query and oracle: 24 hosts, path = id
_URL_SPARK = (
    "concat('https://h', CAST(doc_id % 24 AS STRING), '.test/p/',"
    " CAST(doc_id AS STRING))"
)
_URL_DUCK = (
    "'https://h' || CAST(doc_id % 24 AS VARCHAR) || '.test/p/'"
    " || CAST(doc_id AS VARCHAR)"
)


def _bloom_oracle() -> str:
    keys = (
        f"SELECT {_URL_DUCK} AS url FROM documents WHERE doc_id % 2 = 0"
    )
    probes = f"SELECT doc_id, {_URL_DUCK} AS url FROM documents"
    probe_sql = sk.bloom_sql_cte(keys, probes, "doc_id", "url")
    return f"""
SELECT d.doc_id, d.doc_id % 2 = 0 AS truth, p.bloom_hit
FROM documents d JOIN ({probe_sql}) p USING (doc_id)
"""


@register("sketch_bloom_seen", _bloom_oracle())
def q_sketch_bloom_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seen-set membership through the real Bloom build + probe.

    Plan: the filter build is one explode + one bit_or shuffle bounded by
    m/32 rows; the probe joins the ≤128-word filter BROADCAST (pinned in
    tests/test_plans.py) and folds k bits with bool_and — the probe side
    never holds filter-sized state."""
    d = t(spark, sf_dir, "documents")
    urls = d.selectExpr("doc_id", f"{_URL_SPARK} AS url")
    seen = urls.where(F.col("doc_id") % 2 == 0).select("url")
    bloom = sk.bloom_build(seen, "url")
    hits = sk.bloom_probe(urls, bloom, "doc_id", "url")
    return (
        urls.select("doc_id", (F.col("doc_id") % 2 == 0).alias("truth"))
        .join(hits, "doc_id")
        .select("doc_id", "truth", "bloom_hit")
    )


def _cms_cells_duck(d: int, w: int) -> str:
    return ", ".join(
        f"{{'row': {i}::BIGINT, 'col': {sk.mdhash_duck('tok', i)} % {w}}}"
        for i in range(d)
    )


_CMS_ORACLE = f"""
WITH _toks AS (
  SELECT unnest(list_filter(string_split(lower(text), ' '),
                x -> x != '')) AS tok
  FROM documents
),
_cells AS (
  SELECT unnest([{_cms_cells_duck(sk.CMS_D, sk.CMS_W)}],
                recursive := true) FROM _toks
),
_cms AS (
  SELECT row, col, count(*) AS cnt FROM _cells GROUP BY 1, 2
),
_true AS (
  SELECT tok, count(*) AS true_cnt FROM _toks GROUP BY 1
),
_probe AS (
  SELECT tok, unnest([{_cms_cells_duck(sk.CMS_D, sk.CMS_W)}],
                     recursive := true)
  FROM (SELECT DISTINCT tok FROM _toks)
),
_est AS (
  SELECT p.tok, min(c.cnt) AS est
  FROM _probe p JOIN _cms c USING (row, col) GROUP BY 1
)
SELECT e.tok, e.est, tr.true_cnt
FROM _est e JOIN _true tr USING (tok)
ORDER BY e.est DESC, e.tok ASC LIMIT 20
"""


@register("sketch_cms_heavy", _CMS_ORACLE)
def q_sketch_cms_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 heavy hitters by count-min estimate, exact count alongside.

    Plan: the token stream feeds ONE count shuffle whose map-side combine
    caps task output at d·w = 192 rows; estimation joins the matrix
    broadcast; the final top-20 is TakeOrderedAndProject. The exact-count
    branch exists to put the ≥-truth invariant under the driver hash —
    production drops it (that is the point of the sketch)."""
    d = t(spark, sf_dir, "documents")
    toks = d.selectExpr(
        "explode(filter(split(lower(text), ' '), x -> x != '')) AS tok"
    )
    cms = sk.cms_build(toks, "tok")
    est = sk.cms_estimate(toks.distinct(), cms, "tok")
    true_cnt = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("true_cnt")
    )
    return (
        est.join(true_cnt, "tok")
        .orderBy(F.col("est").desc(), F.col("tok").asc())
        .limit(20)
    )


def _hll_oracle() -> str:
    keys = f"SELECT {_URL_DUCK} AS url FROM documents"
    regs = sk.hll_sql_registers(keys, "url")
    # IDENTICAL constants to hll_estimate — never recomputed here (an
    # early draft derived scale independently and was off by one bit)
    rank_max = sk.HLL_RANK_MAX
    scale = 1 << rank_max
    num = sk.HLL_ALPHA_E6 * sk.HLL_M * sk.HLL_M * scale
    return f"""
WITH _regs AS ({regs}),
_s AS (
  SELECT sum(1::BIGINT << CAST({rank_max} - reg AS INT))
         + ({sk.HLL_M}::BIGINT - count(*)) * {scale}::BIGINT AS s
  FROM _regs
)
SELECT bucket, reg AS val FROM _regs
UNION ALL
SELECT -1::BIGINT, CAST({num}::BIGINT // (s * 1000000) AS BIGINT) FROM _s
UNION ALL
SELECT -2::BIGINT, CAST(count(DISTINCT {_URL_DUCK}) AS BIGINT)
FROM documents
"""


@register("sketch_hll_distinct", _hll_oracle())
def q_sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL register table + integer raw estimate + exact distinct,
    long-form (bucket, val); est rides bucket −1, truth bucket −2.

    Plan: one max shuffle bounded at m=64 rows per task for the
    registers; the estimate is a second tiny agg over them. The graded
    truth row is the accuracy exhibit — production uses the registers
    alone (mergeable by MAX across partitions/days, pinned in
    tests/test_sketch.py)."""
    d = t(spark, sf_dir, "documents")
    urls = d.selectExpr(f"{_URL_SPARK} AS url")
    regs = sk.hll_registers(urls, "url")
    est = sk.hll_estimate(regs).selectExpr(
        "CAST(-1 AS BIGINT) AS bucket", "est AS val"
    )
    truth = urls.agg(
        F.countDistinct("url").alias("val")
    ).selectExpr("CAST(-2 AS BIGINT) AS bucket", "CAST(val AS BIGINT) AS val")
    return regs.selectExpr("bucket", "reg AS val").unionByName(
        est
    ).unionByName(truth)


@register("stream_hll_registers", _hll_oracle())
def q_stream_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-count maintenance as a driver-visible query:
    the corpus URLs arrive as 3 file micro-batches, each batch commits
    its ≤64-row register table exactly-once, and the MAX-folded totals
    (+ integer estimate, + exact distinct) must equal the BATCH sketch —
    the SAME oracle as sketch_hll_distinct, which is precisely the merge
    law: any micro-batch slicing folds to the one true register table."""
    import os
    import tempfile

    from ocr_spark.streaming.incremental import hll_totals, incremental_hll

    d = t(spark, sf_dir, "documents")
    urls = d.selectExpr("doc_id", f"{_URL_SPARK} AS url")
    work = tempfile.mkdtemp(prefix="ocr-spark-stream-hll-")
    src = os.path.join(work, "src")
    urls.repartition(3).write.parquet(src)
    out = os.path.join(work, "regs")
    ckpt = os.path.join(work, "ckpt")
    writer, _ = incremental_hll(
        spark, src, urls.schema, out, ckpt, key_expr="url"
    )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    regs = hll_totals(spark, out)
    est = sk.hll_estimate(regs).selectExpr(
        "CAST(-1 AS BIGINT) AS bucket", "est AS val"
    )
    truth = urls.agg(F.countDistinct("url").alias("val")).selectExpr(
        "CAST(-2 AS BIGINT) AS bucket", "CAST(val AS BIGINT) AS val"
    )
    return regs.selectExpr("bucket", "reg AS val").unionByName(
        est
    ).unionByName(truth)


_HIST_QS = (25, 50, 75, 90, 99)


def _hist_oracle() -> str:
    b, dom = sk.HIST_B, sk.HIST_DOMAIN
    qlit = ", ".join(str(q) for q in _HIST_QS)
    return f"""
WITH _h AS (
  SELECT greatest(0, least({b - 1}, n_chars * {b} // {dom})) AS bucket,
         count(*) AS cnt
  FROM documents GROUP BY 1
),
_cum AS (
  SELECT bucket, sum(cnt) OVER (ORDER BY bucket
                                ROWS UNBOUNDED PRECEDING) AS cum
  FROM _h
),
_n AS (SELECT sum(cnt) AS n FROM _h),
_probes AS (
  SELECT q, CAST(-(-q * n // 100) AS BIGINT) AS thr
  FROM (SELECT unnest([{qlit}]) AS q), _n
),
_est AS (
  SELECT p.q, min(c.bucket) AS _bk
  FROM _probes p JOIN _cum c ON c.cum >= p.thr GROUP BY 1
),
_ranked AS (
  SELECT n_chars AS v,
         row_number() OVER (ORDER BY n_chars) AS rn
  FROM documents
),
_exact AS (
  SELECT p.q, r.v FROM _probes p JOIN _ranked r ON r.rn = p.thr
)
SELECT CAST(e.q AS BIGINT) AS q,
       CAST((e._bk + 1) * {dom} // {b} AS BIGINT) AS est_hi,
       CAST(x.v AS BIGINT) AS exact_val
FROM _est e JOIN _exact x ON x.q = e.q
"""


@register("sketch_hist_quantile", _hist_oracle())
def q_sketch_hist_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles from the mergeable equi-width histogram (the fourth
    sketch monoid — counts fold by SUM), with the exact rank statistic
    alongside so the error bound (≤ one bucket width, 16 here) sits
    under the driver hash. Estimates are bucket edges — pure integers,
    no interpolation floats.

    Plan: one count shuffle map-side-combined to ≤64 rows; the quantile
    probe is driver-free arithmetic over the broadcast cumulative
    histogram. The exact branch (a global row_number) exists only for
    the grading exhibit — production reads the histogram alone, which
    at 100 TB is WHY a quantile costs one tiny agg instead of a global
    sort."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    hist = sk.hist_build(d, "n_chars")
    est = sk.hist_quantiles(hist, _HIST_QS)
    n = hist.agg(F.sum("cnt").alias("n"))
    qlit = ", ".join(str(q) for q in _HIST_QS)
    probes = n.selectExpr(f"explode(array({qlit})) AS q", "n").selectExpr(
        "q", "CAST(-(-q * n div 100) AS BIGINT) AS thr"
    )
    ranked = d.select(
        F.col("n_chars").alias("v"),
        F.row_number().over(Window.orderBy("n_chars")).alias("rn"),
    )
    exact = probes.join(
        ranked, F.col("rn") == F.col("thr")
    ).selectExpr("CAST(q AS BIGINT) AS q", "CAST(v AS BIGINT) AS exact_val")
    return est.join(exact, "q").select("q", "est_hi", "exact_val")


# --- corpus-level MinHash similarity matrix ---------------------------------------------
# Which SOURCES overlap? The dedup family answers doc-vs-doc; curation also
# needs the source-vs-source diagnostic (is src3 a mirror of src7? how much
# does a new crawl overlap the last one?). One MinHash signature per source
# over its DISTINCT shingle-hash set estimates Jaccard in O(num_perms) per
# pair; the exact Jaccard rides along (a shingle-hash equi-join) so the
# estimate's quality is itself on record. At corpus scale only the
# signatures (sources x num_perms) ever meet the pair join — the exact
# column is the audit path you'd sample, not compute exhaustively.

def _src_sig_exprs(dialect_min: str, h: str) -> list[str]:
    from ocr_spark.queries_textml import _MH_PRIME, _mh_ab, NUM_PERMS

    a, b = _mh_ab(NUM_PERMS)
    return [
        dialect_min.format(
            perm=f"({a[i]} * {h} + {b[i]}) % {_MH_PRIME}", i=i
        )
        for i in range(NUM_PERMS)
    ]


def _source_jaccard_oracle() -> str:
    from ocr_spark.queries_textml import (
        _SHASH_SQL, _SHINGLES_SQL, NUM_PERMS,
    )

    sig_cols = ",\n    ".join(
        _src_sig_exprs("min({perm}) AS s{i}", "h")
    )
    eq = " + ".join(
        f"CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END"
        for i in range(NUM_PERMS)
    )
    return f"""
WITH sh AS (
  SELECT DISTINCT source, {_SHASH_SQL.replace('md5(s)', 'md5(sg)')} AS h
  FROM (
    SELECT source, unnest({_SHINGLES_SQL}) AS sg
    FROM (SELECT source,
            list_filter(string_split(text, ' '), x -> x != '') AS w
          FROM documents)
  )
),
sig AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_sh,
    {sig_cols}
  FROM sh GROUP BY source
),
inter AS (
  SELECT a.source AS sa, b.source AS sb, CAST(count(*) AS BIGINT) AS i
  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT a.source AS source_a, b.source AS source_b,
  CAST({eq} AS BIGINT) AS est_matches,
  CAST(coalesce(i.i, 0) * 1000000
       // (a.n_sh + b.n_sh - coalesce(i.i, 0)) AS BIGINT) AS jaccard_e6
FROM sig a
JOIN sig b ON a.source < b.source
LEFT JOIN inter i ON i.sa = a.source AND i.sb = b.source
"""


@register("sketch_source_jaccard", _source_jaccard_oracle())
def q_sketch_source_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-vs-source similarity: per-source MinHash signature (min of
    each Broder permutation over the source's distinct shingle hashes)
    beside the exact Jaccard from the shingle-hash equi-join. Signatures
    are one groupBy over the deduped shingle table; the pair join is
    sources^2 over num_perms-wide rows — trivial at any corpus size."""
    from ocr_spark.queries_textml import (
        _SHASH_SPARK, _SHINGLES_SPARK, _WORDS_SPARK, NUM_PERMS,
    )

    d = t(spark, sf_dir, "documents").select(
        "source",
        F.expr(_WORDS_SPARK.format(col="text")).alias("w"),
    )
    sh = (
        d.select("source", F.explode(F.expr(_SHINGLES_SPARK)).alias("s"))
        .select("source", F.expr(_SHASH_SPARK).alias("h"))
        .distinct()
    )
    sig_exprs = [
        F.expr(e)
        for e in _src_sig_exprs("CAST(min({perm}) AS BIGINT) AS s{i}", "h")
    ]
    sig = sh.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sh"), *sig_exprs
    )
    a = sig.select(
        F.col("source").alias("source_a"), F.col("n_sh").alias("na"),
        *[F.col(f"s{i}").alias(f"a{i}") for i in range(NUM_PERMS)],
    )
    b = sig.select(
        F.col("source").alias("source_b"), F.col("n_sh").alias("nb"),
        *[F.col(f"s{i}").alias(f"b{i}") for i in range(NUM_PERMS)],
    )
    eq = " + ".join(
        f"CASE WHEN a{i} = b{i} THEN 1 ELSE 0 END" for i in range(NUM_PERMS)
    )
    inter = (
        sh.alias("x")
        .join(
            sh.alias("y"),
            (F.col("x.h") == F.col("y.h"))
            & (F.col("x.source") < F.col("y.source")),
        )
        .groupBy(
            F.col("x.source").alias("source_a"),
            F.col("y.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("i"))
    )
    pairs = a.join(b, F.col("source_a") < F.col("source_b")).join(
        inter, ["source_a", "source_b"], "left"
    )
    return pairs.select(
        "source_a",
        "source_b",
        F.expr(f"CAST({eq} AS BIGINT)").alias("est_matches"),
        F.expr(
            "CAST(coalesce(i, 0) * 1000000"
            " div (na + nb - coalesce(i, 0)) AS BIGINT)"
        ).alias("jaccard_e6"),
    )


def _hll_merge_oracle() -> str:
    """Per-source register tables + the merge law: @MERGED (max-fold of
    the per-source tables) must equal @GLOBAL (one-pass build over the
    whole corpus). The oracle computes the global table ONCE and emits it
    under both labels — if Spark's two paths ever diverge, the value hash
    breaks on whichever path is wrong."""
    h = sk.mdhash_duck("url", 0)
    rank_max = sk.HLL_RANK_MAX
    scale = 1 << rank_max
    num = sk.HLL_ALPHA_E6 * sk.HLL_M * sk.HLL_M * scale
    keyed = f"""
SELECT source, _h % {sk.HLL_M} AS bucket,
       max(CASE WHEN _h // {sk.HLL_M} = 0 THEN {rank_max}::BIGINT
                ELSE {rank_max}::BIGINT
                     - length(bin(_h // {sk.HLL_M})) END) AS reg
FROM (SELECT source, CAST({h} AS BIGINT) AS _h
      FROM (SELECT source, {_URL_DUCK} AS url FROM documents))
GROUP BY 1, 2
"""
    return f"""
WITH _keyed AS ({keyed}),
_global AS (
  SELECT bucket, max(reg) AS reg FROM _keyed GROUP BY 1
),
_s AS (
  SELECT sum(1::BIGINT << CAST({rank_max} - reg AS INT))
         + ({sk.HLL_M}::BIGINT - count(*)) * {scale}::BIGINT AS s
  FROM _global
)
SELECT source AS src, bucket, reg AS val FROM _keyed
UNION ALL
SELECT '@MERGED', bucket, reg FROM _global
UNION ALL
SELECT '@GLOBAL', bucket, reg FROM _global
UNION ALL
SELECT lbl, -1::BIGINT, CAST({num}::BIGINT // (s * 1000000) AS BIGINT)
FROM _s, (VALUES ('@MERGED'), ('@GLOBAL')) AS t(lbl)
UNION ALL
SELECT '@TRUTH', -2::BIGINT, CAST(count(DISTINCT {_URL_DUCK}) AS BIGINT)
FROM documents
"""


@register("sketch_hll_merge", _hll_merge_oracle())
def q_sketch_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch-merge algebra graded end-to-end: per-source HLL register
    tables, their MAX-fold (@MERGED), and a direct one-pass global build
    (@GLOBAL) must agree bucket-for-bucket, with the integer estimate
    riding bucket -1 under both labels and exact truth at -2.

    This is the property 1000-executor aggregation rests on: shard the
    corpus any way (per source, per day, per partition), sketch each
    shard in isolation (≤ m rows each), and elementwise MAX reproduces
    the one true register table without re-reading data. Plan: the keyed
    build is one (source, bucket) max shuffle; the merge is a second agg
    over ≤ sources x m rows — never over raw keys."""
    d = t(spark, sf_dir, "documents")
    urls = d.selectExpr("source", f"{_URL_SPARK} AS url")
    keyed = sk.hll_registers(urls, "url", group_cols=["source"])
    merged = keyed.groupBy("bucket").agg(F.max("reg").alias("reg"))
    globl = sk.hll_registers(urls.select("url"), "url")
    est_m = sk.hll_estimate(merged).selectExpr(
        "'@MERGED' AS src", "CAST(-1 AS BIGINT) AS bucket", "est AS val"
    )
    est_g = sk.hll_estimate(globl).selectExpr(
        "'@GLOBAL' AS src", "CAST(-1 AS BIGINT) AS bucket", "est AS val"
    )
    truth = urls.agg(F.countDistinct("url").alias("v")).selectExpr(
        "'@TRUTH' AS src", "CAST(-2 AS BIGINT) AS bucket",
        "CAST(v AS BIGINT) AS val",
    )
    return (
        keyed.selectExpr("source AS src", "bucket", "reg AS val")
        .unionByName(
            merged.selectExpr("'@MERGED' AS src", "bucket", "reg AS val")
        )
        .unionByName(
            globl.selectExpr("'@GLOBAL' AS src", "bucket", "reg AS val")
        )
        .unionByName(est_m)
        .unionByName(est_g)
        .unionByName(truth)
    )


def _hist_merge_oracle() -> str:
    """Histogram merge law, mirroring _hll_merge_oracle: the global table
    is computed ONCE and emitted under @MERGED and @GLOBAL — Spark's two
    paths (SUM-fold of per-source tables vs direct build) must both equal
    it. Estimates ride bucket -1 (P50 upper edge), truth -2."""
    b, dom = sk.HIST_B, sk.HIST_DOMAIN
    return f"""
WITH _keyed AS (
  SELECT source,
         greatest(0, least({b - 1}, n_chars * {b} // {dom})) AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM documents GROUP BY 1, 2
),
_global AS (
  SELECT bucket, sum(cnt) AS cnt FROM _keyed GROUP BY 1
),
_cum AS (
  SELECT bucket, sum(cnt) OVER (ORDER BY bucket
                                ROWS UNBOUNDED PRECEDING) AS cum
  FROM _global
),
_n AS (SELECT sum(cnt) AS n FROM _global),
_est AS (
  SELECT min(bucket) AS _bk FROM _cum, _n
  WHERE cum >= CAST(-(-50 * n // 100) AS BIGINT)
),
_exact AS (
  SELECT v FROM (
    SELECT n_chars AS v, row_number() OVER (ORDER BY n_chars) AS rn
    FROM documents
  ), _n WHERE rn = CAST(-(-50 * n // 100) AS BIGINT)
)
SELECT source AS src, CAST(bucket AS BIGINT) AS bucket, cnt AS val
FROM _keyed
UNION ALL
SELECT '@MERGED', CAST(bucket AS BIGINT), CAST(cnt AS BIGINT) FROM _global
UNION ALL
SELECT '@GLOBAL', CAST(bucket AS BIGINT), CAST(cnt AS BIGINT) FROM _global
UNION ALL
SELECT lbl, -1::BIGINT, CAST((_bk + 1) * {dom} // {b} AS BIGINT)
FROM _est, (VALUES ('@MERGED'), ('@GLOBAL')) AS t(lbl)
UNION ALL
SELECT '@TRUTH', -2::BIGINT, CAST(v AS BIGINT) FROM _exact
"""


@register("sketch_hist_merge", _hist_merge_oracle())
def q_sketch_hist_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SUM-monoid merge law graded beside HLL's MAX-monoid
    (sketch_hll_merge): per-source equi-width histograms, their SUM-fold
    (@MERGED), and a direct global build (@GLOBAL) must agree
    bucket-for-bucket; the P50 upper-edge estimate rides bucket -1 under
    both labels, the exact median rank statistic at -2.

    Together the two merge entries cover both sketch algebras the
    distributed plans rely on — MAX for occupancy sketches (HLL, Bloom
    bit-or), SUM for count sketches (histogram, CMS) — and the shard ->
    fold -> estimate path is exactly how a 1000-executor job computes a
    corpus quantile without a global sort. Plan: the keyed build is one
    (source, bucket) count shuffle (≤ b rows per source); the fold aggs
    ≤ sources x b rows."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    keyed = sk.hist_build(d, "n_chars", group_cols=["source"])
    merged = keyed.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))
    globl = sk.hist_build(d, "n_chars")

    def _p50(hist: DataFrame, lbl: str) -> DataFrame:
        return sk.hist_quantiles(hist, (50,)).selectExpr(
            f"'{lbl}' AS src", "CAST(-1 AS BIGINT) AS bucket",
            "CAST(est_hi AS BIGINT) AS val",
        )

    n = globl.agg(F.sum("cnt").alias("n"))
    thr = n.selectExpr("CAST(-(-50 * n div 100) AS BIGINT) AS thr")
    ranked = d.select(
        F.col("n_chars").alias("v"),
        F.row_number().over(Window.orderBy("n_chars")).alias("rn"),
    )
    truth = thr.join(ranked, F.col("rn") == F.col("thr")).selectExpr(
        "'@TRUTH' AS src", "CAST(-2 AS BIGINT) AS bucket",
        "CAST(v AS BIGINT) AS val",
    )
    return (
        keyed.selectExpr("source AS src", "CAST(bucket AS BIGINT) AS bucket",
                         "cnt AS val")
        .unionByName(merged.selectExpr(
            "'@MERGED' AS src", "CAST(bucket AS BIGINT) AS bucket",
            "cnt AS val"))
        .unionByName(globl.selectExpr(
            "'@GLOBAL' AS src", "CAST(bucket AS BIGINT) AS bucket",
            "cnt AS val"))
        .unionByName(_p50(merged, "@MERGED"))
        .unionByName(_p50(globl, "@GLOBAL"))
        .unionByName(truth)
    )


# --- KMV (bottom-k / theta) sketch + Jaccard (round 4 close) -----------------
# The sketch algebra HLL cannot express: INTERSECTION. A KMV sketch
# keeps the k smallest 52-bit key hashes; distinct-count estimates as
# (k-1) * 2^52 DIV kth_min, and two sets' Jaccard estimates as
# |bottom-k of the union ∩ both sketches| / k. Everything is exact
# BIGINT state (the k minima themselves), so the merge law — bottom-k
# of the union of per-set bottom-k's == bottom-k over the union
# directly — is graded as literal value equality, the same
# shard-any-way property the HLL MAX-fold and histogram SUM-fold rows
# pin. Keys here are the per-source vocabularies (distinct lowered
# words of src1 vs src2); the exact distincts and exact Jaccard ride
# along as audit rows. Sub-k sets are EXACT by definition (the
# sketch holds every value; the estimator arm only engages past k),
# and the Jaccard denominator is |bottom-k of the union| — k when
# saturated, the exact union size below it.

_KMV_K = 16
_KMV_SRC = ("src1", "src2")

_KMV_H_SPARK = (
    "CAST(conv(substring(md5(wd), 1, 13), 16, 10) AS BIGINT)"
)
_KMV_H_SQL = (
    "list_aggregate(list_transform(generate_series(1, 13), q ->"
    " CAST(strpos('0123456789abcdef', substr(md5(wd), q, 1)) - 1"
    " AS BIGINT) * (1 << (4 * (13 - q)))), 'sum')"
)

_KMV_SQL = f"""
WITH wds AS (
  SELECT DISTINCT source, wd FROM (
    SELECT source,
      unnest(list_filter(string_split(lower(text), ' '), x -> x != ''))
        AS wd
    FROM documents WHERE source IN ('{_KMV_SRC[0]}', '{_KMV_SRC[1]}')
  )
),
h AS (SELECT source, wd, {_KMV_H_SQL} AS hv FROM wds),
sk AS (
  SELECT source, hv FROM (
    SELECT source, hv,
      row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
    FROM h
  ) WHERE rn <= {_KMV_K}
),
uk AS (
  SELECT hv FROM (
    SELECT hv, row_number() OVER (ORDER BY hv) AS rn
    FROM (SELECT DISTINCT hv FROM sk)
  ) WHERE rn <= {_KMV_K}
),
ud AS (
  SELECT hv FROM (
    SELECT hv, row_number() OVER (ORDER BY hv) AS rn
    FROM (SELECT DISTINCT hv FROM h)
  ) WHERE rn <= {_KMV_K}
),
kth AS (
  SELECT source, max(hv) AS kth, count(*) AS nsk FROM sk GROUP BY 1
),
inter AS (
  SELECT count(*) AS n FROM uk
  WHERE hv IN (SELECT hv FROM sk WHERE source = '{_KMV_SRC[0]}')
    AND hv IN (SELECT hv FROM sk WHERE source = '{_KMV_SRC[1]}')
),
tru AS (
  SELECT
    (SELECT count(*) FROM wds a JOIN wds b
      ON a.wd = b.wd AND a.source = '{_KMV_SRC[0]}'
      AND b.source = '{_KMV_SRC[1]}') AS ni,
    (SELECT count(DISTINCT wd) FROM wds) AS nu
)
SELECT measure, CAST(value AS BIGINT) AS value FROM (
  SELECT 'kth_' || source AS measure, kth AS value FROM kth
  UNION ALL
  SELECT 'est_' || source,
    CASE WHEN nsk < {_KMV_K} THEN nsk
         ELSE ({_KMV_K} - 1) * (1::BIGINT << 52) // kth END FROM kth
  UNION ALL
  SELECT 'kth_union_from_sketches', max(hv) FROM uk
  UNION ALL
  SELECT 'kth_union_direct', max(hv) FROM ud
  UNION ALL
  SELECT 'jaccard_e6_est', n * 1000000 // (SELECT count(*) FROM uk) FROM inter
  UNION ALL
  SELECT 'jaccard_e6_true', ni * 1000000 // (nu) FROM tru
  UNION ALL
  SELECT 'exact_distinct_' || source, count(*)
  FROM wds GROUP BY source
)
"""


@register("sketch_kmv_jaccard", _KMV_SQL)
def q_sketch_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k sketches of two sources' vocabularies: kth minima,
    distinct estimates, the merge law as literal equality
    (kth_union_from_sketches == kth_union_direct under the hash), KMV
    Jaccard vs exact Jaccard (block comment)."""
    from pyspark.sql import Window

    k = _KMV_K
    s1, s2 = _KMV_SRC
    d = t(spark, sf_dir, "documents").filter(
        F.col("source").isin(s1, s2)
    )
    wds = (
        d.select(
            "source",
            F.explode(
                F.expr("filter(split(lower(text), ' '), x -> x != '')")
            ).alias("wd"),
        )
        .distinct()
    )
    h = wds.select("source", "wd", F.expr(_KMV_H_SPARK).alias("hv"))
    wsrc = Window.partitionBy("source").orderBy("hv")
    sk = (
        h.withColumn("rn", F.row_number().over(wsrc))
        .filter(F.col("rn") <= k)
        .select("source", "hv")
    )
    # global bottom-k as orderBy+limit: TakeOrderedAndProject = per-
    # partition bottom-k + driver merge (the reservoir plan shape), never
    # a single-partition global window
    uk = sk.select("hv").distinct().orderBy("hv").limit(k)
    ud = h.select("hv").distinct().orderBy("hv").limit(k)
    kth = sk.groupBy("source").agg(
        F.max("hv").alias("kth"), F.count("*").alias("nsk")
    )
    a = sk.filter(F.col("source") == s1).select("hv")
    b = sk.filter(F.col("source") == s2).select("hv")
    inter = (
        uk.join(a, "hv", "left_semi").join(b, "hv", "left_semi")
        .agg(F.count("*").alias("n"))
    )
    wa = wds.filter(F.col("source") == s1).select("wd")
    wb = wds.filter(F.col("source") == s2).select("wd")
    ni = wa.join(wb, "wd").agg(F.count("*").alias("ni"))
    nu = wds.select("wd").distinct().agg(F.count("*").alias("nu"))

    def row(measure_col, value_col, src):
        return src.select(
            measure_col.alias("measure"),
            value_col.cast("bigint").alias("value"),
        )

    out = (
        row(F.concat(F.lit("kth_"), F.col("source")), F.col("kth"), kth)
        .unionByName(row(
            F.concat(F.lit("est_"), F.col("source")),
            F.expr(
                f"CASE WHEN nsk < {k} THEN nsk"
                f" ELSE ({k} - 1) * CAST(shiftleft(1L, 52) AS BIGINT)"
                " DIV kth END"
            ),
            kth,
        ))
        .unionByName(row(
            F.lit("kth_union_from_sketches"), F.expr("max(hv)"),
            uk.agg(F.max("hv").alias("mx")).selectExpr("mx AS hv"),
        ))
        .unionByName(row(
            F.lit("kth_union_direct"), F.expr("max(hv)"),
            ud.agg(F.max("hv").alias("mx")).selectExpr("mx AS hv"),
        ))
        .unionByName(row(
            F.lit("jaccard_e6_est"),
            F.expr("n * 1000000 DIV nuk"),
            inter.crossJoin(uk.agg(F.count("*").alias("nuk"))),
        ))
        .unionByName(row(
            F.lit("jaccard_e6_true"),
            F.expr("ni * 1000000 DIV nu"),
            ni.crossJoin(nu),
        ))
        .unionByName(row(
            F.concat(F.lit("exact_distinct_"), F.col("source")),
            F.col("cnt"),
            wds.groupBy("source").agg(F.count("*").alias("cnt")),
        ))
    )
    # h and sk each feed several of the branches above; the output is ~10
    # measure rows, materialized before the caches are released
    with cached(h, sk):
        sk.count()
        return out.localCheckpoint(eager=True)
