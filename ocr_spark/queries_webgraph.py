"""Corpus-preparation operators, block 3: the web-graph and learned-quality
family — the remaining famous components of a Common-Crawl-scale pipeline.

- host/link-graph PageRank (the classic URL-importance prior used for crawl
  scheduling and corpus weighting), run to a fixed iteration count in
  all-integer arithmetic so the DuckDB oracle matches bit-for-bit;
- CCNet/RefinedWeb-style boilerplate segment dedup: segments that repeat
  across >= DF documents of the same source are boilerplate (cookie banners,
  nav text) and are removed while the document is reassembled in order;
- DSIR importance weights (Xie et al. 2023): hashed-unigram log-likelihood
  ratio between a target domain and the raw corpus, used to importance-sample
  pretraining data toward a target distribution;
- a trained logistic-regression quality classifier (the fastText-style
  learned filter from CCNet/LLaMA pipelines) — batch gradient descent over
  hashed bag-of-words features expressed entirely in DataFrame ops, weights
  and scores integer-quantized per iteration so Spark and DuckDB agree
  exactly.

Block 3b (same file): the host-level curation moves — UT1-style URL
blocklists (broadcast dim join + map-side path regex), RefinedWeb host
quality gating (whole low-quality hosts drop together), anchor-text
aggregation over the real parsed link product, and CCNet-style text
normalization applied before dedup.

Cross-engine determinism (same discipline as the sibling modules): every
cross-row SUM is over BIGINTs quantized per-row first; divisions that can see
negative numerators use floor() on an exact double quotient (Spark `div`
truncates toward zero while DuckDB `//` floors — they differ below zero, so
neither is used on signed values); the sigmoid is the rational fast-sigmoid
0.5 + (s/2)/(1+|s|) — only +,*,/,abs, all IEEE-exact in both engines —
rather than exp(), whose last-ulp behavior is libm-specific.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocr_spark.functions.iterate import cached, iterate
from ocr_spark.queries import _LANG_CASE_SQL, register, t

_WORDS_SPARK = "filter(split({col}, ' '), x -> x != '')"
_WORDS_SQL = "list_filter(string_split({col}, ' '), x -> x != '')"


# --- outlink extraction (SPEC.md §5) --------------------------------------------------
# The driver-graded face of operators/extract.extract_outlinks: wrap each
# document in a synthetic page carrying five anchors (two absolute partner
# links, one content-derived relative link, plus a javascript: and a #fragment
# candidate that §5 discards), run the REAL mapInArrow parse, and let the
# oracle reconstruct the three surviving links per document from first
# principles. This grades the whole chain — attribute capture, href
# normalization, discard rules, anchor-text normalization, link_id order —
# not just the relational tail.

_LINK_WRAP_DOC = """
the synthetic page for doc_id D (url https://s{D%5}.src.example/d/D):
  <a href="https://h{D%7}.partner.example/x/D">partner D</a>      (kept, 0)
  <a href="javascript:void(0)">skip</a> <a href="#top">top</a>    (discarded)
  <a href="/w/D?ref=1">{first word of text, sanitized}</a>        (kept, 1)
  <a href="//h{(D+3)%7}.partner.example/y?d=D">next D</a>         (kept, 2)
"""


def _link_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    word = F.regexp_replace(
        F.expr(f"element_at({_WORDS_SPARK.format(col='text')}, 1)"),
        "[^a-z0-9]", "",
    )
    did = F.col("doc_id").cast("string")
    return d.select(
        F.concat(
            F.lit("https://s"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".src.example/d/"), did,
        ).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.encode(
            F.concat(
                F.lit('<html><body><p>See <a href="https://h'),
                (F.col("doc_id") % 7).cast("string"),
                F.lit('.partner.example/x/'), did,
                F.lit('">partner '), did,
                F.lit('</a> <a href="javascript:void(0)">skip</a>'
                      ' <a href="#top">top</a>'
                      ' <a href="/w/'), did,
                F.lit('?ref=1">'), word,
                F.lit('</a> <a href="//h'),
                ((F.col("doc_id") + 3) % 7).cast("string"),
                F.lit('.partner.example/y?d='), did,
                F.lit('">next '), did, F.lit("</a></p></body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
        F.lit("en").alias("lang"),
    )


_LINKS_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
    'https://s' || CAST(doc_id % 5 AS VARCHAR) || '.src.example/d/'
      || CAST(doc_id AS VARCHAR) AS url,
    regexp_replace(
      list_extract({_WORDS_SQL.format(col='text')}, 1),
      '[^a-z0-9]', '', 'g') AS w1
  FROM documents
)
SELECT url, CAST(0 AS INT) AS link_id,
  'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.partner.example/x/'
    || CAST(doc_id AS VARCHAR) AS href,
  'partner ' || CAST(doc_id AS VARCHAR) AS anchor
FROM d
UNION ALL
SELECT url, CAST(1 AS INT) AS link_id,
  '/w/' || CAST(doc_id AS VARCHAR) || '?ref=1' AS href,
  w1 AS anchor
FROM d
UNION ALL
SELECT url, CAST(2 AS INT) AS link_id,
  '//h' || CAST((doc_id + 3) % 7 AS VARCHAR) || '.partner.example/y?d='
    || CAST(doc_id AS VARCHAR) AS href,
  'next ' || CAST(doc_id AS VARCHAR) AS anchor
FROM d
"""


@register("extract_links", _LINKS_ORACLE)
def q_extract_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.operators.extract import extract_outlinks

    links = extract_outlinks(_link_pages(spark, sf_dir))
    return links.select("url", "link_id", "href", "anchor")


def link_host_expr(href: Column, src_host: Column) -> Column:
    """SPEC §5.8 downstream host attribution, pure JVM expressions:
    absolute URLs contribute their authority's host (userinfo/port
    stripped), protocol-relative ('//host/...') likewise, everything else
    (relative paths, queries, fragments survived by §5) resolves to the
    source page's host. Hosts are lowercased. (IPv6 bracket literals are out
    of scope for the frozen rule.)"""
    abs_host = F.regexp_extract(
        href, r"^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^/?#@]*@)?([^/?#:]*)", 1
    )
    rel_host = F.regexp_extract(
        href, r"^//(?:[^/?#@]*@)?([^/?#:]*)", 1
    )
    return F.when(
        href.rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*://"), F.lower(abs_host)
    ).when(href.startswith("//"), F.lower(rel_host)).otherwise(src_host)


_HOSTLINKS_ORACLE = """
WITH d AS (
  SELECT doc_id,
    's' || CAST(doc_id % 5 AS VARCHAR) || '.src.example' AS src_host
  FROM documents
),
e AS (
  SELECT src_host,
    'h' || CAST(doc_id % 7 AS VARCHAR) || '.partner.example' AS dst_host
  FROM d
  UNION ALL
  SELECT src_host, src_host AS dst_host FROM d
  UNION ALL
  SELECT src_host,
    'h' || CAST((doc_id + 3) % 7 AS VARCHAR) || '.partner.example' AS dst_host
  FROM d
)
SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links
FROM e GROUP BY src_host, dst_host
"""


@register("graph_hostlinks", _HOSTLINKS_ORACLE)
def q_graph_hostlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level link graph: the WAT-style aggregation feeding
    graph_pagerank at corpus scale. The oracle derives the expected edges
    from first principles (doc_id arithmetic), so the Spark-side regex host
    resolution is verified against an independent derivation."""
    from ocr_spark.operators.extract import extract_outlinks

    links = extract_outlinks(_link_pages(spark, sf_dir))
    src_host = F.lower(
        F.regexp_extract(
            F.col("url"), r"^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^/?#@]*@)?([^/?#:]*)", 1
        )
    )
    e = links.select(
        src_host.alias("src_host"),
        link_host_expr(F.col("href"), src_host).alias("dst_host"),
    )
    return e.groupBy("src_host", "dst_host").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_links")
    )


# --- link-graph PageRank ------------------------------------------------------------
# PageRank over the bipartite part<->supplier co-occurrence graph derived
# from lineitem (distinct (l_partkey, l_suppkey) pairs, both directions, so
# every node has out-degree >= 1 and there is no dangling mass to shepherd).
# At corpus scale the same loop runs over the host link graph emitted by
# extract_links/graph_hostlinks.
#
# All-integer update rule (rank fixed-point e6, per-node mass 1.0 = 1e6):
#   r_{k+1}(v) = 150000 + (85 * sum_{u->v} (r_k(u) div outdeg(u))) div 100
# Integer division truncates identically in both engines because every
# operand is non-negative; the sum is a BIGINT sum, so partial-aggregation
# order can never change a bit — the oracle is exact, not approximate.
#
# Scale shape: edges+outdeg are computed once and persisted; each iteration
# is one shuffle on dst (the contribution aggregation) plus one small join
# back to the node list. Ranks never leave the cluster; no collect. At 1000
# executors the edge table is hash-partitioned on src so the per-iteration
# join to ranks (also on node id) co-locates after the first exchange, and
# AQE coalesces the tiny rank-side partitions.

PR_ITERS = 5
PR_TELEPORT_E6 = 150_000  # 0.15 * 1e6
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100
_PR_SUPP_OFFSET = 1_000_000  # disjoint node-id spaces for the two sides


def _pagerank_oracle() -> str:
    steps = []
    prev = "r0"
    for k in range(1, PR_ITERS + 1):
        steps.append(f"""
r{k} AS (
  SELECT n.node,
    CAST({PR_TELEPORT_E6} + ({PR_DAMP_NUM} * coalesce(s.s, 0))
         // {PR_DAMP_DEN} AS BIGINT) AS r
  FROM n LEFT JOIN (
    SELECT e.dst AS node, sum(p.r // e.od) AS s
    FROM ed e JOIN {prev} p ON p.node = e.src
    GROUP BY e.dst
  ) s ON s.node = n.node
)""")
        prev = f"r{k}"
    return f"""
WITH e0 AS (
  SELECT DISTINCT l_partkey AS src,
    l_suppkey + {_PR_SUPP_OFFSET} AS dst
  FROM lineitem
),
e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
deg AS (SELECT src, count(*) AS od FROM e GROUP BY src),
ed AS (SELECT e.src, e.dst, d.od FROM e JOIN deg d ON d.src = e.src),
n AS (SELECT DISTINCT src AS node FROM e),
r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM n),
{",".join(steps)}
SELECT node AS node_id, r AS rank_e6 FROM {prev}
"""


@register("graph_pagerank", _pagerank_oracle())
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delegates to functions/graph.pagerank (integer-exact, co-partitioned
    edge cache — see its docstring for the contract). The bidirectional
    edge set has no dangling nodes, so the shared dangling term is
    identically zero and the chained-CTE oracle above replays the exact
    state machine."""
    from ocr_spark.functions.graph import pagerank

    li = t(spark, sf_dir, "lineitem")
    e0 = li.select(
        F.col("l_partkey").cast("bigint").alias("src"),
        (F.col("l_suppkey") + _PR_SUPP_OFFSET).cast("bigint").alias("dst"),
    ).distinct()
    e = e0.union(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    ranks = pagerank(
        e, iters=PR_ITERS, teleport_e6=PR_TELEPORT_E6,
        damp_num=PR_DAMP_NUM, damp_den=PR_DAMP_DEN,
    )
    return ranks.select(F.col("node").alias("node_id"), "rank_e6")


# --- boilerplate segment dedup (CCNet / RefinedWeb line dedup) ----------------------
# CCNet hashes every LINE of every page and drops lines seen in many pages —
# that single pass removes cookie banners, nav bars and share buttons better
# than any per-page heuristic. The driver's documents table has no newlines,
# so the graded query segments on fixed word windows; the \n-line variant for
# real extracted pages is operators/corpus.py:drop_common_lines, exercised by
# tests over generated pages.
#
# Shape: explode to (source, segment) -> one count-distinct shuffle for the
# document frequency -> join back (same key, Exchange reused) -> one groupBy
# doc_id to reassemble. Nothing quadratic; the frequency table is the only
# state and it is linear in the corpus.

BOILER_SEG_W = 2   # words per segment (driver texts are short; lines IRL)
BOILER_DF = 3      # a segment in >= DF docs of one source is boilerplate


@register(
    "dedup_lines_boiler",
    f"""
WITH w AS (
  SELECT doc_id, source, {_WORDS_SQL.format(col='text')} AS ws
  FROM documents
),
seg AS (
  SELECT doc_id, source,
    unnest(range(0, CAST(ceil(len(ws) / {BOILER_SEG_W}.0) AS INT))) AS pos,
    ws
  FROM w
),
s2 AS (
  SELECT doc_id, source, pos,
    array_to_string(
      list_slice(ws, pos * {BOILER_SEG_W} + 1,
                 pos * {BOILER_SEG_W} + {BOILER_SEG_W}), ' ') AS seg
  FROM seg
),
f AS (
  SELECT source, seg, count(DISTINCT doc_id) AS df
  FROM s2 GROUP BY source, seg
),
j AS (
  SELECT s.doc_id, s.pos, s.seg, f.df
  FROM s2 s JOIN f ON f.source = s.source AND f.seg = s.seg
)
SELECT doc_id,
  coalesce(array_to_string(
    list(seg ORDER BY pos) FILTER (WHERE df < {BOILER_DF}), ' '), '')
    AS kept_text,
  CAST(count(*) AS BIGINT) AS n_seg,
  CAST(coalesce(sum(CASE WHEN df >= {BOILER_DF} THEN 1 END), 0) AS BIGINT)
    AS n_drop
FROM j GROUP BY doc_id
""",
)
def q_dedup_lines_boiler(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    w = BOILER_SEG_W
    segs = d.select(
        "doc_id",
        "source",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, int(ceil(size({_WORDS_SPARK.format(col='text')}"
                f") / {w}.0)) - 1), i -> array_join(slice("
                f"{_WORDS_SPARK.format(col='text')}, i * {w} + 1, {w}), ' '))"
            )
        ).alias("pos", "seg"),
    )
    freq = segs.groupBy("source", "seg").agg(
        F.countDistinct("doc_id").alias("df")
    )
    j = segs.join(freq, ["source", "seg"])
    # array_sort on (pos, seg, df) structs restores document order after the
    # unordered collect_list; pos is unique per doc so the order is total
    return j.groupBy("doc_id").agg(
        F.expr(
            f"coalesce(array_join(transform(filter(array_sort("
            f"collect_list(struct(pos, df, seg))), x -> x.df < {BOILER_DF}),"
            f" x -> x.seg), ' '), '')"
        ).alias("kept_text"),
        F.count(F.lit(1)).cast("bigint").alias("n_seg"),
        F.coalesce(
            F.sum(F.when(F.col("df") >= BOILER_DF, 1)), F.lit(0)
        ).cast("bigint").alias("n_drop"),
    )


# --- DSIR importance weights --------------------------------------------------------
# Data Selection via Importance Resampling (Xie et al. 2023): estimate
# unigram distributions over a HASHED vocabulary for a target domain and for
# the raw pool, weight every raw document by sum_w log(p_target(w)/p_raw(w)),
# then keep the top slice. Hashing bounds the model at B buckets regardless
# of corpus vocabulary, which is what makes this a one-scan map-side job at
# 100 TB: the two distributions are a broadcastable B-row table.
#
# Determinism: the per-BUCKET log-ratio is rounded to e4 once (a per-row,
# order-independent quantization), and the per-document weight is the exact
# BIGINT sum of those quantized ratios over the document's tokens.

DSIR_B = 256          # hashed vocabulary size
DSIR_TARGET_LANG = "en"
_DSIR_BUCKET_SQL = (
    "(ascii(substr(md5({w}), 1, 1)) * 256 + ascii(substr(md5({w}), 2, 1)))"
    f" % {DSIR_B}"
)


@register(
    "pipe_dsir",
    f"""
WITH tok AS (
  SELECT doc_id, lang,
    unnest({_WORDS_SQL.format(col='text')}) AS w
  FROM documents
),
b AS (
  SELECT doc_id, lang, {_DSIR_BUCKET_SQL.format(w='w')} AS j FROM tok
),
cnt AS (
  SELECT j,
    1 + coalesce(sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 END), 0)
      AS ct,
    1 + count(*) AS cr
  FROM b GROUP BY j
),
tot AS (
  SELECT sum(ct) AS tt, sum(cr) AS tr FROM cnt
),
lam AS (
  SELECT j,
    CAST(round(ln((CAST(ct AS DOUBLE) * tr) / (CAST(cr AS DOUBLE) * tt))
               * 10000, 0) AS BIGINT) AS lam_e4
  FROM cnt, tot
)
SELECT b.doc_id,
  CAST(sum(lam.lam_e4) AS BIGINT) AS weight_e4,
  CAST(count(*) AS BIGINT) AS n_tokens
FROM b JOIN lam ON lam.j = b.j
GROUP BY b.doc_id
""",
)
def q_pipe_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang",
        F.explode(F.expr(_WORDS_SPARK.format(col="text"))).alias("w"),
    )
    b = tok.select(
        "doc_id", "lang",
        F.expr(_DSIR_BUCKET_SQL.format(w="w")).alias("j"),
    )
    return _dsir_weights(b)


def _dsir_weights(b: DataFrame) -> DataFrame:
    """(doc_id, weight_e4, n_tokens) from the (doc_id, lang, j) bucket
    table. The B-row count table is read twice (totals + ratios), so it is
    cached while the log-ratio model is checkpointed: the corpus is
    scanned once for counting and once for scoring — never a third time.
    """
    cnt = b.groupBy("j").agg(
        (1 + F.coalesce(
            F.sum(F.when(F.col("lang") == DSIR_TARGET_LANG, 1)), F.lit(0)
        )).alias("ct"),
        (1 + F.count(F.lit(1))).alias("cr"),
    )
    with cached(cnt):
        tot = cnt.agg(F.sum("ct").alias("tt"), F.sum("cr").alias("tr"))
        lam = cnt.crossJoin(F.broadcast(tot)).select(
            "j",
            F.expr(
                "CAST(round(ln((CAST(ct AS DOUBLE) * tr) /"
                " (CAST(cr AS DOUBLE) * tt)) * 10000, 0) AS BIGINT)"
            ).alias("lam_e4"),
        ).localCheckpoint(eager=True)
    # lam is B rows — broadcast it so scoring is a map-only pass
    return (
        b.join(F.broadcast(lam), "j")
        .groupBy("doc_id")
        .agg(
            F.sum("lam_e4").cast("bigint").alias("weight_e4"),
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        )
    )


# --- trained logistic-regression quality classifier ---------------------------------
# The CCNet/LLaMA-pipeline "learned quality filter": logistic regression over
# hashed bag-of-words features. Training IS the query — K batch-GD steps
# expressed as DataFrame joins/aggregations, so the whole fit is one Catalyst
# plan and the oracle replays the identical integer state machine in SQL.
#
# Integer state machine (w in e6 fixed point, B buckets, N docs):
#   z      = sum_{j in doc} w[j]                      (BIGINT)
#   s      = z / 1e6                                  (exact double)
#   p      = 0.5 + (s/2)/(1+|s|)                      (rational fast sigmoid)
#   err_e6 = round((p - y) * 1e6)                     (per-doc quantization)
#   g[j]   = sum over docs containing j of err_e6     (BIGINT)
#   w[j]  -= floor((g[j] * LR_NUM) / (LR_DEN * N))    (floor: g is signed)
# floor() over an exact double quotient is used instead of integer division
# because Spark's `div` truncates toward zero while DuckDB's `//` floors —
# they disagree on negatives. The quotient operands stay < 2^53 so the
# double math is exact in both engines.

LR_B = 64           # hashed feature buckets (driver-graded width)
LR_ITERS = 3
LR_NUM, LR_DEN = 3, 10   # learning rate 0.3
LR_LABEL_CHARS = 300     # y = 1 iff n_chars >= this (median-ish split)
# Two portability traps live in this expression, both found the hard way:
# 1. floor(), not round(): the rational sigmoid over the coarse integer z
#    grid lands on EXACT .5 ties at e6 (w after step 1 is a multiple of 300)
#    and the engines break ties differently — Spark's round is decimal
#    HALF_UP while DuckDB's double round is nearbyint (half-to-even). floor
#    has no tie case: an exactly-integer value floors to itself in both.
# 2. 1e6-style literals, never 1000000.0: a plain decimal literal parses as
#    DECIMAL in BOTH engines, silently switching the whole expression to
#    decimal arithmetic whose scale rules differ between them (observed as
#    last-digit drift). Scientific notation is a DOUBLE literal in both, and
#    all-double +,*,/,abs are IEEE-correctly-rounded, hence bit-identical.
_LR_SIG = "(5e-1 + (CAST(z AS DOUBLE) / 1e6 / 2) / (1e0 + abs(CAST(z AS DOUBLE) / 1e6)))"
_LR_ERR_SQL = f"CAST(floor(({_LR_SIG} - y) * 1e6) AS BIGINT)"
_LR_P_SQL = f"CAST(floor({_LR_SIG} * 1e6) AS BIGINT)"


def _lr_bucket_sql(b: int) -> str:
    return (
        "(ascii(substr(md5({w}), 1, 1)) * 256 + ascii(substr(md5({w}), 2, 1)))"
        f" % {b}"
    )


def _lr_feats_sql(b: int = LR_B) -> str:
    return f"""
f AS (
  SELECT DISTINCT doc_id,
    CASE WHEN n_chars >= {LR_LABEL_CHARS} THEN 1 ELSE 0 END AS y,
    {_lr_bucket_sql(b).format(w='w')} AS j
  FROM (
    SELECT doc_id, n_chars, unnest({_WORDS_SQL.format(col='text')}) AS w
    FROM documents
  )
),
nd AS (SELECT count(DISTINCT doc_id) AS n FROM f),
w0 AS (SELECT unnest(range(0, {b})) AS j, CAST(0 AS BIGINT) AS w)
"""


def _lr_step_sql(k: int) -> str:
    return f"""
z{k} AS (
  SELECT f.doc_id, f.y, coalesce(sum(w.w), 0) AS z
  FROM f LEFT JOIN w{k} w ON w.j = f.j
  GROUP BY f.doc_id, f.y
),
e{k} AS (SELECT doc_id, {_LR_ERR_SQL} AS err FROM z{k}),
g{k} AS (
  SELECT f.j, sum(e.err) AS g
  FROM f JOIN e{k} e ON e.doc_id = f.doc_id
  GROUP BY f.j
),
w{k + 1} AS (
  SELECT w.j,
    CAST(w.w - floor(CAST(coalesce(g.g, 0) * {LR_NUM} AS DOUBLE)
         / ({LR_DEN}e0 * (SELECT n FROM nd))) AS BIGINT) AS w
  FROM w{k} w LEFT JOIN g{k} g ON g.j = w.j
)"""


def _lr_weights_oracle(b: int = LR_B, iters: int = LR_ITERS) -> str:
    steps = ",".join(_lr_step_sql(k) for k in range(iters))
    return f"""
WITH {_lr_feats_sql(b).strip()},
{steps}
SELECT j AS bucket, w AS w_e6 FROM w{iters}
"""


def _lr_score_oracle(b: int = LR_B, iters: int = LR_ITERS) -> str:
    steps = ",".join(_lr_step_sql(k) for k in range(iters))
    k = iters
    return f"""
WITH {_lr_feats_sql(b).strip()},
{steps},
zf AS (
  SELECT f.doc_id, f.y, coalesce(sum(w.w), 0) AS z
  FROM f LEFT JOIN w{k} w ON w.j = f.j
  GROUP BY f.doc_id, f.y
)
SELECT doc_id, {_LR_P_SQL} AS p_e6,
  CAST(CASE WHEN z > 0 THEN 1 ELSE 0 END AS BIGINT) AS pred,
  CAST(y AS BIGINT) AS label
FROM zf
"""


def _lr_feats(spark: SparkSession, sf_dir: str, b: int = LR_B) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.when(F.col("n_chars") >= LR_LABEL_CHARS, 1).otherwise(0).alias("y"),
        F.explode(F.expr(_WORDS_SPARK.format(col="text"))).alias("w"),
    )
    return tok.select(
        "doc_id", "y", F.expr(_lr_bucket_sql(b).format(w="w")).alias("j")
    ).distinct()


def _lr_margins(feats: DataFrame, w: DataFrame) -> DataFrame:
    """(doc_id, y, z): each doc's integer margin under weights ``w``."""
    return (
        feats.join(F.broadcast(w), "j", "left")
        .groupBy("doc_id", "y")
        .agg(F.coalesce(F.sum("w"), F.lit(0)).alias("z"))
    )


def _lr_train(feats: DataFrame, b: int = LR_B,
              iters: int = LR_ITERS) -> DataFrame:
    """The B-row weight table after ``iters`` integer-GD steps over
    ``feats``, which the caller scopes with ``cached()`` (every step reads
    it twice). The step count is fixed, so rounds run in iterate's lazy
    mode. Weights never leave the cluster (broadcast-joined, never
    collected)."""
    nd = feats.agg(F.countDistinct("doc_id").alias("n"))

    def gd_step(w: DataFrame) -> DataFrame:
        err = _lr_margins(feats, w).select(
            "doc_id", F.expr(_LR_ERR_SQL).alias("err")
        )
        g = (
            feats.join(err, "doc_id")
            .groupBy("j")
            .agg(F.sum("err").alias("g"))
        )
        return (
            w.join(g, "j", "left")
            .crossJoin(F.broadcast(nd))
            .select(
                "j",
                F.expr(
                    f"CAST(w - floor(CAST(coalesce(g, 0) * {LR_NUM} AS DOUBLE)"
                    f" / ({LR_DEN}e0 * n)) AS BIGINT)"
                ).alias("w"),
            )
        )

    w0 = feats.sparkSession.range(b).select(
        F.col("id").cast("bigint").alias("j"),
        F.lit(0).cast("bigint").alias("w"),
    )
    w, _ = iterate(gd_step, w0, iters)
    return w


def _lr_scores(feats: DataFrame, w: DataFrame) -> DataFrame:
    return _lr_margins(feats, w).select(
        "doc_id",
        F.expr(_LR_P_SQL).alias("p_e6"),
        F.when(F.col("z") > 0, 1).otherwise(0).cast("bigint").alias("pred"),
        F.col("y").cast("bigint").alias("label"),
    )


@register("quality_lr_weights", _lr_weights_oracle())
def q_quality_lr_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    with cached(_lr_feats(spark, sf_dir)) as feats:
        w = _lr_train(feats)
    return w.select(F.col("j").alias("bucket"), F.col("w").alias("w_e6"))


@register("quality_lr_score", _lr_score_oracle())
def q_quality_lr_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    with cached(_lr_feats(spark, sf_dir)) as feats:
        return _lr_scores(feats, _lr_train(feats)).localCheckpoint(
            eager=True
        )


# --- block 3b: host-level curation & corpus hygiene -----------------------------------
# The curation moves a Common-Crawl pipeline makes at the URL/host level
# (before and around per-document filtering): URL blocklists, host-quality
# gating (RefinedWeb drops whole hosts, not just documents), anchor-text
# aggregation (the classic relevance/label signal carried by the link
# graph), and CCNet-style text normalization applied before dedup.

# UT1-style blocklist: banned hosts (a broadcast dimension join — the real
# list is ~MBs, still broadcastable) + banned path segments (map-side rlike).
URL_BLOCK_HOSTS = ("h2.example.com", "h5.example.com")
URL_BLOCK_PATH_RX = "/(ads|tracker)/"
_URL_CATS = ("news", "ads", "blog", "tracker", "docs")
_CATS_SQL = "[" + ", ".join(f"'{c}'" for c in _URL_CATS) + "]"
_CATS_SPARK = "array(" + ", ".join(f"'{c}'" for c in _URL_CATS) + ")"


@register(
    "pipe_url_filter",
    f"""
WITH u AS (
  SELECT doc_id,
    'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/'
      || list_extract({_CATS_SQL}, CAST(doc_id % 5 AS INT) + 1)
      || '/' || CAST(doc_id AS VARCHAR) AS url,
    'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host
  FROM documents
)
SELECT doc_id, url,
  CASE WHEN host IN ('{URL_BLOCK_HOSTS[0]}', '{URL_BLOCK_HOSTS[1]}')
         THEN 'host'
       WHEN regexp_matches(url, '{URL_BLOCK_PATH_RX}') THEN 'path'
       ELSE 'kept' END AS verdict
FROM u
""",
)
def q_pipe_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL blocklist screen: banned hosts via a BROADCAST anti-ish join
    (left join + verdict, so the row survives with its reason), banned path
    segments via a map-side regex. One narrow pass; the blocklist is the
    only state and it broadcasts."""
    d = t(spark, sf_dir, "documents")
    u = d.select(
        "doc_id",
        F.concat(
            F.lit("https://h"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/"),
            F.expr(f"element_at({_CATS_SPARK}, CAST(doc_id % 5 AS INT) + 1)"),
            F.lit("/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.concat(
            F.lit("h"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com"),
        ).alias("host"),
    )
    block = spark.createDataFrame(
        [(h,) for h in URL_BLOCK_HOSTS], ["bhost"]
    )
    j = u.join(F.broadcast(block), u["host"] == block["bhost"], "left")
    return j.select(
        "doc_id",
        "url",
        F.when(F.col("bhost").isNotNull(), "host")
        .when(F.col("url").rlike(URL_BLOCK_PATH_RX), "path")
        .otherwise("kept")
        .alias("verdict"),
    )


# RefinedWeb-style host gating: a HOST whose mean per-doc quality is below
# the gate is dropped wholesale (spam farms are host-shaped, not
# document-shaped). Quality = per-doc stopword density quantized e4 BEFORE
# the per-host integer mean, so the gate decision is bit-exact.
HOST_Q_GATE_E4 = 360


@register(
    "pipe_host_filter",
    f"""
WITH q AS (
  SELECT doc_id, source,
    CAST(floor(len(list_filter({_WORDS_SQL.format(col='text')},
        w -> list_contains({_LANG_CASE_SQL}, lower(w)))) * 1e4
      / len({_WORDS_SQL.format(col='text')})) AS BIGINT) AS d_e4
  FROM documents
),
h AS (
  SELECT source, CAST(sum(d_e4) // count(*) AS BIGINT) AS host_q_e4
  FROM q GROUP BY source
)
SELECT q.doc_id, q.source, h.host_q_e4
FROM q JOIN h ON h.source = q.source
WHERE h.host_q_e4 >= {HOST_Q_GATE_E4}
""",
)
def q_pipe_host_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level quality gate: per-doc density e4 -> per-source integer
    mean (one agg Exchange) -> join back on the same key (Exchange reused)
    -> gate. Whole sources drop together; nothing quadratic."""
    from ocr_spark.queries import _LANG_CASE_SPARK

    d = t(spark, sf_dir, "documents")
    d = d.withColumn("stops", F.expr(_LANG_CASE_SPARK))
    q = d.select(
        "doc_id",
        "source",
        F.expr(
            f"CAST(floor(size(filter({_WORDS_SPARK.format(col='text')},"
            f" w -> array_contains(stops, lower(w)))) * 1e4"
            f" / size({_WORDS_SPARK.format(col='text')})) AS BIGINT)"
        ).alias("d_e4"),
    )
    h = q.groupBy("source").agg(
        F.expr("CAST(sum(d_e4) div count(*) AS BIGINT)").alias("host_q_e4")
    )
    return (
        q.join(h, "source")
        .filter(F.col("host_q_e4") >= HOST_Q_GATE_E4)
        .select("doc_id", "source", "host_q_e4")
    )


# Anchor-text aggregation: what the web CALLS a page is a quality/topic
# signal (the classic use of the WAT link graph). Top-K anchor tokens per
# destination host, graded end-to-end through the REAL parse.
ANCHOR_TOP_K = 5


@register(
    "graph_anchor_text",
    f"""
WITH d AS (
  SELECT doc_id,
    's' || CAST(doc_id % 5 AS VARCHAR) || '.src.example' AS src_host,
    regexp_replace(list_extract({_WORDS_SQL.format(col='text')}, 1),
                   '[^a-z0-9]', '', 'g') AS w1
  FROM documents
),
a AS (
  SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.partner.example' AS dst_host,
    'partner ' || CAST(doc_id AS VARCHAR) AS anchor FROM d
  UNION ALL
  SELECT src_host AS dst_host, w1 AS anchor FROM d
  UNION ALL
  SELECT 'h' || CAST((doc_id + 3) % 7 AS VARCHAR) || '.partner.example',
    'next ' || CAST(doc_id AS VARCHAR) FROM d
),
tok AS (
  SELECT dst_host, unnest(string_split(anchor, ' ')) AS token FROM a
  WHERE anchor != ''
),
cnt AS (
  SELECT dst_host, token, CAST(count(*) AS BIGINT) AS n
  FROM tok GROUP BY dst_host, token
),
rk AS (
  SELECT dst_host, token, n,
    row_number() OVER (PARTITION BY dst_host ORDER BY n DESC, token) AS r
  FROM cnt
)
SELECT dst_host, token, n, CAST(r AS INT) AS rank
FROM rk WHERE r <= {ANCHOR_TOP_K}
""",
)
def q_graph_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.operators.extract import extract_outlinks

    links = extract_outlinks(_link_pages(spark, sf_dir))
    src_host = F.lower(
        F.regexp_extract(
            F.col("url"),
            r"^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^/?#@]*@)?([^/?#:]*)", 1,
        )
    )
    tok = (
        links.filter(F.col("anchor") != "")
        .select(
            link_host_expr(F.col("href"), src_host).alias("dst_host"),
            F.explode(F.split("anchor", " ")).alias("token"),
        )
    )
    cnt = tok.groupBy("dst_host", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w = Window.partitionBy("dst_host").orderBy(F.desc("n"), "token")
    return (
        cnt.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= ANCHOR_TOP_K)
        .select("dst_host", "token", "n", "rank")
    )


# CCNet-style normalization applied before dedup: lowercase, unify curly
# quotes/dashes, hash digits to 0, strip ASCII punctuation, collapse
# whitespace. The driver corpus is already clean [a-z0-9 ], so the graded
# query first WRAPS each text in deterministic noise (case, curly quotes,
# em-dash, digits, punctuation) derived from doc_id — the normalizer is
# exercised on every rule, and the oracle applies the identical frozen
# regex chain. CJK/unicode letters are preserved (only ASCII punctuation
# and the named typographic marks are touched). The Spark side is built
# with the PYTHON column API (patterns never pass through the SQL string
# parser); the DuckDB side escapes quotes per SQL rules — embedding this
# character class in a Spark SQL literal would mangle the backslashes.
_NORM_STEPS = (
    ("[\u201c\u201d]", '"'),
    ("[\u2018\u2019]", "'"),
    ("[\u2013\u2014]", "-"),
    ("[0-9]", "0"),
    ("[!#$%&()*+,./:;<=>?@\\[\\]^_`{|}~\"'-]", " "),
    ("\\s+", " "),
)


def _norm_duck(col: str) -> str:
    expr = col
    for pat, rep in _NORM_STEPS:
        pq = pat.replace("'", "''")
        rq = rep.replace("'", "''")
        expr = f"regexp_replace({expr}, '{pq}', '{rq}', 'g')"
    return f"trim(lower({expr}))"


def _norm_spark(col: Column) -> Column:
    expr = col
    for pat, rep in _NORM_STEPS:
        expr = F.regexp_replace(expr, pat, rep)
    return F.trim(F.lower(expr))


_NOISY_DUCK = (
    "'\u201cQ' || CAST(doc_id % 100 AS VARCHAR) || '\u201d \u2014 ' ||"
    " upper(substr(text, 1, 8)) || '  (v' || CAST(doc_id % 10 AS VARCHAR)"
    " || '.' || CAST(doc_id % 7 AS VARCHAR) || '); ' || text"
)


def _noisy_spark(doc_id: Column, text: Column) -> Column:
    return F.concat(
        F.lit("\u201cQ"), (doc_id % 100).cast("string"),
        F.lit("\u201d \u2014 "), F.upper(F.substring(text, 1, 8)),
        F.lit("  (v"), (doc_id % 10).cast("string"), F.lit("."),
        (doc_id % 7).cast("string"), F.lit("); "), text,
    )


@register(
    "text_normalize",
    f"""
SELECT doc_id, {_norm_duck(_NOISY_DUCK)} AS norm_text,
  md5({_norm_duck(_NOISY_DUCK)}) AS norm_md5
FROM documents
""",
)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    norm = _norm_spark(_noisy_spark(F.col("doc_id"), F.col("text")))
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        F.md5(norm).alias("norm_md5"),
    )


@register("stream_hostlinks", _HOSTLINKS_ORACLE)
def q_stream_hostlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming link-graph maintenance as a driver-visible query: the
    wrapped pages arrive as file micro-batches (maxFilesPerTrigger=1 over
    a 3-file copy of the corpus), each batch's outlinks fold into
    exactly-once host-edge deltas, and the returned totals must equal the
    BATCH aggregation — the same first-principles oracle graph_hostlinks
    uses. Additive deltas make the totals independent of how the file
    source slices micro-batches."""
    import os
    import tempfile

    from ocr_spark.streaming.incremental import (
        hostlinks_totals,
        incremental_hostlinks,
    )

    work = tempfile.mkdtemp(prefix="ocr-spark-stream-lg-")
    src_dir = os.path.join(work, "src")
    _link_pages(spark, sf_dir).repartition(3).write.parquet(src_dir)
    out = os.path.join(work, "edges")
    ckpt = os.path.join(work, "ckpt")
    writer, _ = incremental_hostlinks(spark, src_dir, out, ckpt)
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return hostlinks_totals(spark, out)


# Production widths for the learned-quality family, following the registry's
# *_prod convention (dedup_minhash_prod, dedup_substr_prod): same state
# machine, real knobs. B=1024 hashed buckets is fastText-order capacity for
# a quality filter (collision rate ~vocab/B instead of ~vocab/64); one more
# GD step. DSIR at B=2048 (the paper uses 10^4-10^5 hashed buckets at
# full-web scale; the bucket table stays a broadcastable model at any of
# these widths). Cost scales linearly in corpus tokens, not in B.
LR_PROD_B = 1024
LR_PROD_ITERS = 4


@register(
    "quality_lr_prod",
    _lr_score_oracle(b=LR_PROD_B, iters=LR_PROD_ITERS),
)
def q_quality_lr_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    with cached(_lr_feats(spark, sf_dir, LR_PROD_B)) as feats:
        w = _lr_train(feats, b=LR_PROD_B, iters=LR_PROD_ITERS)
        return _lr_scores(feats, w).localCheckpoint(eager=True)


DSIR_PROD_B = 2048


@register(
    "pipe_dsir_prod",
    f"""
WITH tok AS (
  SELECT doc_id, lang,
    unnest({_WORDS_SQL.format(col='text')}) AS w
  FROM documents
),
b AS (
  SELECT doc_id, lang,
    (ascii(substr(md5(w), 1, 1)) * 256 + ascii(substr(md5(w), 2, 1)))
      % {DSIR_PROD_B} AS j
  FROM tok
),
cnt AS (
  SELECT j,
    1 + coalesce(sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 END), 0)
      AS ct,
    1 + count(*) AS cr
  FROM b GROUP BY j
),
tot AS (
  SELECT sum(ct) AS tt, sum(cr) AS tr FROM cnt
),
lam AS (
  SELECT j,
    CAST(round(ln((CAST(ct AS DOUBLE) * tr) / (CAST(cr AS DOUBLE) * tt))
               * 10000, 0) AS BIGINT) AS lam_e4
  FROM cnt, tot
)
SELECT b.doc_id,
  CAST(sum(lam.lam_e4) AS BIGINT) AS weight_e4,
  CAST(count(*) AS BIGINT) AS n_tokens
FROM b JOIN lam ON lam.j = b.j
GROUP BY b.doc_id
""",
)
def q_pipe_dsir_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang",
        F.explode(F.expr(_WORDS_SPARK.format(col="text"))).alias("w"),
    )
    bexpr = (
        "(ascii(substr(md5(w), 1, 1)) * 256 + ascii(substr(md5(w), 2, 1)))"
        f" % {DSIR_PROD_B}"
    )
    b = tok.select("doc_id", "lang", F.expr(bexpr).alias("j"))
    return _dsir_weights(b)


# ---------------------------------------------------------------------------
# SPEC §6 page metadata through the REAL parse
# ---------------------------------------------------------------------------
# Wrapped pages exercise every §6 capture rule: entity + whitespace torture
# in the title (one arm omits it), case-varied meta name, token-list rel
# with §5.4 href normalization, og:title, and an in-body <svg> decoy that
# must NOT be the document title. The oracle reconstructs all four fields
# from doc_id arithmetic — header serialization, tokenizer attr handling,
# skip-region scoping and the normalization rules all sit under the hash.

_META_ORACLE = """
SELECT
  'https://s' || CAST(doc_id % 5 AS VARCHAR) || '.src.example/d/'
    || CAST(doc_id AS VARCHAR) AS url,
  CASE WHEN doc_id % 4 <> 0
       THEN 'Doc ' || CAST(doc_id AS VARCHAR) || ' & more'
       ELSE '' END AS title,
  CASE WHEN doc_id % 3 = 0
       THEN 'summary of ' || CAST(doc_id AS VARCHAR)
       ELSE '' END AS description,
  CASE WHEN doc_id % 2 = 0
       THEN 'https://s' || CAST(doc_id % 5 AS VARCHAR)
            || '.src.example/c/' || CAST(doc_id AS VARCHAR)
       ELSE '' END AS canonical,
  CASE WHEN doc_id % 5 = 0
       THEN 'OG ' || CAST(doc_id AS VARCHAR)
       ELSE '' END AS og_title
FROM documents
"""


def _meta_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    title = F.when(
        F.col("doc_id") % 4 != 0,
        F.concat(F.lit("<title> Doc \n "), did, F.lit("  &amp; more </title>")),
    ).otherwise(F.lit(""))
    desc = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.lit('<meta name=" Description " content=" summary  of '),
                 did, F.lit(' ">')),
    ).otherwise(F.lit(""))
    canon = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit('<link rel="alternate Canonical" href=" https://s'),
                 (F.col("doc_id") % 5).cast("string"),
                 F.lit(".src.example/c/"), did, F.lit('\t">')),
    ).otherwise(F.lit(""))
    og = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.lit('<meta property="OG:title" content="OG '), did,
                 F.lit('">')),
    ).otherwise(F.lit(""))
    return d.select(
        F.concat(
            F.lit("https://s"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".src.example/d/"), did,
        ).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.encode(
            F.concat(
                F.lit("<html><head>"), title, desc, canon, og,
                F.lit("</head><body><svg><title>decoy</title></svg><p>body "),
                did, F.lit(" the of it</p></body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
        F.lit("en").alias("lang"),
    )


@register("extract_meta", _META_ORACLE)
def q_extract_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.operators.extract import extract_metadata

    m = extract_metadata(_meta_pages(spark, sf_dir))
    return m.select("url", "title", "description", "canonical", "og_title")


_LINKS_RESOLVED_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
    'https://s' || CAST(doc_id % 5 AS VARCHAR) || '.src.example/d/'
      || CAST(doc_id AS VARCHAR) AS url
  FROM documents
)
SELECT url, CAST(0 AS INT) AS link_id,
  'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.partner.example/x/'
    || CAST(doc_id AS VARCHAR) AS href_abs
FROM d
UNION ALL
SELECT url, CAST(1 AS INT) AS link_id,
  'https://s' || CAST(doc_id % 5 AS VARCHAR) || '.src.example/w/'
    || CAST(doc_id AS VARCHAR) || '?ref=1' AS href_abs
FROM d
UNION ALL
SELECT url, CAST(2 AS INT) AS link_id,
  'https://h' || CAST((doc_id + 3) % 7 AS VARCHAR) || '.partner.example/y?d='
    || CAST(doc_id AS VARCHAR) AS href_abs
FROM d
"""


@register("extract_links_resolved", _LINKS_RESOLVED_ORACLE)
def q_extract_links_resolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WAT link record end-to-end: the REAL parse (extract_outlinks)
    composed with the REAL RFC 3986 resolution (urlnorm.resolve_href) —
    absolute hrefs pass through, path-absolute ones attach the page
    origin, protocol-relative ones adopt the page scheme. Still one
    MapInArrow hop + a JVM projection: zero Exchange. The oracle rebuilds
    every absolute URL from doc_id arithmetic."""
    from ocr_spark.functions.urlnorm import resolve_href
    from ocr_spark.operators.extract import extract_outlinks

    links = extract_outlinks(_link_pages(spark, sf_dir))
    return links.select(
        "url", "link_id",
        resolve_href(F.col("url"), F.col("href")).alias("href_abs"),
    )


# --- HITS (hubs & authorities) -------------------------------------------------------
# Kleinberg's HITS next to PageRank completes the classic link-analysis
# pair: PageRank scores global importance, HITS scores the hub/authority
# duality a crawl scheduler uses to find index pages vs content pages.
# Same determinism contract as pagerank: scores are e6 fixed-point
# BIGINTs; normalization is by the MAX (an integer), not the L2 norm (a
# sqrt would leave the integer domain); division operands are always
# non-negative, so Spark `DIV` and DuckDB `//` agree and the unrolled-CTE
# oracle replays the state machine exactly.
#
# Graph: the DIRECTED part -> supplier bipartite edges from lineitem
# (distinct pairs; same node-id spaces as graph_pagerank). Directed means
# parts accrue only hub mass and suppliers only authority mass — the
# bipartite special case that makes the expected fixpoint easy to reason
# about in tests. At corpus scale the same loop runs over
# graph_hostlinks' host edges.

HITS_ITERS = 3


def _hits_oracle() -> str:
    steps = []
    prev_h = "h0"
    for k in range(1, HITS_ITERS + 1):
        steps.append(f"""
ar{k} AS (
  SELECT e.dst AS node, sum(p.h) AS s
  FROM e JOIN {prev_h} p ON p.node = e.src GROUP BY e.dst
),
a{k} AS (
  SELECT n.node,
    CAST(coalesce((ar.s * 1000000) // (SELECT max(s) FROM ar{k}), 0)
         AS BIGINT) AS a
  FROM n LEFT JOIN ar{k} ar ON ar.node = n.node
),
hr{k} AS (
  SELECT e.src AS node, sum(q.a) AS s
  FROM e JOIN a{k} q ON q.node = e.dst GROUP BY e.src
),
h{k} AS (
  SELECT n.node,
    CAST(coalesce((hr.s * 1000000) // (SELECT max(s) FROM hr{k}), 0)
         AS BIGINT) AS h
  FROM n LEFT JOIN hr{k} hr ON hr.node = n.node
)""")
        prev_h = f"h{k}"
    return f"""
WITH e AS (
  SELECT DISTINCT l_partkey AS src,
    l_suppkey + {_PR_SUPP_OFFSET} AS dst
  FROM lineitem
),
n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM n),
{",".join(steps)}
SELECT n.node AS node_id, h.h AS hub_e6, a.a AS auth_e6
FROM n JOIN h{HITS_ITERS} h ON h.node = n.node
JOIN a{HITS_ITERS} a ON a.node = n.node
"""


@register("graph_hits", _hits_oracle())
def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delegates to functions/graph.hits (integer-exact, max-normalized,
    eager localCheckpoint'd rounds — see its docstring). The returned
    frame is checkpointed (plan already evaluated)."""
    from ocr_spark.functions.graph import hits

    li = t(spark, sf_dir, "lineitem")
    e = li.select(
        F.col("l_partkey").cast("bigint").alias("src"),
        (F.col("l_suppkey") + _PR_SUPP_OFFSET).cast("bigint").alias("dst"),
    ).distinct()
    out = hits(e, iters=HITS_ITERS)
    return out.select(
        F.col("node").alias("node_id"), "hub_e6", "auth_e6"
    )


# --- triangle counting -----------------------------------------------------------
# The clustering-coefficient primitive. The graded graph is derived from
# doc_id ARITHMETIC (u = id % 60, v = (id*7 + 3) % 60) so both engines
# construct identical edges without sharing any code; the bipartite
# lineitem graph the PageRank/HITS rows use is triangle-free by
# construction, hence useless here.
#
# Algorithm: degree orientation — each undirected edge points from the
# (degree, id)-smaller endpoint to the larger, making the orientation
# acyclic, so every triangle has exactly ONE source node and is counted
# once by joining wedges (a→b, a→c with b<c is NOT needed; the closing
# edge b→c fixes the order). Scale: max out-degree under this orientation
# is O(sqrt(2m)), which bounds the wedge join — the reason this is THE
# distributed formulation (vs. the naive 3-cycle join whose hub wedges
# explode quadratically in the hub degree).

# three affine edge families on 40 nodes (a functional single-family map
# has out-degree 1 per residue class and is triangle-free — found the hard
# way); saturates to the same 92-edge graph at every SF >= 40 docs
_TRI_FAMS = ((7, 3, 11, 5), (13, 7, 17, 11), (19, 1, 23, 9))
_TRI_M = 40


def _tri_edges_duck() -> str:
    arms = "\nUNION ALL\n".join(
        f"SELECT (doc_id * {a} + {b}) % {_TRI_M} AS x,"
        f" (doc_id * {c} + {d}) % {_TRI_M} AS y FROM documents"
        for a, b, c, d in _TRI_FAMS
    )
    return f"""
SELECT DISTINCT least(x, y) AS u, greatest(x, y) AS v
FROM ({arms}) WHERE x != y
"""


_TRI_EDGES_DUCK = _tri_edges_duck()

_TRIANGLES_ORACLE = f"""
WITH _e AS ({_TRI_EDGES_DUCK}),
_deg AS (
  SELECT n, count(*) AS d FROM (
    SELECT u AS n FROM _e UNION ALL SELECT v AS n FROM _e
  ) GROUP BY 1
),
_o AS (
  -- orient from (deg, id)-smaller to larger
  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS a,
         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS b
  FROM _e e JOIN _deg du ON du.n = e.u JOIN _deg dv ON dv.n = e.v
),
_tri AS (
  SELECT w.a, w.b, w.c FROM (
    SELECT o1.a, o1.b AS b, o2.b AS c
    FROM _o o1 JOIN _o o2 ON o2.a = o1.b
  ) w JOIN _o o3 ON o3.a = w.a AND o3.b = w.c
),
_n AS (
  SELECT n, count(*) AS n_triangles FROM (
    SELECT a AS n FROM _tri UNION ALL
    SELECT b AS n FROM _tri UNION ALL
    SELECT c AS n FROM _tri
  ) GROUP BY 1
)
SELECT CAST(n AS BIGINT) AS node_id,
       CAST(n_triangles AS BIGINT) AS n_triangles FROM _n
"""


@register("graph_triangles", _TRIANGLES_ORACLE)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts under degree orientation (see block
    comment): two equi-joins over the oriented edge list, wedge size
    bounded by the O(sqrt m) oriented out-degree. Ties in (deg, id) are
    impossible ties-in-order: the pair is unique per node."""
    d = t(spark, sf_dir, "documents")
    pairs = ", ".join(
        f"struct((doc_id * {a} + {b}) % {_TRI_M} AS x,"
        f" (doc_id * {c} + {dd}) % {_TRI_M} AS y)"
        for a, b, c, dd in _TRI_FAMS
    )
    e = (
        d.selectExpr(f"explode(array({pairs})) AS _p")
        .selectExpr(
            "least(_p.x, _p.y) AS u", "greatest(_p.x, _p.y) AS v"
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.selectExpr("explode(array(u, v)) AS n")
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    o = (
        e.join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), "v")
        .selectExpr(
            "CASE WHEN struct(du, u) < struct(dv, v) THEN u ELSE v END AS a",
            "CASE WHEN struct(du, u) < struct(dv, v) THEN v ELSE u END AS b",
        )
    )
    wedges = o.alias("o1").join(
        o.alias("o2"), F.col("o1.b") == F.col("o2.a")
    ).select(
        F.col("o1.a").alias("wa"),
        F.col("o1.b").alias("wb"),
        F.col("o2.b").alias("wc"),
    )
    tri = wedges.join(
        o.alias("o3"),
        (F.col("wa") == F.col("o3.a")) & (F.col("wc") == F.col("o3.b")),
    ).select("wa", "wb", "wc")
    return (
        tri.selectExpr("explode(array(wa, wb, wc)) AS node_id")
        .groupBy("node_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )


# --- host-graph connected components (site families) ---------------------------------
# The "site family" grouping every crawl curator wants: hosts connected by
# links form one family (mirrors, language editions, CDN hosts), used for
# family-level quality decisions and dedup scoping. Edge set designed for
# REAL component structure: each doc links from host n{f}{a|b}.fam.example
# (parity of doc_id) to the family hub n{f}hub.fam.example, f = doc_id % 39
# — 39 star components of exactly 3 hosts whose a—hub—b merge is TRANSITIVE
# (a and b never share an edge), so the fixpoint propagation is actually
# exercised, not just a one-hop star pass. The pipeline is the real one:
# parse (extract_outlinks) -> host attribution (link_host_expr) -> CC over
# the host–edge bipartite graph (functions/graph.py — every edge is a
# 2-member bucket), linear per round, pair-path-free. Oracle: first-
# principles host derivation from doc_id arithmetic + recursive
# reachability, nothing shared with the Spark side.


def _family_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    fam = (F.col("doc_id") % 39).cast("string")
    side = F.when(F.col("doc_id") % 2 == 0, "a").otherwise("b")
    did = F.col("doc_id").cast("string")
    return d.select(
        F.concat(F.lit("https://n"), fam, side,
                 F.lit(".fam.example/d/"), did).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.encode(
            F.concat(
                F.lit('<html><body><p>hub link <a href="https://n'), fam,
                F.lit('hub.fam.example/x/'), did,
                F.lit('">to the hub</a></p></body></html>'),
            ),
            "UTF-8",
        ).alias("html"),
        F.lit("en").alias("lang"),
    )


_HOST_CC_ORACLE = """
WITH RECURSIVE d AS (
  SELECT DISTINCT
    'n' || CAST(doc_id % 39 AS VARCHAR)
        || CASE WHEN doc_id % 2 = 0 THEN 'a' ELSE 'b' END
        || '.fam.example' AS src,
    'n' || CAST(doc_id % 39 AS VARCHAR) || 'hub.fam.example' AS dst
  FROM documents
),
edges AS (SELECT src, dst FROM d UNION SELECT dst, src FROM d),
nodes AS (SELECT DISTINCT src AS h FROM edges),
reach AS (
  SELECT h, h AS r FROM nodes
  UNION
  SELECT e.dst AS h, reach.r FROM reach JOIN edges e ON e.src = reach.h
)
SELECT h AS host, min(r) AS rep FROM reach GROUP BY h
"""


@register("graph_host_components", _HOST_CC_ORACLE)
def q_graph_host_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.functions.graph import bucket_connected_components
    from ocr_spark.operators.extract import extract_outlinks

    links = extract_outlinks(_family_pages(spark, sf_dir))
    src_host = F.lower(
        F.regexp_extract(
            F.col("url"),
            r"^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^/?#@]*@)?([^/?#:]*)", 1,
        )
    )
    edges = links.select(
        src_host.alias("src"),
        link_host_expr(F.col("href"), src_host).alias("dst"),
    ).distinct()
    eid = F.concat(F.col("src"), F.lit(">"), F.col("dst"))
    memb = (
        edges.select(F.col("src").alias("host"), eid.alias("eid"))
        .unionByName(edges.select(F.col("dst").alias("host"), eid.alias("eid")))
        .distinct()
    )
    return bucket_connected_components(
        memb, id_col="host", bucket_cols=("eid",)
    ).select("host", "rep")


# --- multi-source BFS distances --------------------------------------------------------
# Crawl-frontier reachability: "how many hops is every host from the seed
# list" drives crawl depth budgets and link-spam moats. Graded over the
# same bidirectional part<->supplier graph pagerank uses (dense enough to
# exercise 4 hops); seeds are the partkeys divisible by 97. The DuckDB
# oracle is a recursive CTE with UNION (not UNION ALL) semantics — the
# state set is bounded by |V| x hops, then min(d) collapses to nearest-seed
# distance, which the Spark side produces structurally (a node is labeled
# the first round it appears).

_BFS_HOPS = 4

_BFS_ORACLE = f"""
WITH RECURSIVE e0 AS (
  SELECT DISTINCT l_partkey AS src, l_suppkey + {_PR_SUPP_OFFSET} AS dst
  FROM lineitem
),
e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
walk(node, d) AS (
  SELECT DISTINCT src AS node, 0 AS d FROM e0 WHERE src % 97 = 0
  UNION
  SELECT e.dst, w.d + 1 FROM walk w JOIN e ON e.src = w.node
  WHERE w.d < {_BFS_HOPS}
)
SELECT node, CAST(min(d) AS BIGINT) AS dist
FROM walk GROUP BY node
"""


@register("graph_bfs_dist", _BFS_ORACLE)
def q_graph_bfs_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delegates to functions/graph.bfs_distances (frontier expansion,
    per-round anti-join against the settled set, eager rounds — see its
    docstring). Hop counts are exact integers, so the recursive-CTE
    oracle matches bit-for-bit."""
    from ocr_spark.functions.graph import bfs_distances

    li = t(spark, sf_dir, "lineitem")
    e0 = li.select(
        F.col("l_partkey").cast("bigint").alias("src"),
        (F.col("l_suppkey") + _PR_SUPP_OFFSET).cast("bigint").alias("dst"),
    ).distinct()
    e = e0.union(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    seeds = e0.filter(F.col("src") % 97 == 0).select(
        F.col("src").alias("node")
    ).distinct()
    return bfs_distances(e, seeds, _BFS_HOPS).select("node", "dist")


# --- label-propagation communities ---------------------------------------------------
# The community layer between connected components (any path merges) and
# clustering: LPA keeps dense groups intact across sparse bridges. The
# graded graph plants 6 communities of 11 nodes from doc_id arithmetic —
# two affine intra-community edge families (t-coefficients 7 and 5 mod
# 11, both coprime, so the families sweep the full community) plus a
# sparse bridge family (doc_id % 29 == 0) between adjacent communities.
# CC would fuse every bridged pair into one blob; 3 LPA rounds keep the
# planted structure (pinned in tests/test_graph.py).

_LPA_ITERS = 3


def _lpa_edges_duck() -> str:
    return """
SELECT DISTINCT least(x, y) AS src, greatest(x, y) AS dst FROM (
  SELECT (doc_id % 6) * 11 + (doc_id * 7 + 1) % 11 AS x,
         (doc_id % 6) * 11 + (doc_id * 5 + 3) % 11 AS y
  FROM documents
  UNION ALL
  SELECT (doc_id % 6) * 11 + doc_id % 11 AS x,
         ((doc_id + 1) % 6) * 11 + (doc_id * 3) % 11 AS y
  FROM documents WHERE doc_id % 29 = 0
) WHERE x != y
"""


def _lpa_oracle() -> str:
    rounds = []
    prev = "l0"
    for k in range(1, _LPA_ITERS + 1):
        rounds.append(f"""
c{k} AS (
  SELECT u.src AS n, p.lbl, count(*) AS c
  FROM und u JOIN {prev} p ON p.node = u.dst
  GROUP BY 1, 2
),
l{k} AS (
  SELECT n AS node, lbl FROM (
    SELECT n, lbl,
      row_number() OVER (PARTITION BY n ORDER BY c DESC, lbl) AS rn
    FROM c{k}
  ) WHERE rn = 1
)""")
        prev = f"l{k}"
    return f"""
WITH e AS ({_lpa_edges_duck()}),
und AS (
  SELECT src, dst FROM e
  UNION
  SELECT dst AS src, src AS dst FROM e
),
n AS (SELECT DISTINCT src AS node FROM und),
l0 AS (SELECT node, node AS lbl FROM n),
{",".join(rounds)}
SELECT CAST(node AS BIGINT) AS node_id,
       CAST(lbl AS BIGINT) AS community
FROM {prev}
"""


@register("graph_label_prop", _lpa_oracle())
def q_graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous LPA over the planted-community graph: per round, one
    label join + one (node, label) count + one argmax window
    (functions/graph.label_propagation). Deterministic tie-break by
    smallest label; oracle replays all rounds as chained CTEs."""
    from ocr_spark.functions.graph import label_propagation

    d = t(spark, sf_dir, "documents")
    intra = d.selectExpr(
        "(doc_id % 6) * 11 + (doc_id * 7 + 1) % 11 AS x",
        "(doc_id % 6) * 11 + (doc_id * 5 + 3) % 11 AS y",
    )
    bridge = d.filter("doc_id % 29 = 0").selectExpr(
        "(doc_id % 6) * 11 + doc_id % 11 AS x",
        "((doc_id + 1) % 6) * 11 + (doc_id * 3) % 11 AS y",
    )
    e = (
        intra.union(bridge)
        .selectExpr("least(x, y) AS src", "greatest(x, y) AS dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    out = label_propagation(e, iters=_LPA_ITERS)
    return out.select(
        F.col("node").cast("bigint").alias("node_id"),
        F.col("community").cast("bigint").alias("community"),
    )


# --- personalized PageRank -----------------------------------------------------------
# The related-pages primitive: restart the walk at a SEED set so mass
# concentrates in the seeds' neighborhood (global pagerank's stationary
# mass spreads graph-wide). Same e6 integer state machine, seed-scoped
# teleport + dangling redistribution; the oracle unrolls every round.

_PPR_ITERS = 4


def _ppr_oracle() -> str:
    tele, dn, dd = 150_000, 85, 100
    rounds = []
    prev = "r0"
    for k in range(1, _PPR_ITERS + 1):
        rounds.append(f"""
dm{k} AS (
  SELECT coalesce(sum(p.r), 0) AS dm
  FROM {prev} p JOIN dang d ON d.node = p.node
),
c{k} AS (
  SELECT e.dst AS node, sum(p.r // e.ow) AS s
  FROM ew e JOIN {prev} p ON p.node = e.src GROUP BY 1
),
r{k} AS (
  SELECT n.node, CAST(
    CASE WHEN s2.node IS NOT NULL THEN {tele} ELSE 0 END
    + ({dn} * (coalesce(c.s, 0)
       + CASE WHEN s2.node IS NOT NULL
              THEN (SELECT dm FROM dm{k})
                   // (SELECT count(*) FROM sds)
              ELSE 0 END)) // {dd}
    AS BIGINT) AS r
  FROM n LEFT JOIN c{k} c ON c.node = n.node
  LEFT JOIN sds s2 ON s2.node = n.node
)""")
        prev = f"r{k}"
    return f"""
WITH e AS (
  SELECT DISTINCT l_partkey AS src,
    l_suppkey + {_PR_SUPP_OFFSET} AS dst
  FROM lineitem
),
ow AS (SELECT src, count(*) AS ow FROM e GROUP BY 1),
ew AS (SELECT e.src, e.dst, ow.ow FROM e JOIN ow USING (src)),
n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
sds AS (SELECT DISTINCT src AS node FROM e WHERE src % 97 = 0),
dang AS (SELECT node FROM n WHERE node NOT IN (SELECT src FROM e)),
r0 AS (
  SELECT n.node,
    CAST(CASE WHEN s2.node IS NOT NULL THEN 1000000 ELSE 0 END
         AS BIGINT) AS r
  FROM n LEFT JOIN sds s2 ON s2.node = n.node
),
{",".join(rounds)}
SELECT n.node AS node_id, r.r AS rank_e6
FROM n JOIN {prev} r ON r.node = n.node
"""


@register("graph_ppr", _ppr_oracle())
def q_graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delegates to functions/graph.personalized_pagerank over the
    part→supplier bipartite edges with the BFS entry's seed rule
    (src % 97 == 0). Integer-exact; oracle replays all rounds."""
    from ocr_spark.functions.graph import personalized_pagerank

    li = t(spark, sf_dir, "lineitem")
    # RAW projected edges — personalized_pagerank dedupes once, in
    # place on its src-partitioned cache (a caller-side distinct here
    # would add a full extra shuffle of the edge relation)
    e = li.select(
        F.col("l_partkey").cast("bigint").alias("src"),
        (F.col("l_suppkey") + _PR_SUPP_OFFSET).cast("bigint").alias("dst"),
    )
    seeds = e.filter(F.col("src") % 97 == 0).select(
        F.col("src").alias("node")
    )
    out = personalized_pagerank(e, seeds, iters=_PPR_ITERS)
    return out.select(
        F.col("node").cast("bigint").alias("node_id"), "rank_e6"
    )


# --- quality-model calibration (round 4 close) ---------------------------------------
# The ML-eval step after quality_lr_score: bucket the model's e6
# probabilities into deciles and compare each bucket's MEAN PREDICTED
# probability with its OBSERVED positive rate — the reliability diagram
# (Niculescu-Mizil & Caruana 2005) as integer rows. Everything is
# BIGINT: bucket = p_e6 * 10 DIV 1000001 (0..9), mean prediction and
# observed rate are e6 floor divisions of exact sums. One aggregation
# over the scored relation; the oracle replays training + scoring +
# bucketing end-to-end through the same chained CTEs as the lr rows.

def _lr_calibration_oracle(b: int = LR_B, iters: int = LR_ITERS) -> str:
    steps = ",".join(_lr_step_sql(k) for k in range(iters))
    k = iters
    return f"""
WITH {_lr_feats_sql(b).strip()},
{steps},
zf AS (
  SELECT f.doc_id, f.y, coalesce(sum(w.w), 0) AS z
  FROM f LEFT JOIN w{k} w ON w.j = f.j
  GROUP BY f.doc_id, f.y
),
scored AS (SELECT doc_id, {_LR_P_SQL} AS p_e6, y FROM zf)
SELECT CAST(p_e6 * 10 // 1000001 AS BIGINT) AS bucket,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(p_e6) // count(*) AS BIGINT) AS mean_pred_e6,
  CAST(sum(y) * 1000000 // count(*) AS BIGINT) AS obs_rate_e6
FROM scored
GROUP BY 1
"""


@register("quality_lr_calibration", _lr_calibration_oracle())
def q_quality_lr_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the trained LR quality filter: decile
    buckets of the e6 probability, mean predicted vs observed positive
    rate per bucket, all BIGINT (block comment)."""
    with cached(_lr_feats(spark, sf_dir)) as feats:
        scored = _lr_scores(feats, _lr_train(feats))
        return (
            scored.groupBy(
                F.expr("CAST(p_e6 * 10 DIV 1000001 AS BIGINT)").alias(
                    "bucket"
                )
            )
            .agg(
                F.count("*").cast("bigint").alias("n"),
                F.expr("CAST(sum(p_e6) DIV count(*) AS BIGINT)").alias(
                    "mean_pred_e6"
                ),
                F.expr(
                    "CAST(sum(label) * 1000000 DIV count(*) AS BIGINT)"
                ).alias("obs_rate_e6"),
            )
            .localCheckpoint(eager=True)
        )


# --- 2-hop co-occurrence recommendations (round 4 close) -----------------------------
# The item-item collaborative-filtering primitive: rank each part's
# "related parts" by how many suppliers they share (2-hop wedges in the
# bipartite graph — the web analogue ranks co-linked pages). The naive
# wedge join is quadratic in hub degree (a supplier serving 6k parts
# contributes 18M pairs; at sf0.1 the raw join is ~3.5e9 rows), so each
# supplier's contributor list is DF-CAPPED to its 24 hash-ranked parts
# — the dedup_containment discipline: candidate recall trades against
# the bound, the cap is the knob, and the plan survives any hub degree.
# Counts are over the capped lists in BOTH engines (the cap is part of
# the graded semantics, not an approximation the oracle ignores).

_REC_CAP = 24  # wedge contributors per supplier (hash-ranked)
_REC_TOPK = 5

_REC_SQL = f"""
WITH e AS (
  SELECT DISTINCT l_partkey AS part, l_suppkey AS supp FROM lineitem
),
capped AS (
  SELECT part, supp FROM (
    SELECT part, supp,
      row_number() OVER (PARTITION BY supp
                         ORDER BY md5(CAST(part AS VARCHAR)), part)
        AS rn
    FROM e
  ) WHERE rn <= {_REC_CAP}
),
pairs AS (
  SELECT a.part AS u, b.part AS v, count(*) AS common
  FROM capped a JOIN capped b
    ON b.supp = a.supp AND b.part != a.part
  GROUP BY 1, 2
)
SELECT u AS part, v AS rec, CAST(common AS BIGINT) AS common_supps,
  CAST(rk AS BIGINT) AS rank
FROM (
  SELECT u, v, common,
    row_number() OVER (PARTITION BY u
                       ORDER BY common DESC, v) AS rk
  FROM pairs
) WHERE rk <= {_REC_TOPK}
"""


@register("graph_2hop_recs", _REC_SQL)
def q_graph_2hop_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 co-supplier recommendations per part over the df-capped
    wedge join (block comment)."""
    from pyspark.sql import Window

    e = (
        t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_partkey").alias("part"),
            F.col("l_suppkey").alias("supp"),
        )
        .distinct()
    )
    wc = Window.partitionBy("supp").orderBy(
        F.expr("md5(CAST(part AS STRING))"), "part"
    )
    capped = (
        e.withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") <= _REC_CAP)
        .select("part", "supp")
    )
    b = capped.select(
        F.col("part").alias("v"), F.col("supp").alias("bsupp")
    )
    pairs = (
        capped.join(
            b,
            (F.col("bsupp") == F.col("supp"))
            & (F.col("v") != F.col("part")),
        )
        .groupBy(F.col("part").alias("u"), "v")
        .agg(F.count("*").alias("common"))
    )
    wr = Window.partitionBy("u").orderBy(F.desc("common"), F.asc("v"))
    return (
        pairs.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= _REC_TOPK)
        .select(
            F.col("u").alias("part"),
            F.col("v").alias("rec"),
            F.col("common").cast("bigint").alias("common_supps"),
            F.col("rk").cast("bigint").alias("rank"),
        )
    )
