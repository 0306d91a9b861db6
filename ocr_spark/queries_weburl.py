"""URL canonicalization & sitemap queries — the crawl-frontier face.

Three driver-graded entries over deterministic synthesis from `documents`:

- `web_url_canon`: three noise variants per doc (case-varied scheme/host +
  default port, percent-encoded path + tracking params + fragment,
  dot-segment path + fragment + tracking params) are pushed through the
  REAL canonicalizer (functions/urlnorm.canonicalize_url). The oracle
  never canonicalizes anything — it reconstructs the canonical URL
  directly from doc_id arithmetic, so scheme/host case-folding, port
  dropping, percent-decoding, dot-segment resolution, fragment stripping,
  tracking-param removal and query sorting are all under the value hash.
- `web_url_dedup_canon`: the operational consumer — the three spellings
  are three captures with distinct timestamps; group by canonical URL,
  keep the earliest capture date and the capture count. This is the
  by-url dedup a crawl runs BEFORE extraction; folding spellings first is
  what keeps one resource from splitting across groupBy keys.
- `web_sitemap_parse`: per-host sitemap XML documents (urlset/url/loc/
  lastmod/priority) are synthesized in-plan (the harness side, like
  blobs_by_shard for WARC), then parsed with the REAL Spark XML reader
  (`F.from_xml` with an array-of-structs schema) and flattened with
  posexplode. The oracle re-derives every (host, pos, loc, lastmod,
  priority) row arithmetically — XML serialization + from_xml + element
  order are all under the hash.

Scale notes: canonicalization is a zero-Exchange map stage (pure JVM
column HOFs — the plan pin lives in tests/test_weburl.py); the dedup is
ONE aggregation Exchange on the canonical key (at corpus scale this is
the same shuffle the crawl's by-url dedup already pays — canonicalizing
adds no extra stage); sitemap synthesis groups per host (harness-only
cost), while the parse itself is again map-side. from_xml is JVM-side
(spark-xml built into Spark 4) — no Python anywhere in this module.

Cross-engine determinism: arithmetic string building only (lpad, %, ||);
param sorting is byte-order on both engines (array_sort / list_sort);
variant ids cast to INT on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocr_spark.functions.iterate import cached, iterate
from ocr_spark.functions.urlnorm import canonicalize_url
from ocr_spark.queries import register, t

# ---------------------------------------------------------------------------
# synthesis: documents × 3 noise variants, all spelling one canonical URL
# ---------------------------------------------------------------------------
# canonical (what the oracle reconstructs):
#   scheme = https if doc_id%2=0 else http
#   host   = s{doc_id%5}.src.example
#   port   = ':8080' iff doc_id%10==1 (a REAL port — must survive)
#   path   = /d/{doc_id}
#   query  = ?a=1&b={doc_id} iff doc_id%3==0
# noise per variant:
#   v=0: default port spelled out, dot-segment path, unsorted params +
#        utm_source (or a tracking-only query when canonical has none)
#   v=1: UPPERCASE scheme, percent-encoded path (%64='d'), fragment,
#        params already canonical
#   v=2: UPPERCASE host, fragment, fbclid/gclid tracking params

_CANON_SQL = (
    "(CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END) || '://s' || "
    "CAST(doc_id % 5 AS VARCHAR) || '.src.example' || "
    "(CASE WHEN doc_id % 10 = 1 THEN ':8080' ELSE '' END) || "
    "'/d/' || CAST(doc_id AS VARCHAR) || "
    "(CASE WHEN doc_id % 3 = 0 THEN '?a=1&b=' || CAST(doc_id AS VARCHAR) "
    " ELSE '' END)"
)


def _noised_captures(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").select("doc_id")
    v = F.col("variant")
    did = F.col("doc_id").cast("string")
    scheme_base = F.when(F.col("doc_id") % 2 == 0, "https").otherwise("http")
    scheme = F.when(v == 1, F.upper(scheme_base)).otherwise(scheme_base)
    host_base = F.concat(
        F.lit("s"), (F.col("doc_id") % 5).cast("string"), F.lit(".src.example")
    )
    host = F.when(v == 2, F.upper(host_base)).otherwise(host_base)
    port = (
        F.when(F.col("doc_id") % 10 == 1, ":8080")
        .when(
            v == 0,
            F.when(F.col("doc_id") % 2 == 0, ":443").otherwise(":80"),
        )
        .otherwise("")
    )
    path = (
        F.when(v == 0, F.concat(F.lit("/d/./tmp/../"), did))
        .when(v == 1, F.concat(F.lit("/%64/"), did))
        .otherwise(F.concat(F.lit("/d/"), did))
    )
    has_q = F.col("doc_id") % 3 == 0
    query = F.when(
        has_q,
        F.when(v == 0, F.concat(F.lit("?b="), did, F.lit("&utm_source=feed&a=1")))
        .when(v == 1, F.concat(F.lit("?a=1&b="), did))
        .otherwise(F.concat(F.lit("?b="), did, F.lit("&a=1&fbclid=zz"))),
    ).otherwise(
        F.when(v == 0, F.lit("?utm_campaign=x"))
        .when(v == 2, F.lit("?gclid=abc"))
        .otherwise(F.lit(""))
    )
    frag = (
        F.when(v == 1, F.lit("#frag"))
        .when(v == 2, F.concat(F.lit("#s"), did))
        .otherwise(F.lit(""))
    )
    return d.select(
        "doc_id", F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("variant")
    ).select(
        "doc_id",
        F.col("variant").cast("int").alias("variant"),
        F.concat(scheme, F.lit("://"), host, port, path, query, frag).alias(
            "url_raw"
        ),
        # capture timestamp: only the seconds field varies per variant
        F.concat(
            F.lit("2024-01-01T"),
            F.lpad((F.col("doc_id") % 24).cast("string"), 2, "0"),
            F.lit(":"),
            F.lpad(((F.col("doc_id") * 7) % 60).cast("string"), 2, "0"),
            F.lit(":"),
            F.lpad(
                ((F.col("doc_id") * 13 + v * 17) % 60).cast("string"), 2, "0"
            ),
            F.lit("Z"),
        ).alias("warc_date"),
    )


_CANON_ORACLE = f"""
SELECT d.doc_id,
       CAST(v.variant AS INTEGER) AS variant,
       {_CANON_SQL} AS url_canon
FROM documents d CROSS JOIN (VALUES (0), (1), (2)) v(variant)
"""


@register("web_url_canon", _CANON_ORACLE)
def q_web_url_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three noise spellings per doc through the real canonicalizer; the
    oracle builds the canonical URL from arithmetic alone."""
    cap = _noised_captures(spark, sf_dir)
    return cap.select(
        "doc_id",
        "variant",
        canonicalize_url(F.col("url_raw")).alias("url_canon"),
    )


_DEDUP_ORACLE = f"""
SELECT {_CANON_SQL} AS url_canon,
       '2024-01-01T' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') || ':'
         || lpad(CAST((doc_id * 7) % 60 AS VARCHAR), 2, '0') || ':'
         || lpad(CAST(least((doc_id * 13) % 60, (doc_id * 13 + 17) % 60,
                            (doc_id * 13 + 34) % 60) AS VARCHAR), 2, '0')
         || 'Z' AS first_date,
       CAST(3 AS BIGINT) AS n_captures
FROM documents
"""


@register("web_url_dedup_canon", _DEDUP_ORACLE)
def q_web_url_dedup_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture dedup on the canonical key: earliest capture wins. One
    aggregation Exchange — the same shuffle a by-url dedup pays anyway."""
    cap = _noised_captures(spark, sf_dir)
    return (
        cap.select(
            canonicalize_url(F.col("url_raw")).alias("url_canon"), "warc_date"
        )
        .groupBy("url_canon")
        .agg(
            F.min("warc_date").alias("first_date"),
            F.count(F.lit(1)).alias("n_captures"),
        )
    )


# ---------------------------------------------------------------------------
# sitemap: synthesize per-host urlset XML, parse with the REAL from_xml
# ---------------------------------------------------------------------------

_SITEMAP_SCHEMA = (
    "STRUCT<url: ARRAY<STRUCT<loc: STRING, lastmod: STRING, priority: STRING>>>"
)

_SITEMAP_ORACLE = """
SELECT 's' || CAST(doc_id % 5 AS VARCHAR) || '.src.example' AS host,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id % 5 ORDER BY doc_id) - 1
            AS INTEGER) AS pos,
       'https://s' || CAST(doc_id % 5 AS VARCHAR) || '.src.example/d/'
         || CAST(doc_id AS VARCHAR) AS loc,
       '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS lastmod,
       '0.' || CAST(doc_id % 10 AS VARCHAR) AS priority
FROM documents
"""


@register("web_sitemap_parse", _SITEMAP_ORACLE)
def q_web_sitemap_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → per-host <urlset> XML (harness synthesis, entries
    doc_id-ordered) → F.from_xml + posexplode (the operator under test).
    The oracle re-derives host/pos/loc/lastmod/priority arithmetically, so
    XML serialization AND parsing sit under the value hash."""
    d = t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id").cast("string")
    host = F.concat(
        F.lit("s"), (F.col("doc_id") % 5).cast("string"), F.lit(".src.example")
    )
    entry = F.concat(
        F.lit("<url><loc>https://"), host, F.lit("/d/"), did,
        F.lit("</loc><lastmod>2024-01-"),
        F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
        F.lit("</lastmod><priority>0."),
        (F.col("doc_id") % 10).cast("string"),
        F.lit("</priority></url>"),
    )
    sitemaps = (
        d.select(host.alias("host"), F.struct("doc_id", entry.alias("e")).alias("s"))
        .groupBy("host")
        .agg(
            F.concat(
                F.lit("<urlset>"),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list("s")), lambda s: s["e"]
                    ),
                    "",
                ),
                F.lit("</urlset>"),
            ).alias("xml")
        )
    )
    parsed = sitemaps.select(
        "host", F.from_xml("xml", _SITEMAP_SCHEMA).alias("p")
    )
    return parsed.select(
        "host", F.posexplode(F.col("p.url")).alias("pos", "u")
    ).select(
        "host",
        "pos",
        F.col("u.loc").alias("loc"),
        F.col("u.lastmod").alias("lastmod"),
        F.col("u.priority").alias("priority"),
    )


# ---------------------------------------------------------------------------
# href resolution: as-written links -> absolute URLs (the WAT link step)
# ---------------------------------------------------------------------------

_RESOLVE_ORACLE = """
WITH d AS (
  SELECT doc_id,
    CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END AS sch,
    's' || CAST(doc_id % 5 AS VARCHAR) || '.src.example' AS host
  FROM documents
)
SELECT doc_id, CAST(v.variant AS INTEGER) AS variant,
  CASE v.variant
    WHEN 0 THEN 'https://abs' || CAST(doc_id % 7 AS VARCHAR)
                 || '.example/x/' || CAST(doc_id AS VARCHAR)
    WHEN 1 THEN sch || '://cdn' || CAST(doc_id % 3 AS VARCHAR)
                 || '.example/y?z=' || CAST(doc_id AS VARCHAR)
    WHEN 2 THEN sch || '://' || host || '/w/' || CAST(doc_id AS VARCHAR)
                 || '?ref=1'
    WHEN 3 THEN sch || '://' || host || '/a/img/' || CAST(doc_id AS VARCHAR)
                 || '.png'
    ELSE        sch || '://' || host || '/a/b/sub/' || CAST(doc_id AS VARCHAR)
                 || '#frag' || CAST(doc_id AS VARCHAR)
  END AS resolved
FROM d CROSS JOIN (VALUES (0), (1), (2), (3), (4)) v(variant)
"""


@register("web_url_resolve", _RESOLVE_ORACLE)
def q_web_url_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five href shapes per doc (absolute, protocol-relative, absolute-path
    with dot segments, directory-climbing relative, plain relative with a
    fragment) resolved against a deterministic base page URL by the REAL
    resolve_href expression; the oracle rebuilds every absolute URL from
    doc_id arithmetic — scheme adoption, origin attach, §5.3.3 directory
    merge and dot-segment removal all sit under the value hash."""
    from ocr_spark.functions.urlnorm import resolve_href

    d = t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id").cast("string")
    v = F.col("variant")
    base = F.concat(
        F.when(F.col("doc_id") % 2 == 0, "https").otherwise("http"),
        F.lit("://s"), (F.col("doc_id") % 5).cast("string"),
        F.lit(".src.example/a/b/page"), did, F.lit(".html"),
    )
    href = (
        F.when(v == 0, F.concat(
            F.lit("https://abs"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example/x/"), did))
        .when(v == 1, F.concat(
            F.lit("//cdn"), (F.col("doc_id") % 3).cast("string"),
            F.lit(".example/y?z="), did))
        .when(v == 2, F.concat(F.lit("/w/./"), did, F.lit("/../"), did,
                               F.lit("?ref=1")))
        .when(v == 3, F.concat(F.lit("../img/"), did, F.lit(".png")))
        .otherwise(F.concat(F.lit("sub/"), did, F.lit("#frag"), did))
    )
    return d.select(
        "doc_id",
        F.explode(F.array(*[F.lit(i) for i in range(5)])).alias("variant"),
    ).select(
        "doc_id",
        F.col("variant").cast("int").alias("variant"),
        resolve_href(base, href).alias("resolved"),
    )


# --- redirect-chain resolution (round 4 close) ---------------------------------------
# Crawl frontiers accumulate redirect maps (301/308 url -> url); the
# consumer wants every url's FINAL target plus a loop verdict. The
# redirect map is a functional graph (<=1 out-edge per node), so
# resolution is POINTER DOUBLING, not per-hop iteration: with
# g(x) = redirect(x) or x, each round substitutes g := g∘g, covering
# 2^r hops after r rounds — 3 rounds resolve any chain up to 8 hops in
# 3 self-joins of the (node, cur) relation, the log-step trick
# span_offsets uses for prefix sums. Nodes still carrying an out-edge
# after the rounds sit on a cycle (or a longer-than-bound chain) —
# flagged, never spun on. Graph synthesized from doc_id arithmetic:
# two-hop chains (u -> u+40 -> u+80, 80+ terminal) and a planted
# 7-cycle; the oracle replays the same three doubling rounds.

_RED_EDGES_SPARK = """
SELECT DISTINCT src, dst FROM (
  SELECT CAST(doc_id % 80 AS BIGINT) AS src,
         CAST(doc_id % 80 + 40 AS BIGINT) AS dst
  FROM {d}
  UNION ALL
  SELECT CAST(200 + doc_id % 7 AS BIGINT),
         CAST(200 + (doc_id % 7 + 1) % 7 AS BIGINT)
  FROM {d} WHERE doc_id % 31 = 0
)
"""

_RED_DOUBLING_ROUNDS = 3


def _redirects_oracle() -> str:
    steps = []
    prev = "g0"
    for r in range(1, _RED_DOUBLING_ROUNDS + 1):
        steps.append(f"""
g{r} AS (
  SELECT a.node, b.cur
  FROM {prev} a JOIN {prev} b ON b.node = a.cur
)""")
        prev = f"g{r}"
    return f"""
WITH e AS ({_RED_EDGES_SPARK.format(d="documents").replace("CAST(doc_id % 80 AS BIGINT)", "doc_id % 80").replace("CAST(doc_id % 80 + 40 AS BIGINT)", "doc_id % 80 + 40").replace("CAST(200 + doc_id % 7 AS BIGINT)", "200 + doc_id % 7").replace("CAST(200 + (doc_id % 7 + 1) % 7 AS BIGINT)", "200 + (doc_id % 7 + 1) % 7")}),
n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
g0 AS (
  SELECT n.node, coalesce(e.dst, n.node) AS cur
  FROM n LEFT JOIN e ON e.src = n.node
),
{",".join(steps)}
SELECT g.node AS node_id, g.cur AS final_id,
  CAST(CASE WHEN e.src IS NULL THEN 1 ELSE 0 END AS BIGINT)
    AS is_terminal
FROM {prev} g LEFT JOIN e ON e.src = g.cur
"""


@register("web_redirects", _redirects_oracle())
def q_web_redirects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect resolution by pointer doubling: 3 self-joins cover 8
    hops; unresolved finals flag as on-cycle (block comment)."""
    d = t(spark, sf_dir, "documents")
    d.createOrReplaceTempView("_red_docs")
    e = spark.sql(_RED_EDGES_SPARK.format(d="_red_docs"))
    n = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    g0 = n.join(e, n["node"] == e["src"], "left").select(
        "node", F.coalesce("dst", "node").alias("cur")
    )

    def double(g: DataFrame) -> DataFrame:
        m = g.select(
            F.col("node").alias("mnode"), F.col("cur").alias("mcur")
        )
        return g.join(m, g["cur"] == m["mnode"]).select(
            "node", F.col("mcur").alias("cur")
        )

    with cached(e):
        g, _ = iterate(double, g0, _RED_DOUBLING_ROUNDS)
        return g.join(e, g["cur"] == e["src"], "left").select(
            F.col("node").alias("node_id"),
            F.col("cur").alias("final_id"),
            F.expr(
                "CAST(CASE WHEN src IS NULL THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("is_terminal"),
        ).localCheckpoint(eager=True)
