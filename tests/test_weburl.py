"""Unit gates for URL canonicalization & sitemap parsing: the Spark
canonicalizer against an INDEPENDENT urllib/re-based Python reference
(different parsing primitives: urlsplit + re.sub-with-callback + a Python
stack vs instr/regexp + aggregate HOFs), idempotence, adversarial
hand-cases the synthesis never produces, from_xml vs xml.etree, and the
plan pins (canonicalization is zero-Exchange; the canonical dedup pays
exactly one)."""

from __future__ import annotations

import re
import string
import xml.etree.ElementTree as ET

from pyspark.sql import functions as F

from ocr_spark import queries_weburl as wu
from ocr_spark.functions.urlnorm import canonicalize_url, resolve_href
from tests.conftest import SF_SMALL

_UNRESERVED = set(string.ascii_letters + string.digits + "-._~")
_TRACK = {"fbclid", "gclid", "msclkid", "mc_eid"}


def ref_canon(u: str) -> str:
    """Independent reference of the frozen algorithm (urlnorm docstring)."""
    from urllib.parse import urlsplit

    sp = urlsplit(u.split("#", 1)[0])
    scheme = sp.scheme.lower()
    netloc = sp.netloc.lower()
    if scheme == "http" and netloc.endswith(":80"):
        netloc = netloc[: -len(":80")]
    if scheme == "https" and netloc.endswith(":443"):
        netloc = netloc[: -len(":443")]
    path = sp.path or "/"

    def dec(m: re.Match) -> str:
        ch = chr(int(m.group(1), 16))
        return ch if ch in _UNRESERVED else m.group(0)

    path = re.sub(r"%([0-9A-Fa-f]{2})", dec, path)
    out: list[str] = []
    for seg in path.split("/")[1:]:
        if seg == ".":
            continue
        if seg == "..":
            if out:
                out.pop()
        else:
            out.append(seg)
    path = "/" + "/".join(out)

    def tracking(p: str) -> bool:
        n = p.split("=", 1)[0].lower()
        return n.startswith("utm_") or n in _TRACK

    params = sorted(p for p in sp.query.split("&") if p and not tracking(p))
    q = "?" + "&".join(params) if params else ""
    return f"{scheme}://{netloc}{path}{q}"


def test_canon_matches_python_reference(spark):
    cap = wu._noised_captures(spark, SF_SMALL)
    rows = cap.select(
        "url_raw", canonicalize_url(F.col("url_raw")).alias("got")
    ).collect()
    assert len(rows) > 100
    for r in rows:
        assert r["got"] == ref_canon(r["url_raw"]), r["url_raw"]


def test_canon_adversarial_cases(spark):
    """Shapes the synthesis never emits: malformed/short escapes, escapes
    of reserved chars (must NOT decode), root '..', bare '?', mixed-hex
    case, '+' (not form-decoding), empty path with a query."""
    cases = [
        ("http://A.example/%6", "http://a.example/%6"),
        ("http://a.example/x%", "http://a.example/x%"),
        ("https://a.example/p%2Fq", "https://a.example/p%2Fq"),
        ("https://a.example/%7e%41%5a%30", "https://a.example/~AZ0"),
        ("https://a.example/../../x", "https://a.example/x"),
        ("https://a.example/a/b/c/../..", "https://a.example/a"),
        ("https://a.example/a+b?x=1+2", "https://a.example/a+b?x=1+2"),
        ("HTTP://a.example?z=2&y=1#f", "http://a.example/?y=1&z=2"),
        ("http://a.example:8080:80/x", "http://a.example:8080/x"),
        ("https://a.example/?UTM_source=1&Gclid=2", "https://a.example/"),
    ]
    df = spark.createDataFrame(cases, "u string, expect string")
    got = df.select("u", "expect", canonicalize_url(F.col("u")).alias("g")).collect()
    for r in got:
        assert r["g"] == r["expect"] == ref_canon(r["u"]), r["u"]


def test_canon_idempotent(spark):
    cap = wu._noised_captures(spark, SF_SMALL)
    once = canonicalize_url(F.col("url_raw"))
    twice = canonicalize_url(once)
    bad = cap.filter(once != twice).count()
    assert bad == 0


def test_nested_builders_do_not_multiply_the_plan(spark):
    """Every urlnorm builder binds its input once, so nesting one in
    another adds one copy of the inner expression, not one per read
    (unbound, canonicalize_url(canonicalize_url(c)) analyzed to 100x the
    size of canonicalize_url(c) and drove the JVM out of memory)."""
    df = spark.createDataFrame([("http://a/b",)], "u string")

    def plan_len(c) -> int:
        return len(df.select(c)._jdf.queryExecution().analyzed().toString())

    u = F.col("u")
    canon = plan_len(canonicalize_url(u))
    assert plan_len(canonicalize_url(canonicalize_url(u))) <= 3 * canon
    res = plan_len(resolve_href(u, u))
    assert plan_len(resolve_href(resolve_href(u, u), u)) <= 3 * res


def test_dedup_folds_all_variants(spark):
    out = wu.q_web_url_dedup_canon(spark, SF_SMALL)
    n_docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").count()
    agg = out.agg(
        F.count(F.lit(1)).alias("groups"),
        F.min("n_captures").alias("lo"),
        F.max("n_captures").alias("hi"),
    ).collect()[0]
    assert agg["groups"] == n_docs and agg["lo"] == agg["hi"] == 3


def test_sitemap_parse_matches_etree(spark):
    """The REAL from_xml output equals xml.etree over the same documents,
    with per-host element order preserved."""
    got = {
        (r["host"], r["pos"]): (r["loc"], r["lastmod"], r["priority"])
        for r in wu.q_web_sitemap_parse(spark, SF_SMALL).collect()
    }
    docs = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id").collect()
    )
    expect = {}
    by_host: dict[str, list[int]] = {}
    for did in docs:
        by_host.setdefault(f"s{did % 5}.src.example", []).append(did)
    for host, ids in by_host.items():
        xml = "<urlset>" + "".join(
            f"<url><loc>https://{host}/d/{i}</loc>"
            f"<lastmod>2024-01-{i % 28 + 1:02d}</lastmod>"
            f"<priority>0.{i % 10}</priority></url>"
            for i in sorted(ids)
        ) + "</urlset>"
        for pos, el in enumerate(ET.fromstring(xml)):
            expect[(host, pos)] = (
                el.findtext("loc"), el.findtext("lastmod"),
                el.findtext("priority"),
            )
    assert got == expect and len(got) > 100


def test_canon_plan_is_map_side(spark):
    """Canonicalization adds no shuffle: zero Exchange in web_url_canon
    (scan → explode → project), exactly one in the canonical dedup (the
    aggregation the by-url dedup pays regardless)."""
    p1 = wu.q_web_url_canon(spark, SF_SMALL)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p1
    p2 = (
        wu.q_web_url_dedup_canon(spark, SF_SMALL)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert p2.count("Exchange") == 1
    for p in (p1, p2):
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_resolve_matches_urljoin(spark):
    """resolve_href against the stdlib's RFC 3986 implementation, over the
    synthesized five-shape corpus AND adversarial shapes the synthesis
    never emits (./, over-popping ../, query-bearing base, empty-path
    base, scheme'd href passthrough)."""
    from urllib.parse import urljoin

    from ocr_spark.functions.urlnorm import resolve_href

    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select("doc_id")
    did = F.col("doc_id").cast("string")
    base = F.concat(
        F.when(F.col("doc_id") % 2 == 0, "https").otherwise("http"),
        F.lit("://s"), (F.col("doc_id") % 5).cast("string"),
        F.lit(".src.example/a/b/page"), did, F.lit(".html"),
    )
    href = (
        F.when(F.col("variant") == 0,
               F.concat(F.lit("https://abs.example/x/"), did))
        .when(F.col("variant") == 1, F.concat(F.lit("//cdn.example/y?z="), did))
        .when(F.col("variant") == 2,
              F.concat(F.lit("/w/./"), did, F.lit("/../"), did, F.lit("?ref=1")))
        .when(F.col("variant") == 3, F.concat(F.lit("../img/"), did, F.lit(".png")))
        .otherwise(F.concat(F.lit("sub/"), did, F.lit("#frag"), did))
    )
    rows = (
        d.select("doc_id", F.explode(F.array(*[F.lit(i) for i in range(5)]))
                 .alias("variant"))
        .select(base.alias("b"), href.alias("h"),
                resolve_href(base, href).alias("g"))
        .collect()
    )
    assert len(rows) > 400
    for r in rows:
        assert r["g"] == urljoin(r["b"], r["h"]), (r["b"], r["h"])

    hand = [
        ("https://a.example/p/q/r.html", "./"),
        ("https://a.example/p/q/r.html", "../../../../up"),
        ("https://a.example", "c"),
        ("https://a.example/a/b/?q=1", "c?d=2"),
        ("https://a.example/a/", "mailto:x@y"),
        ("http://a.example/a/", "page?x#y"),
        ("https://a.example/a/b.html", "."),
        ("https://a.example/a/b.html", ".."),
        ("https://a.example/a/b.html", "?x=1"),
        ("https://a.example/a/b.html", "c/./d/../e"),
    ]
    df = spark.createDataFrame(hand, "b string, h string")
    from ocr_spark.functions.urlnorm import resolve_href as rh
    for r in df.select("b", "h", rh(F.col("b"), F.col("h")).alias("g")).collect():
        assert r["g"] == urljoin(r["b"], r["h"]), (r["b"], r["h"])


def test_resolve_plan_is_map_side(spark):
    plan = (
        wu.q_web_url_resolve(spark, SF_SMALL)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_redirect_resolution_python_replay_and_loop_flags(spark):
    """web_redirects equals a pure-Python chain walk (with cycle
    detection); chain nodes land on terminals, planted 7-cycle members
    flag is_terminal=0 and stay inside the cycle."""
    from ocr_spark.queries import QUERIES, t
    import ocr_spark.queries_weburl  # noqa: F401

    sf = "/root/testdata/sf0.01"
    got = {
        r["node_id"]: (r["final_id"], r["is_terminal"])
        for r in QUERIES["web_redirects"](spark, sf).collect()
    }
    ids = [
        r["doc_id"]
        for r in t(spark, sf, "documents").select("doc_id").collect()
    ]
    edges = {}
    for i in ids:
        edges[i % 80] = i % 80 + 40
        if i % 31 == 0:
            edges[200 + i % 7] = 200 + (i % 7 + 1) % 7
    nodes = set(edges) | set(edges.values())
    want = {}
    for n in nodes:
        cur = n
        for _ in range(8):  # the 3 doubling rounds cover 8 hops
            cur = edges.get(cur, cur)
        want[n] = (cur, 0 if cur in edges else 1)
    assert got == want
    loop_nodes = [n for n in nodes if n >= 200]
    assert loop_nodes
    for n in loop_nodes:
        assert got[n][1] == 0 and got[n][0] >= 200
    for n in nodes:
        if n < 200:
            assert got[n][1] == 1 and 80 <= got[n][0] < 120
