"""Link-graph run: pages -> outlink extraction (SPEC.md §5) -> host-level
edge aggregation -> integer-exact PageRank, writing all three products.

Usage (same launch mode as extract_job.py)::

    zip -qr engine.zip ocr_spark
    spark-submit --master <cluster> --py-files engine.zip \\
        scripts/linkgraph_job.py <out_dir> [n_pages] [iters] [pages_location]

With no ``pages_location`` the job generates ``n_pages`` deterministic
multi-host synthetic pages (ocr_spark.gen.web_pages — cross-host anchors,
a hot host, discard-scheme noise; no external data); otherwise it reads
the given parquet/``iceberg:`` pages table.

Products (all parquet under <out_dir>):
  links/  — (url, warc_ts, part_id, link_id, href, anchor), the WAT-style
            per-link product straight off the one-Arrow-hop parse;
  edges/  — (src_host, dst_host, n_links), host attribution per
            queries_webgraph.link_host_expr (absolute / protocol-relative /
            relative resolution);
  ranks/  — (node, rank_e6), weighted integer PageRank over the host graph
            (functions/graph.pagerank — n_links as edge weights, dangling
            mass redistributed).

Every number is deterministic: reruns at any parallelism produce identical
links, edges and ranks (the e2e test drives local[8] vs local[2]). Prints
one JSON line with stage seconds, row counts and the top-10 hosts by rank.
"""

from __future__ import annotations

import json
import pathlib
import sys
import time

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def run_linkgraph_job(
    spark,
    out_dir: str,
    n_pages: int = 20000,
    iters: int = 5,
    pages_location: str | None = None,
) -> dict:
    from pyspark.sql import functions as F

    from ocr_spark.functions.graph import pagerank
    from ocr_spark.gen import web_pages
    from ocr_spark.operators.extract import extract_outlinks
    from ocr_spark.operators.runner import read_pages
    from ocr_spark.queries_webgraph import link_host_expr

    stage_sec: dict[str, float] = {}
    t0 = time.perf_counter()
    out = pathlib.Path(out_dir)

    pages = (
        read_pages(spark, pages_location)
        if pages_location
        else web_pages(spark, n_pages)
    )

    # one parse, staged once (filters can't push below mapInArrow; the
    # edge aggregation + rank loop would otherwise re-parse the crawl)
    ts = time.perf_counter()
    links_path = str(out / "links")
    extract_outlinks(pages).write.mode("overwrite").parquet(links_path)
    links = spark.read.parquet(links_path)
    n_links = links.count()
    stage_sec["extract_links"] = round(time.perf_counter() - ts, 3)

    ts = time.perf_counter()
    src_host = F.lower(
        F.regexp_extract(
            F.col("url"),
            r"^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^/?#@]*@)?([^/?#:]*)", 1,
        )
    )
    edges = (
        links.select(
            src_host.alias("src_host"),
            link_host_expr(F.col("href"), src_host).alias("dst_host"),
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_links"))
    )
    edges_path = str(out / "edges")
    edges.write.mode("overwrite").parquet(edges_path)
    edges = spark.read.parquet(edges_path)
    n_edges = edges.count()
    stage_sec["host_edges"] = round(time.perf_counter() - ts, 3)

    ts = time.perf_counter()
    ranks = pagerank(
        edges, iters=iters,
        src_col="src_host", dst_col="dst_host", weight_col="n_links",
    )
    ranks_path = str(out / "ranks")
    ranks.write.mode("overwrite").parquet(ranks_path)
    ranks = spark.read.parquet(ranks_path)
    stage_sec["pagerank"] = round(time.perf_counter() - ts, 3)

    top = [
        {"host": r.node, "rank_e6": r.rank_e6}
        for r in ranks.orderBy(F.desc("rank_e6"), "node").limit(10).collect()
    ]
    return {
        "out": str(out),
        "n_links": n_links,
        "n_edges": n_edges,
        "n_hosts": ranks.count(),
        "iters": iters,
        "top_hosts": top,
        "stage_sec": stage_sec,
        "wall_sec": round(time.perf_counter() - t0, 3),
    }


def main() -> None:
    argv = sys.argv[1:]
    if not argv:
        print(__doc__)
        sys.exit(2)
    out_dir = argv[0]
    n_pages = int(argv[1]) if len(argv) > 1 else 20000
    iters = int(argv[2]) if len(argv) > 2 else 5
    pages_location = argv[3] if len(argv) > 3 else None

    from ocr_spark.session import build_session

    spark = build_session(app_name="ocr-spark-linkgraph")
    try:
        print(json.dumps(run_linkgraph_job(
            spark, out_dir, n_pages, iters, pages_location,
        )))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
