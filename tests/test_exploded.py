"""Equivalence + invariance properties (SURVEY.md §5.3).

The fused pipeline (production: classify/smooth/assemble inside the parse
worker), the JVM chain ``assemble(label_blocks(parse_pages(df)))``, the
runner's side-product branch and the exploded op-by-op pipeline are four
formulations of SPEC.md over the same parser; their outputs must be
byte-identical, and none may depend on partition counts or on the salted
repartition path — this is the determinism precondition that makes the
byte-identity gate hold on a real cluster where partitioning is arbitrary.
The corpus is the fixture pages plus one MAX_BLOCKS link-farm page, so the
O(n) smoothing and the log-doubling prefix sums both see a capped page.
"""

from __future__ import annotations

import pytest

from ocr_spark import spec

N_PARTS = 8


def _canon(rows):
    out = {}
    for r in rows:
        key = (r.url, None if r.warc_ts is None else r.warc_ts.isoformat())
        spans = [(s.block_id, s.start, s.end, s.label) for s in r.spans]
        out[key] = (
            r.extracted_text, r.text_sha256, spans, r.n_blocks,
            r.n_content_blocks, r.part_id, r.lang,
        )
    return out


@pytest.fixture(scope="module")
def pages(spark, fixture_df):
    """The fixture pages plus the MAX_BLOCKS link-farm page of
    tests/test_bigdoc.py: link-only blocks interleaved with short and good
    ones, past the block cap."""
    from ocr_spark.schemas import PAGES_SCHEMA
    from tests.test_bigdoc import BAD, GOOD, SHORT, _doc

    farm = _doc("farm", (BAD + SHORT + GOOD) * (spec.MAX_BLOCKS // 3 + 20))
    df = fixture_df.unionByName(spark.createDataFrame([farm], PAGES_SCHEMA))
    df.cache().count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def fused(spark, pages):
    from ocr_spark.operators.extract import extract_pages

    out = _canon(extract_pages(pages, num_parts=N_PARTS).collect())
    farm = out[("https://big.example.com/farm", None)]
    assert farm[3] == spec.MAX_BLOCKS  # the page really hits the cap
    return out


def test_exploded_equals_fused(spark, pages, fused):
    from ocr_spark.operators.exploded import extract_pages_exploded

    exploded = _canon(
        extract_pages_exploded(pages, num_parts=N_PARTS).collect()
    )
    assert exploded == fused


def test_jvm_chain_equals_fused(spark, pages, fused):
    """The in-worker assembly against the JVM higher-order-function chain
    it replaced on the extract_pages path."""
    from ocr_spark.operators.extract import assemble, label_blocks, parse_pages

    got = _canon(
        assemble(label_blocks(parse_pages(pages, num_parts=N_PARTS))).collect()
    )
    assert got == fused


def test_runner_side_product_text_equals_fused(spark, pages, fused, tmp_path):
    """run_extract with both side sinks persists the worker's text columns
    alongside links/meta; its text table must equal extract_pages."""
    from ocr_spark.operators.runner import read_extracted, run_extract

    out = str(tmp_path / "out")
    run_extract(spark, pages, out, run_id="sp", num_parts=N_PARTS,
                parts_per_batch=3, links_location=f"{out}/links",
                meta_location=f"{out}/meta")
    assert _canon(read_extracted(spark, out).collect()) == fused


def test_parallelism_invariance(spark, pages, fused):
    from ocr_spark.operators.extract import extract_pages

    for n in (1, 2, 17):
        got = _canon(
            extract_pages(pages.repartition(n), num_parts=N_PARTS).collect()
        )
        assert got == fused, f"repartition({n}) changed output"


def test_salted_path_invariance(spark, pages, fused):
    """Op 21: the skew-salted exchange must not change a single byte."""
    from ocr_spark.operators.extract import extract_pages

    got = _canon(
        extract_pages(pages, num_parts=N_PARTS, repartition=16).collect()
    )
    assert got == fused


def test_salted_balance_under_viral_url(spark):
    """The skew claim behind op 21, pinned without timing: on a corpus
    where HALF the rows are one identical url, a host-keyed repartition
    puts that half in one partition, while the salted layout bounds every
    partition near the mean (wall-clock evidence: BENCH/SKEW.md)."""
    from pyspark.sql import functions as F

    from ocr_spark.operators.extract import salted, with_part_id
    from scripts.skew_bench import viral_pages

    pages = viral_pages(spark, 4000)
    parts = 16
    host = F.parse_url("url", F.lit("HOST"))

    def max_rows(df):
        return (
            df.groupBy(F.spark_partition_id().alias("p")).count()
            .agg(F.max("count")).collect()[0][0]
        )

    hot = max_rows(pages.repartition(parts, host))
    bal = max_rows(salted(with_part_id(pages, parts), parts))
    mean = 4000 / parts
    assert hot >= 2000          # the viral half serializes into one task
    assert bal < 3 * mean, bal  # salted: every task near the mean


def test_exploded_parallelism_invariance(spark, pages, fused):
    """The exploded path shuffles twice (window + groupBy) — its output must
    still be independent of the incoming partitioning."""
    from ocr_spark.operators.exploded import extract_pages_exploded

    got = _canon(
        extract_pages_exploded(
            pages.repartition(13), num_parts=N_PARTS
        ).collect()
    )
    assert got == fused
