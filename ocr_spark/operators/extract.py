"""The fused extraction pipeline (SURVEY.md §3.2 entry point, SPEC.md).

Pipeline shape (design point: 100 TB / 10^12 docs on 1000 executors):

    pages ──mapInArrow(parse + classify + smooth + assemble)──► extracted

The single JVM→Python Arrow hop is the parse (SURVEY §2 op 11 / op 60), and
the same worker also runs classification (op 13), jusText smoothing (op 14),
span offsets (op 15), assembly (op 17) and the sha256 over each page's
block dicts (``html_blocks.extract_batch_columnar``). Only the output columns
cross back: no block, link or table array, and no array expression runs
after the hop. The plan needs NO shuffle, so the whole extraction is
embarrassingly parallel: scaling efficiency N→4N executors is bounded only by
input-split balance, not by shuffle or skew.

The JVM formulation of ops 13-17 stays: ``parse_pages`` returns the block
arrays, and ``label_blocks`` + ``assemble`` are Spark SQL higher-order
functions over them (interpreted, not codegen'd, but never crossing into
Python). ``extract_pages_langid`` uses them because it rewrites block
densities JVM-side before it classifies, and tests/test_exploded.py holds
them, the in-worker assembly and the explode→window→groupBy formulation in
``ocr_spark.operators.exploded`` to identical bytes. In that chain
smoothing is segment-wise (O(#edges) lambda evals + O(n) output
construction) and span offsets use log-doubling prefix sums — the round-1
O(n_blocks²) slice-scan forms were rewritten after a MAX_BLOCKS link-farm
corpus measured them dominating the stage (see bench.py
extract_maxblocks_256).
"""

from __future__ import annotations

import functools
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_spark import spec
from ocr_spark.schemas import block_pa_type

PARSED_DDL = (
    "url string, warc_ts timestamp, lang string, part_id int,"
    " bytes_in bigint, kind string,"
    " blocks array<struct<block_id: int, tag: string, depth: int,"
    " text: string, text_len: int, n_words: int, n_link_chars: int,"
    " link_density: double, char_density: double, stopword_density: double,"
    " bbox: struct<x0: double, y0: double, x1: double, y1: double>>>,"
    # SPEC.md §5 outlinks; link_id is the array position (posexplode emits it)
    " links array<struct<href: string, anchor: string>>,"
    # SPEC.md §6 page metadata (WAT-record head fields; empty string = unset)
    " meta struct<title: string, description: string, canonical: string,"
    " og_title: string>,"
    # SPEC.md §7 table-cell fragments, document order within each page
    " tables array<struct<table_id: int, row_id: int, cell_id: int,"
    " header: boolean, text: string>>"
)

SPANS_DDL = (
    "array<struct<block_id: int, start: bigint, `end`: bigint, label: string>>"
)

_META_FIELDS = ("title", "description", "canonical", "og_title")

# Spark type of each column the assembling worker can return. ``spans``
# carries the same nullability the JVM chain's zip_with gives it (non-null
# elements and label), so both paths produce one schema.
_EXTRACTED_TYPES = {
    "url": T.StringType(),
    "warc_ts": T.TimestampType(),
    "lang": T.StringType(),
    "bytes_in": T.LongType(),
    "meta": T.StructType(
        [T.StructField(f, T.StringType()) for f in _META_FIELDS]
    ),
    "extracted_text": T.StringType(),
    "spans": T.ArrayType(
        T.StructType([
            T.StructField("block_id", T.IntegerType()),
            T.StructField("start", T.LongType()),
            T.StructField("end", T.LongType()),
            T.StructField("label", T.StringType(), False),
        ]),
        containsNull=False,
    ),
    "text_sha256": T.StringType(),
    "n_blocks": T.IntegerType(),
    "n_content_blocks": T.IntegerType(),
    "part_id": T.IntegerType(),
    "links": T.ArrayType(
        T.StructType([
            T.StructField("href", T.StringType()),
            T.StructField("anchor", T.StringType()),
        ])
    ),
}

DEFAULT_NUM_PARTS = 64  # resume/lineage granularity (part_id space)
DEFAULT_SALT_N = 16  # salt fan-out for hot hosts when repartitioning


def _make_arrow_worker(build_batch, input_counter=None):
    """Build the mapInArrow worker fn that maps each input batch through
    ``build_batch``; ``input_counter`` (optional) is a
    dict-valued Spark accumulator incremented at the parse boundary with
    ``{(stage_id, partition_id, attempt): {part_id: n_docs}}`` — an
    input-side document count that is independent of the output read-back,
    so lineage can record input_rows separately from output_rows.
    Contributions are keyed by task attempt so the driver can keep exactly
    ONE attempt per (stage, partition): a retried or speculative duplicate
    task re-scans the same deterministic split, so dropping all but one
    attempt makes the count exact on a real cluster (the round-2 version
    summed raw contributions and could over-count under retries)."""

    def _arrow_batches(
        batches: Iterator[pa.RecordBatch],
    ) -> Iterator[pa.RecordBatch]:
        task_key = None
        if input_counter is not None:
            from pyspark import TaskContext

            tc = TaskContext.get()
            task_key = (
                (tc.stageId(), tc.partitionId(), tc.attemptNumber())
                if tc is not None
                else (0, 0, 0)
            )
        for batch in batches:
            if input_counter is not None:
                import pyarrow.compute as pc

                vc = pc.value_counts(batch.column("part_id"))
                input_counter.add(
                    {
                        task_key: {
                            item["values"].as_py(): item["counts"].as_py()
                            for item in vc
                        }
                    }
                )
            yield build_batch(batch)

    return _arrow_batches


def _bytes_in(batch) -> pa.Array:
    import pyarrow.compute as pc

    return pc.coalesce(
        pc.cast(pc.binary_length(batch.column("html")), pa.int64()),
        pa.scalar(0, type=pa.int64()),
    )


def _links_array(link_offsets, hrefs, anchors) -> pa.Array:
    links_struct = pa.StructArray.from_arrays(
        [
            pa.array(hrefs, type=pa.string()),
            pa.array(anchors, type=pa.string()),
        ],
        names=["href", "anchor"],
    )
    return pa.ListArray.from_arrays(
        pa.array(link_offsets, type=pa.int32()), links_struct
    )


def _meta_array(meta_cols) -> pa.Array:
    return pa.StructArray.from_arrays(
        [pa.array(meta_cols[f], type=pa.string()) for f in _META_FIELDS],
        names=list(_META_FIELDS),
    )


def _parse_one_batch(batch) -> pa.RecordBatch:
    """html bytes → block structs for one Arrow batch.

    Runs on executors; imports resolved via --py-files/driver-shipped package.
    Output arrays are built columnar (flat primitive columns → StructArray →
    ListArray) — pa.array over list-of-dicts walks Python objects per value
    and measured ~2x slower for the whole stage.
    """
    from ocr_spark.html_blocks import parse_batch_columnar

    block_type = block_pa_type()
    bbox_type = block_type.field("bbox").type
    htmls = batch.column("html").to_pylist()
    langs = batch.column("lang").to_pylist()
    (
        kinds, offsets, cols, bbox_null, link_offsets, hrefs, anchors,
        meta_cols, table_offsets, table_cols,
    ) = parse_batch_columnar(htmls, langs)

    bbox_arr = pa.StructArray.from_arrays(
        [
            pa.array(cols[f], type=pa.float64())
            for f in ("x0", "y0", "x1", "y1")
        ],
        fields=list(bbox_type),
        mask=pa.array(bbox_null, type=pa.bool_()),
    )
    field_arrays = [
        pa.array(cols[f.name], type=f.type)
        for f in block_type
        if f.name != "bbox"
    ] + [bbox_arr]
    struct_arr = pa.StructArray.from_arrays(
        field_arrays, fields=list(block_type)
    )
    blocks_arr = pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()), struct_arr
    )
    cells_struct = pa.StructArray.from_arrays(
        [
            pa.array(table_cols["table_id"], type=pa.int32()),
            pa.array(table_cols["row_id"], type=pa.int32()),
            pa.array(table_cols["cell_id"], type=pa.int32()),
            pa.array(table_cols["header"], type=pa.bool_()),
            pa.array(table_cols["text"], type=pa.string()),
        ],
        names=["table_id", "row_id", "cell_id", "header", "text"],
    )
    tables_arr = pa.ListArray.from_arrays(
        pa.array(table_offsets, type=pa.int32()), cells_struct
    )
    return pa.RecordBatch.from_arrays(
        [
            batch.column("url"),
            batch.column("warc_ts"),
            batch.column("lang"),
            batch.column("part_id"),
            _bytes_in(batch),
            pa.array(kinds, type=pa.string()),
            blocks_arr,
            _links_array(link_offsets, hrefs, anchors),
            _meta_array(meta_cols),
            tables_arr,
        ],
        names=[
            "url", "warc_ts", "lang", "part_id", "bytes_in", "kind",
            "blocks", "links", "meta", "tables",
        ],
    )


def _extract_one_batch(batch, columns: tuple[str, ...]) -> pa.RecordBatch:
    """html bytes → the extracted ``columns`` for one Arrow batch: parse,
    classify, smooth, spans, join and sha256 all run here, so only the
    output columns cross back to the JVM."""
    from ocr_spark.html_blocks import extract_batch_columnar

    (
        texts, shas, n_blocks, n_content, span_offsets, span_cols,
        link_offsets, hrefs, anchors, meta_cols,
    ) = extract_batch_columnar(
        batch.column("html").to_pylist(),
        batch.column("lang").to_pylist(),
        with_links="links" in columns,
        with_meta="meta" in columns,
    )
    spans_struct = pa.StructArray.from_arrays(
        [
            pa.array(span_cols["block_id"], type=pa.int32()),
            pa.array(span_cols["start"], type=pa.int64()),
            pa.array(span_cols["end"], type=pa.int64()),
            pa.repeat(pa.scalar("content"), span_offsets[-1]),
        ],
        fields=[
            pa.field("block_id", pa.int32()),
            pa.field("start", pa.int64()),
            pa.field("end", pa.int64()),
            pa.field("label", pa.string(), nullable=False),
        ],
    )
    out = {
        "extracted_text": pa.array(texts, type=pa.string()),
        "spans": pa.ListArray.from_arrays(
            pa.array(span_offsets, type=pa.int32()), spans_struct
        ),
        "text_sha256": pa.array(shas, type=pa.string()),
        "n_blocks": pa.array(n_blocks, type=pa.int32()),
        "n_content_blocks": pa.array(n_content, type=pa.int32()),
    }
    if "bytes_in" in columns:
        out["bytes_in"] = _bytes_in(batch)
    if "meta" in columns:
        out["meta"] = _meta_array(meta_cols)
    if "links" in columns:
        out["links"] = _links_array(link_offsets, hrefs, anchors)
    return pa.RecordBatch.from_arrays(
        [out[c] if c in out else batch.column(c) for c in columns],
        names=list(columns),
    )


def with_part_id(df: DataFrame, num_parts: int = DEFAULT_NUM_PARTS) -> DataFrame:
    """Deterministic partition-lineage key: pmod(xxhash64(url), num_parts).

    Independent of cluster size / task layout → resume manifests written at
    N executors stay valid at 4N (SURVEY §2 op 22).
    """
    return df.withColumn(
        "part_id", F.pmod(F.xxhash64("url"), F.lit(num_parts)).cast("int")
    )


def salted(df: DataFrame, partitions: int, salt_n: int = DEFAULT_SALT_N) -> DataFrame:
    """Explicit salted repartition for skewed hosts (SURVEY §2 op 21).

    hash(url) alone already spreads a hot host's pages, but the salt term
    keeps the guarantee even for a single viral url recrawled millions of
    times: (url, warc_ts) salting splits identical urls across tasks.
    """
    return (
        df.withColumn(
            "_salt", F.pmod(F.xxhash64("url", "warc_ts"), F.lit(salt_n)).cast("int")
        )
        .repartition(partitions, "part_id", "_salt")
        .drop("_salt")
    )


def parse_pages(
    df: DataFrame,
    num_parts: int = DEFAULT_NUM_PARTS,
    input_counter=None,
) -> DataFrame:
    """SURVEY §2 op 11 (+60): pages → (url, warc_ts, lang, part_id, kind, blocks)."""
    if "part_id" not in df.columns:
        df = with_part_id(df, num_parts)
    narrow = df.select("url", "warc_ts", "lang", "part_id", "html")
    return narrow.mapInArrow(
        _make_arrow_worker(_parse_one_batch, input_counter), PARSED_DDL
    )


def classify_expr(block: Column) -> Column:
    """SURVEY §2 op 13: context-free jusText labels — pure column exprs."""
    return (
        F.when(block["link_density"] > F.lit(spec.MAX_LINK_DENSITY), "bad")
        .when(block["text_len"] < F.lit(spec.LEN_SHORT), "short")
        .when(block["stopword_density"] >= F.lit(spec.STOP_GOOD), "good")
        .when(block["stopword_density"] >= F.lit(spec.STOP_NEAR), "near")
        .otherwise("bad")
    )


# Smoothing pass (op 14) over a labels array `labs`: each non-edge block
# inherits 'content' iff its nearest preceding OR following edge label
# ('good'/'bad') is 'good'. Equivalently, BETWEEN two consecutive edges every
# non-edge block gets the same verdict — so instead of a per-element
# nearest-edge lookup (the round-1 slice+filter+reverse was O(n²) interpreted
# lambda evals per document; a MAX_BLOCKS link-farm page cost 2000² HOF evals
# and could drag a whole stage), the output is assembled SEGMENT-WISE:
# extract the edge positions/labels (one O(n) pass each), then emit
# [gap-fill, edge, gap-fill, edge, ..., tail-fill] via array_repeat + flatten
# — O(#edges) lambda evaluations and O(n) output construction. (An
# aggregate() running-state scan was tried first and measured far SLOWER
# than even the quadratic form: per-step array append inside aggregate
# re-copies the accumulator array through the interpreted-projection path.)
#
# Boundary semantics (same as round 1): before the first edge the preceding
# label is NULL, after the last the following is NULL; three-valued OR makes
# NULL = 'good' count as false, ELSE = 'boilerplate'. No edges -> all
# 'boilerplate'. PDF payloads keep every block.
_SMOOTH_SQL = """
CASE WHEN kind = 'pdf' THEN transform(labs, l -> 'content')
WHEN size(_eidx) = 0 THEN transform(labs, l -> 'boilerplate')
ELSE concat(
  flatten(transform(sequence(0, size(_eidx) - 1), j ->
    concat(
      array_repeat(
        IF(IF(j = 0, CAST(NULL AS STRING), element_at(_elab, j)) = 'good'
           OR element_at(_elab, j + 1) = 'good',
           'content', 'boilerplate'),
        element_at(_eidx, j + 1) - IF(j = 0, 0, element_at(_eidx, j) + 1)),
      array(IF(element_at(_elab, j + 1) = 'good', 'content', 'boilerplate'))
    ))),
  array_repeat(
    IF(element_at(_elab, size(_elab)) = 'good', 'content', 'boilerplate'),
    size(labs) - 1 - element_at(_eidx, size(_eidx))))
END
"""

_EDGE_IDX_SQL = (
    "filter(transform(labs, (l, i) -> IF(l IN ('good', 'bad'), i, -1)),"
    " x -> x >= 0)"
)
_EDGE_LAB_SQL = "filter(labs, l -> l IN ('good', 'bad'))"


def label_blocks(parsed: DataFrame) -> DataFrame:
    """Ops 13+14 fused: adds `labels: array<string>` aligned with `blocks`."""
    return (
        parsed.withColumn("labs", F.transform("blocks", classify_expr))
        .withColumn("_eidx", F.expr(_EDGE_IDX_SQL))
        .withColumn("_elab", F.expr(_EDGE_LAB_SQL))
        .withColumn("labels", F.expr(_SMOOTH_SQL))
        .drop("labs", "_eidx", "_elab")
    )


def assemble(
    labeled: DataFrame, stats: bool = False, keep_meta: bool = False
) -> DataFrame:
    """Ops 15+17: span offsets + byte-identical assembly, all JVM-side.

    Span start offsets are a prefix sum of content-block strides
    (text_len + separator). An aggregate() building the spans array by
    appending per element re-copies the growing accumulator array through
    the interpreted projection every step — O(n²) work that made a
    MAX_BLOCKS (2000-block) page cost ~35 ms in this stage alone. The
    prefix sum is instead computed with ceil(log2(MAX_BLOCKS)) Hillis-Steele
    doubling passes (p[i] += p[i - 2^k]), each one O(n) element_at lookups,
    then the spans array is a single zip_with over (content, prefix).

    ``stats=True`` keeps the per-row ``bytes_in`` column (input payload size)
    for the lineage aggregation in :mod:`ocr_spark.operators.runner`.
    """
    import math

    sep_len = len(spec.SEP)
    content = F.transform(
        F.filter(
            F.arrays_zip("blocks", "labels"),
            lambda z: z["labels"] == F.lit("content"),
        ),
        lambda z: z["blocks"],
    )
    df = labeled.withColumn("content", content)
    # per-block stride; the IF(size=0, ...) guards Spark's descending
    # sequence(1, 0) under ANSI mode (same pitfall as the shingle expr)
    df = df.withColumn(
        "_st",
        F.expr(
            f"transform(content, b -> CAST(b.text_len + {sep_len} AS BIGINT))"
        ),
    )
    col = "_st"
    for k in range(max(1, math.ceil(math.log2(spec.MAX_BLOCKS)))):
        shift = 1 << k
        nxt = f"_p{k}"
        df = df.withColumn(
            nxt,
            F.expr(
                f"IF(size({col}) = 0, {col},"
                f" transform(sequence(1, size({col})),"
                f" i -> element_at({col}, i)"
                f" + IF(i > {shift}, element_at({col}, i - {shift}), 0L)))"
            ),
        )
        col = nxt
    # inclusive prefix P[i] = sum of strides 1..i;
    # start_i = P[i] - stride_i, end_i = start_i + text_len = P[i] - sep
    spans = F.expr(
        f"""zip_with(content, {col}, (b, p) -> named_struct(
  'block_id', b.block_id,
  'start', p - CAST(b.text_len + {sep_len} AS BIGINT),
  'end', p - {sep_len}L,
  'label', 'content'))"""
    )

    # two-step projection: text is materialized once and the sha reuses the
    # column (CollapseProject keeps multi-referenced non-cheap aliases
    # un-inlined, so the interpreted array_join/transform runs once per row,
    # not twice)
    joined = df.select(
        "url",
        "warc_ts",
        "lang",
        *(["bytes_in"] if stats else []),
        *(["meta"] if keep_meta else []),
        F.array_join(
            F.transform("content", lambda b: b["text"]), spec.SEP
        ).alias("extracted_text"),
        spans.alias("spans"),
        F.size("blocks").alias("n_blocks"),
        F.size("content").alias("n_content_blocks"),
        "part_id",
    )
    return joined.select(
        "url",
        "warc_ts",
        "lang",
        *(["bytes_in"] if stats else []),
        *(["meta"] if keep_meta else []),
        "extracted_text",
        "spans",
        F.sha2(F.coalesce(F.col("extracted_text"), F.lit("")), 256).alias(
            "text_sha256"
        ),
        "n_blocks",
        "n_content_blocks",
        "part_id",
    )


def extract_outlinks(
    df: DataFrame,
    num_parts: int = DEFAULT_NUM_PARTS,
) -> DataFrame:
    """SPEC.md §5 outlink product: one row per (page, link), document order.

    The classic Common-Crawl side product (the WAT link graph): hrefs are as
    written (normalized per §5.4) — host attribution/resolution is the
    relational stage ``queries_webgraph.link_host_expr``. Same plan shape as
    extraction: one mapInArrow hop, then a JVM-side posexplode — narrow
    end-to-end, no shuffle.
    """
    parsed = parse_pages(df, num_parts)
    return parsed.select(
        "url",
        "warc_ts",
        "part_id",
        F.posexplode("links").alias("link_id", "_l"),
    ).select(
        "url",
        "warc_ts",
        "part_id",
        "link_id",
        F.col("_l.href").alias("href"),
        F.col("_l.anchor").alias("anchor"),
    )


def extract_tables(
    df: DataFrame,
    num_parts: int = DEFAULT_NUM_PARTS,
) -> DataFrame:
    """SPEC.md §7 table product: one row per (page, cell fragment), document
    order within a page via ``cell_id`` (per-table) plus ``table_id``.

    Structured-data mining over a crawl (price grids, standings, infobox
    rows) without a second parse design: the SAME single mapInArrow hop
    that yields blocks/links/meta also yields the cell fragments, then a
    JVM-side explode — narrow end-to-end, no shuffle.
    """
    parsed = parse_pages(df, num_parts)
    return parsed.select(
        "url",
        "warc_ts",
        "part_id",
        F.explode("tables").alias("_c"),
    ).select(
        "url",
        "warc_ts",
        "part_id",
        F.col("_c.table_id").alias("table_id"),
        F.col("_c.row_id").alias("row_id"),
        F.col("_c.cell_id").alias("cell_id"),
        F.col("_c.header").alias("header"),
        F.col("_c.text").alias("cell_text"),
    )


def extract_metadata(
    df: DataFrame,
    num_parts: int = DEFAULT_NUM_PARTS,
) -> DataFrame:
    """SPEC.md §6 page-metadata product: one row per page with the
    WAT-record head fields (title, meta description, canonical link,
    og:title — empty string = unset). Same plan shape as extraction: one
    mapInArrow hop then a JVM projection — narrow end-to-end, no shuffle.
    """
    parsed = parse_pages(df, num_parts)
    return parsed.select(
        "url",
        "warc_ts",
        "part_id",
        F.col("meta.title").alias("title"),
        F.col("meta.description").alias("description"),
        F.col("meta.canonical").alias("canonical"),
        F.col("meta.og_title").alias("og_title"),
    )


# --- language-recovering extraction (untagged crawls) -------------------------------
# WARC archives carry no language tag, but SPEC §2's stopword features are
# language-keyed: parsing a NULL-lang page scores its blocks against the
# DEFAULT_LANG list, so a German page's perfectly good paragraphs classify
# as boilerplate and the page extracts empty. The production answer (the
# same move CCNet makes before its stoplist-dependent stages) is ONE parse,
# then: (1) predict the language from the FULL block text (content and
# boilerplate alike — langid needs all the evidence), (2) re-score each
# block's stopword_density against the recovered language's frozen list —
# a pure JVM array HOF over the already-parsed block structs, no second
# Python crossing — and (3) classify/smooth/assemble exactly as before.
# Pages that arrived with a tag are untouched (density already right).

_SD_PUNCT_SQL = spec.PUNCT.replace("'", "''")
_STOPMAP_EXPR = "map(" + ", ".join(
    "'{lg}', array({ws})".format(
        lg=lg, ws=", ".join(f"'{w}'" for w in sorted(ws))
    )
    for lg, ws in spec.STOPWORDS.items()
) + ")"
_EN_STOPS_EXPR = "array(" + ", ".join(
    f"'{w}'" for w in sorted(spec.STOPWORDS["en"])
) + ")"
# rewrite the blocks array with densities re-scored against the (possibly
# recovered) lang column; all other fields carried through verbatim
_RESCORE_BLOCKS_SQL = f"""
transform(blocks, b -> named_struct(
  'block_id', b.block_id, 'tag', b.tag, 'depth', b.depth, 'text', b.text,
  'text_len', b.text_len, 'n_words', b.n_words,
  'n_link_chars', b.n_link_chars, 'link_density', b.link_density,
  'char_density', b.char_density,
  'stopword_density',
    CAST(size(filter(split(b.text, ' '), w_ -> array_contains(
      coalesce(element_at({_STOPMAP_EXPR}, lang), {_EN_STOPS_EXPR}),
      trim(BOTH '{_SD_PUNCT_SQL}' FROM lower(w_))))) AS DOUBLE)
    / b.n_words,
  'bbox', b.bbox))
"""


def extract_pages_langid(
    df: DataFrame,
    num_parts: int = DEFAULT_NUM_PARTS,
    stats: bool = False,
    input_counter=None,
) -> DataFrame:
    """Extraction for untagged crawls: recover ``lang`` (stopword-argmax
    over the full block text), re-score block stopword densities against
    the recovered list, then classify/smooth/assemble. One mapInArrow hop,
    still shuffle-free; rows that arrived with a lang keep their original
    densities and tag. The output ``lang`` column is the recovered one."""
    from ocr_spark.queries_textml import with_langid

    if "part_id" not in df.columns:
        df = with_part_id(df, num_parts)
    parsed = parse_pages(df, num_parts, input_counter)
    parsed = parsed.withColumn("_had_lang", F.col("lang").isNotNull())
    parsed = parsed.withColumn(
        "_alltext",
        F.expr("array_join(transform(blocks, b -> b.text), ' ')"),
    )
    parsed = with_langid(parsed, "_alltext", "_lang_rec")
    parsed = parsed.withColumn(
        "lang", F.coalesce(F.col("lang"), F.col("_lang_rec"))
    )
    parsed = parsed.withColumn(
        "blocks",
        F.when(F.col("_had_lang"), F.col("blocks")).otherwise(
            F.expr(_RESCORE_BLOCKS_SQL)
        ),
    ).drop("_had_lang", "_alltext", "_lang_rec")
    return assemble(label_blocks(parsed), stats=stats)


def extract_arrow(
    df: DataFrame,
    num_parts: int = DEFAULT_NUM_PARTS,
    repartition: int | None = None,
    stats: bool = False,
    input_counter=None,
    keep_meta: bool = False,
    links: bool = False,
) -> DataFrame:
    """:func:`extract_pages`, optionally also returning the SPEC §5
    ``links`` array (``links=True``) from the same worker — the runner's
    shared parse for its side products."""
    if "part_id" not in df.columns:
        df = with_part_id(df, num_parts)
    if repartition:
        df = salted(df, repartition)
    columns = (
        "url", "warc_ts", "lang",
        *(["bytes_in"] if stats else []),
        *(["meta"] if keep_meta else []),
        "extracted_text", "spans", "text_sha256", "n_blocks",
        "n_content_blocks", "part_id",
        *(["links"] if links else []),
    )
    schema = T.StructType(
        [T.StructField(c, _EXTRACTED_TYPES[c]) for c in columns]
    )
    narrow = df.select("url", "warc_ts", "lang", "part_id", "html")
    return narrow.mapInArrow(
        _make_arrow_worker(
            functools.partial(_extract_one_batch, columns=columns),
            input_counter,
        ),
        schema,
    )


def extract_pages(
    df: DataFrame,
    num_parts: int = DEFAULT_NUM_PARTS,
    repartition: int | None = None,
    stats: bool = False,
    input_counter=None,
    keep_meta: bool = False,
) -> DataFrame:
    """Full fused extraction: pages → extracted (SURVEY §3.2), ops 11-17 in
    ONE mapInArrow hop. The worker parses, classifies, smooths and
    assembles each page and returns only the output columns — no block
    array crosses back to the JVM and no array expression runs after the
    hop.

    ``repartition`` (optional) forces a salted exchange before the parse —
    used when input splits are unbalanced or to bound output file counts;
    the default (None) keeps the plan shuffle-free. ``stats=True`` adds a
    per-row ``bytes_in`` column for lineage accounting. ``keep_meta=True``
    carries the SPEC §6 ``meta`` struct through to the output rows (the
    one-product consumers — e.g. the streaming flagship — get metadata
    without a second parse or a second sink).
    """
    return extract_arrow(
        df, num_parts, repartition, stats, input_counter, keep_meta
    )
