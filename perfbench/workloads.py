"""The four benchmark workloads.

Each workload owns its inputs and its correctness reference:

- ``prepare`` writes the seeded inputs under the inputs directory and
  computes the reference for a seeded sample (or loads both when the
  inputs directory was prepared by another process); ``reference``
  completes a reference that needs Spark;
- ``run`` is one timed job through the public ``ocr_spark`` entry points;
- ``check`` compares ``run``'s output with the reference, untimed, and
  returns the number of docs whose output is missing or wrong;
- ``layers`` times calls into each module the workload exercises, for the
  traced run.

Every output check hashes all output columns (:func:`_digest`), so that no
column can be pruned from the timed plan.
"""

from __future__ import annotations

import json
import pathlib
import random
import shutil
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from perfbench import inputs

_CK_MOD = 1 << 31


def _digest(df: DataFrame, key: str, sample: list) -> dict:
    """Row count, an order-free checksum over every column, and the full
    rows whose ``key`` is in ``sample``. The rows go to a no-op sink with
    the aggregates observed on the way, so the digest is one pass and adds
    no shuffle to the plan."""
    cols = df.columns
    obs = Observation()
    df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(_CK_MOD))).alias("ck"),
        F.collect_list(
            F.when(F.col(key).isin(sample), F.struct(*cols))
        ).alias("sample"),
    ).write.format("noop").mode("overwrite").save()
    return obs.get


def _timed(fn) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _golden(url: str, html, lang) -> dict:
    from ocr_spark.goldenref import extract_document

    doc = extract_document(url, bytes(html) if html is not None else None, lang)
    return {
        "extracted_text": doc["extracted_text"],
        "spans": [[s["block_id"], s["start"], s["end"], s["label"]] for s in doc["spans"]],
        "text_sha256": doc["text_sha256"],
        "n_blocks": doc["n_blocks"],
        "n_content_blocks": doc["n_content_blocks"],
        "n_links": len(doc["links"]),
        "meta": doc["meta"],
    }


def _text_ok(row, exp: dict) -> bool:
    spans = [[s["block_id"], s["start"], s["end"], s["label"]] for s in row["spans"] or []]
    return (
        row["extracted_text"] == exp["extracted_text"]
        and spans == exp["spans"]
        and row["text_sha256"] == exp["text_sha256"]
        and row["n_blocks"] == exp["n_blocks"]
        and row["n_content_blocks"] == exp["n_content_blocks"]
    )


def _parse_layer(rows: list) -> dict:
    """``html_blocks.parse_batch_columnar`` single-threaded on the
    workload's own pages, plus counts that describe the input."""
    from ocr_spark.html_blocks import parse_batch_columnar

    htmls = [bytes(r["html"]) if r["html"] is not None else None for r in rows]
    langs = [r["lang"] for r in rows]
    secs, parsed = _timed(lambda: parse_batch_columnar(htmls, langs))
    offsets, link_offsets = parsed[1], parsed[4]
    n = len(rows)
    return {
        "html_blocks.parse_us_per_doc": secs / n * 1e6,
        "html_blocks.blocks_per_doc": offsets[-1] / n,
        "html_blocks.links_per_doc": link_offsets[-1] / n,
        "html_blocks.bytes_per_doc": sum(len(h or b"") for h in htmls) / n,
        "_parse_cpu_s": secs,
    }


class Workload:
    name = ""
    why = ""
    warm_runs = 2  # untimed runs before the measured loop

    def __init__(self, spark: SparkSession, inputs_dir: pathlib.Path,
                 work_dir: pathlib.Path, seed: int, cores: int) -> None:
        self.spark = spark
        self.inputs_dir = inputs_dir
        self.work_dir = work_dir
        self.seed = seed
        self.cores = cores
        self.n = 0  # input docs per run
        self.ref: dict = {}
        self.ck = None  # checksum of the first run; later runs must match

    @property
    def _ref_file(self) -> pathlib.Path:
        return self.inputs_dir / f"{self.name}.json"

    def prepare(self) -> None:
        """Write the inputs, or load them when another process did."""
        if not self._ref_file.exists():
            self._ref_file.write_text(json.dumps(self.generate()))
        self.ref = json.loads(self._ref_file.read_text())
        self.n = self.ref["n"]

    def reference(self) -> None:
        """Complete a reference that needs Spark; called after the warm-up
        so that it runs on a warm JVM."""

    def _same_ck(self, ck) -> bool:
        if self.ck is None:
            self.ck = ck
        return ck == self.ck

    def generate(self) -> dict:
        raise NotImplementedError

    def run(self):
        raise NotImplementedError

    def check(self, out) -> int:
        raise NotImplementedError

    def layers(self, traced: dict) -> dict:
        raise NotImplementedError


class _PagesWorkload(Workload):
    """Pages from parquet through ``extract_pages``; every output column
    evaluated, nothing written."""

    size = 0

    @property
    def path(self) -> str:
        return str(self.inputs_dir / self.name)

    def make(self) -> list[dict]:
        raise NotImplementedError

    def pages(self) -> DataFrame:
        from ocr_spark.operators.runner import read_pages

        return read_pages(self.spark, self.path)

    def generate(self) -> dict:
        rows = self.make()
        inputs.write_parquet(rows, self.path, inputs.PAGES_ARROW, self.cores)
        return {
            "n": len(rows),
            "expected": {r["url"]: _golden(r["url"], r["html"], r["lang"])
                         for r in inputs.sample(rows, self.seed)},
        }

    def run(self):
        from ocr_spark.operators.extract import extract_pages

        return _digest(extract_pages(self.pages()), "url", list(self.ref["expected"]))

    def check(self, out) -> int:
        if not self._same_ck(out["ck"]):
            return self.n
        got = {r["url"]: r for r in out["sample"]}
        bad = sum(
            1 for url, exp in self.ref["expected"].items()
            if url not in got or not _text_ok(got[url], exp)
        )
        return min(self.n, abs(self.n - out["n"]) + bad)

    def layers(self, traced: dict) -> dict:
        from ocr_spark.operators.extract import assemble, label_blocks, parse_pages

        m = _parse_layer(self.pages().select("html", "lang").collect())
        parse_cpu_s = m.pop("_parse_cpu_s")
        secs, _ = _timed(lambda: _digest(parse_pages(self.pages()), "url", []))
        m["extract.parse_pages_s"] = secs
        m["extract.boundary_s"] = secs - parse_cpu_s / self.cores
        parsed = parse_pages(self.pages()).persist()
        parsed.count()
        m["extract.label_blocks_s"], _ = _timed(
            lambda: _digest(label_blocks(parsed), "url", []))
        labeled = label_blocks(parsed).persist()
        labeled.count()
        m["extract.assemble_s"], _ = _timed(
            lambda: _digest(assemble(labeled), "url", []))
        labeled.unpersist()
        parsed.unpersist()
        return m


class PagesSmall(_PagesWorkload):
    name = "pages_small"
    why = ("short bench_pages-shaped pages: per-doc fixed costs (Arrow hop, "
           "Python workers, per-row JVM array functions) dominate")
    size = 20_000

    def make(self) -> list[dict]:
        return inputs.short_pages(self.size, self.seed)

    def layers(self, traced: dict) -> dict:
        """Also probes the production path on this workload's pages: the
        ``warc_runner`` job once over the first ``WarcRunner.size`` of them,
        so that the WARC and runner layers are measured here too."""
        m = super().layers(traced)
        probe = WarcRunner(self.spark, self.inputs_dir, self.work_dir, self.seed, self.cores)
        probe.prepare()
        wall_s, out = _timed(probe.run)
        if probe.check(out):
            raise RuntimeError("runner probe: outputs wrong")
        m.update(probe.runner_layers(wall_s))
        return m


class PagesLong(_PagesWorkload):
    name = "pages_long"
    why = ("template pages plus 0.5% MAX_BLOCKS link farms: the parser and "
           "the block-array classify/smooth/spans stages dominate")
    size = 6_000

    def make(self) -> list[dict]:
        return inputs.template_pages(self.size, self.seed)


class WarcRunner(Workload):
    """gzip WARC files → ``read_warc`` → ``run_extract`` with the links and
    meta side products, into a fresh directory per run. Two batches go
    through the staging path; the partition counts are below the defaults,
    whose fixed per-task cost alone is 18-20 s a run (see README)."""

    name = "warc_runner"
    warm_runs = 1  # its cold run alone is about 17 s
    why = ("the only writing workload: archive split, staging exchange, "
           "shared parse, three zstd sinks, read-back, lineage, manifest")
    size = 4_000
    num_files = 8
    runs = 0  # numbers each run's output directory
    num_parts = 8
    parts_per_batch = 4

    @property
    def archive(self) -> str:
        return str(self.inputs_dir / "warc")

    def generate(self) -> dict:
        rows = inputs.short_pages(self.size, self.seed)
        # a WARC record carries no language: extraction sees lang NULL
        return {
            "n": len(rows),
            "archive_bytes": inputs.write_warc(rows, self.archive, self.num_files),
            "expected": {r["url"]: _golden(r["url"], r["html"], None)
                         for r in inputs.sample(rows, self.seed)},
        }

    def run(self):
        from ocr_spark.operators.runner import run_extract
        from ocr_spark.sources.warc import read_warc

        self.runs += 1
        out = self.work_dir / f"{self.name}-out-{self.runs}"
        pages = read_warc(self.spark, self.archive).select(
            "url", "warc_ts", "html",
            F.lit(None).cast("string").alias("text"),
            F.lit(None).cast("string").alias("lang"),
        )
        res = run_extract(
            self.spark, pages, str(out), run_id=f"bench-{self.runs}",
            num_parts=self.num_parts, parts_per_batch=self.parts_per_batch,
            links_location=str(out / "links"), meta_location=str(out / "meta"),
            stage_partitions=self.cores,
        )
        return out, res

    def check(self, out) -> int:
        from ocr_spark.operators.runner import read_lineage

        out_dir, self.last = out
        files = [p for p in out_dir.rglob("*") if p.is_file()]
        self.last_files = len(files)
        self.last_bytes = sum(p.stat().st_size for p in files)
        try:
            sample = list(self.ref["expected"])
            spark = self.spark
            manifests = len(list((out_dir / "_manifest").glob("part-*.json")))
            lin = read_lineage(spark, str(out_dir)).where(F.col("status") == "ok").agg(
                F.sum("input_rows").alias("i"), F.sum("output_rows").alias("o"),
            ).collect()[0]
            text = _digest(spark.read.parquet(str(out_dir / "data")), "url", sample)
            links = dict(
                spark.read.parquet(str(out_dir / "links"))
                .where(F.col("url").isin(sample)).groupBy("url").count().collect()
            )
            metas = {}
            for r in spark.read.parquet(str(out_dir / "meta")).where(
                    F.col("url").isin(sample)).collect():
                metas.setdefault(r["url"], []).append(
                    {k: r[k] for k in ("title", "description", "canonical", "og_title")})
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
        if manifests != self.num_parts or lin["i"] != self.n or lin["o"] != self.n:
            return self.n
        if not self._same_ck(text["ck"]):
            return self.n
        got = {r["url"]: r for r in text["sample"]}
        bad = sum(
            1 for url, exp in self.ref["expected"].items()
            if url not in got or not _text_ok(got[url], exp)
            or links.get(url, 0) != exp["n_links"]
            or metas.get(url) != [exp["meta"]]
        )
        return min(self.n, abs(self.n - text["n"]) + bad)

    def layers(self, traced: dict) -> dict:
        rows = [{"html": r["html"], "lang": None}
                for r in inputs.short_pages(self.size, self.seed)]
        m = _parse_layer(rows)
        m.pop("_parse_cpu_s")
        m.update(self.runner_layers(traced["wall_s"]))
        return m

    def runner_layers(self, wall_s: float) -> dict:
        """``read_warc`` timed alone, and the phases and output of the last
        checked run, whose wall time was ``wall_s``."""
        from ocr_spark.sources.warc import read_warc

        m = {}
        m["warc.read_s"], _ = _timed(
            lambda: _digest(read_warc(self.spark, self.archive), "url", []))
        m["warc.archive_bytes"] = self.ref["archive_bytes"]
        phases = self.last["stage_sec"]
        for k, v in phases.items():
            m[f"runner.{k}_s"] = v
        m["runner.other_s"] = wall_s - sum(phases.values())
        m["runner.bytes_written"] = self.last_bytes
        m["runner.files_written"] = self.last_files
        m["runner.write_amp"] = self.last_bytes / self.ref["archive_bytes"]
        return m


def _union_find_reps(ids, groups) -> dict[int, int]:
    """Pure-Python connected components: each id maps to the minimum id of
    the component its shared buckets (``groups`` of ids) connect it to."""
    parent = {i: i for i in ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for group in groups:
        for other in group[1:]:
            a, b = find(group[0]), find(other)
            if a != b:
                parent[max(a, b)] = min(a, b)  # the root is always the min id
    return {i: find(i) for i in parent}


class DedupCC(Workload):
    """Near-duplicate docs → MinHash signatures → band keys → bucket
    connected components; labels evaluated, then unpersisted."""

    name = "dedup_cc"
    why = ("shuffle- and driver-loop-heavy corpus dedup that the narrow "
           "extraction plans bypass: persist, iterate, unpersist")
    size = 12_000

    @property
    def path(self) -> str:
        return str(self.inputs_dir / self.name)

    def docs(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def generate(self) -> dict:
        rows, dups = inputs.near_dup_docs(self.size, self.seed)
        inputs.write_parquet(rows, self.path, inputs.DOCS_ARROW, self.cores)
        # a seeded sample: generated duplicates, their sources, random docs
        rng = random.Random(self.seed)
        picked = rng.sample(dups, min(50, len(dups)))
        sample = sorted({*picked, *(d - 1 for d in picked), *rng.sample(range(len(rows)), 100)})
        return {"n": len(rows), "sample": sample}

    def reference(self) -> None:
        from ocr_spark.queries_textml import minhash_band_keys, minhash_signatures

        if "expected" in self.ref:
            return
        # the reference walks the engine's own band keys; only buckets that
        # hold two or more docs can connect anything
        shared = (
            minhash_band_keys(minhash_signatures(self.docs()))
            .groupBy("bi", "band").agg(F.collect_list("doc_id").alias("ids"))
            .where(F.size("ids") > 1).collect()
        )
        reps = _union_find_reps(range(self.n), [r["ids"] for r in shared])
        # every doc has 60 words, so every doc is banded and labeled
        self.ref.update(labeled=len(reps),
                        expected={str(d): reps[d] for d in self.ref["sample"]})
        self._ref_file.write_text(json.dumps(self.ref))

    def run(self):
        from ocr_spark.functions.graph import bucket_connected_components
        from ocr_spark.queries_textml import minhash_band_keys, minhash_signatures

        labels = bucket_connected_components(
            minhash_band_keys(minhash_signatures(self.docs())))
        try:
            return _digest(labels, "doc_id", self.ref["sample"])
        finally:
            labels.unpersist()

    def check(self, out) -> int:
        if out["n"] != self.ref["labeled"] or not self._same_ck(out["ck"]):
            return self.n
        got = {str(r["doc_id"]): r["rep"] for r in out["sample"]}
        return sum(1 for d, rep in self.ref["expected"].items() if got.get(d) != rep)

    def layers(self, traced: dict) -> dict:
        from ocr_spark.functions.graph import bucket_connected_components
        from ocr_spark.queries_textml import minhash_band_keys, minhash_signatures

        m = {}
        m["minhash.signatures_s"], _ = _timed(
            lambda: _digest(minhash_signatures(self.docs()), "doc_id", []))
        sig = minhash_signatures(self.docs()).persist()
        sig.count()
        m["minhash.band_keys_s"], _ = _timed(
            lambda: _digest(minhash_band_keys(sig), "doc_id", []))
        keys = minhash_band_keys(sig).persist()
        keys.count()

        def cc():
            labels = bucket_connected_components(keys)
            labels.count()
            labels.unpersist()

        m["graph.cc_s"], _ = _timed(cc)
        keys.unpersist()
        sig.unpersist()
        return m


WORKLOADS = {w.name: w for w in (PagesSmall, PagesLong, WarcRunner, DedupCC)}
