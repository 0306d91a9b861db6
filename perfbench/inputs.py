"""Seeded input generators and writers for the benchmark workloads.

Inputs are built in plain Python from one ``random.Random(seed)`` and
written with pyarrow (parquet) or as gzip-member WARC files, before any
timing and without Spark, so set-up stays short. Each generator follows a
shape that ``ocr_spark.gen`` defines:

- :func:`short_pages` — the ``gen.bench_pages`` shape: about 0.9 KB and 5
  blocks per page, 30% of pages on one hot host, a paragraph repeated 1-6
  times, 2% PDF, 1% NULL and 1% bad-UTF-8 payloads.
- :func:`template_pages` — ``gen._template_page`` itself (nav, menu, style,
  3-10 paragraphs, the 7-entry language mix of ``gen.fixture_pages``) plus
  about 0.5% link-farm pages past ``spec.MAX_BLOCKS``.
- :func:`near_dup_docs` — the ``gen.bench_docs`` shape: hex-word salad,
  about 3% exact and 3% near duplicates (every 8th word replaced) of the
  previous doc, without chains of duplicates.
"""

from __future__ import annotations

import datetime as dt
import gzip
import pathlib
import random

import pyarrow as pa
import pyarrow.parquet as pq

_BASE_TS = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
LINK_FARM_FRAC = 0.005
LINK_FARM_PAIRS = 1050  # 2100 raw blocks: past MAX_BLOCKS, so the cap applies

_SENTENCE = ("the data engine is on a table and the scan of it was in the "
             "plan for this batch with all of those rows ")
_NAV = ('<nav><a href="/a">one link</a> <a href="/b">two link</a> '
        '<a href="/c">three link</a></nav>')


def _page(url: str, secs: int, html: bytes | None, lang: str) -> dict:
    return {"url": url, "warc_ts": _BASE_TS + dt.timedelta(seconds=secs),
            "html": html, "text": None, "lang": lang}


def short_pages(n: int, seed: int, n_hosts: int = 200) -> list[dict]:
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        host = 0 if rng.random() < 0.3 else 1 + rng.randrange(n_hosts - 1)
        para = _SENTENCE * (1 + rng.randrange(6)) + f"tail {i}"
        html = (f"<html><head><title>t</title></head><body>{_NAV}"
                f"<p>{para}</p><p>{para}</p>"
                '<footer><a href="/tos">terms</a></footer></body></html>').encode()
        cls = rng.randrange(100)
        if cls == 0:
            html = None
        elif cls == 1:
            html = b"\xff\xfe" + html
        elif cls <= 3:
            html = (
                f'{{"kind":"pdf","blocks":[{{"text":"left col {i}",'
                '"x0":50,"y0":60,"x1":280,"y1":90},'
                '{"text":"right col","x0":320,"y0":60,"x1":550,"y1":90},'
                '{"text":"left lower","x0":50,"y0":120,"x1":280,"y1":150}]}'
            ).encode()
        rows.append(_page(f"https://h{host}.example.com/p/{i}",
                          rng.randrange(86400), html, rng.choice(_LANGS)))
    return rows


def link_farm_page(seed: int, i: int) -> bytes:
    """A page of ``LINK_FARM_PAIRS`` (link, stopword paragraph) pairs."""
    return ("<html><body>" + "".join(
        f'<p><a href="/f{seed}/{i}/{k}">xx {k}</a></p>'
        "<p>the of it is and to in that for on as with at by from up about</p>"
        for k in range(LINK_FARM_PAIRS)
    ) + "</body></html>").encode()


def template_pages(n: int, seed: int) -> list[dict]:
    from ocr_spark.gen import _template_page

    rng = random.Random(seed)
    rows = []
    for i in range(n):
        lang = _LANGS[i % len(_LANGS)]
        if rng.random() < LINK_FARM_FRAC:
            url, html = f"https://farm{i % 13}.example.net/{i}", link_farm_page(seed, i)
        else:
            url = f"https://h{i % 7}.example.com/page/{i}"
            html = _template_page(rng, lang).encode()
        rows.append(_page(url, rng.randrange(86400), html, lang))
    return rows


def near_dup_docs(n: int, seed: int, n_words: int = 60) -> tuple[list[dict], list[int]]:
    """The docs, and the ids of the docs generated as duplicates. A
    duplicate's source is never itself a duplicate, so every cluster is a
    pair and the connected-components round count does not depend on the
    seed."""
    rng = random.Random(seed)

    def salad() -> list[str]:
        return [f"{rng.getrandbits(64):X}" for _ in range(n_words)]

    rows, dups, prev = [], [], None
    for i in range(n):
        kind = rng.randrange(33)
        own = salad()
        if kind > 1 or prev is None or (dups and dups[-1] == i - 1):
            words = own
        elif kind == 0:
            words = prev
        else:
            words = [own[k] if k % 8 == 0 else w for k, w in enumerate(prev)]
        if words is not own:
            dups.append(i)
        rows.append({"doc_id": i, "text": " ".join(words)})
        prev = own
    return rows, dups


def payload_class(html: bytes | None) -> str:
    if html is None:
        return "null"
    if html[:2] == b"\xff\xfe":
        return "bad_utf8"
    if len(html) > 50_000:
        return "link_farm"
    return "pdf" if html[:1] == b"{" else "html"


def sample(rows: list[dict], seed: int, per_class: int = 8, html: int = 32) -> list[dict]:
    """A seeded sample covering every payload class present in ``rows``."""
    by_class: dict[str, list[dict]] = {}
    for r in rows:
        by_class.setdefault(payload_class(r["html"]), []).append(r)
    rng = random.Random(seed)
    out = []
    for cls in sorted(by_class):
        k = html if cls == "html" else per_class
        out.extend(rng.sample(by_class[cls], min(k, len(by_class[cls]))))
    return out


def write_parquet(rows: list[dict], path: str | pathlib.Path, schema: pa.Schema,
                  n_files: int) -> None:
    """``n_files`` parquet files of consecutive row ranges under ``path``."""
    out = pathlib.Path(path)
    out.mkdir(parents=True, exist_ok=True)
    step = -(-len(rows) // n_files)
    for f in range(n_files):
        chunk = rows[f * step:(f + 1) * step]
        pq.write_table(pa.Table.from_pylist(chunk, schema=schema),
                       out / f"part-{f:04d}.parquet")


PAGES_ARROW = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])
DOCS_ARROW = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def warc_record(url: str, date: str, payload: bytes) -> bytes:
    """One WARC/1.0 response record with an embedded HTTP/1.1 block."""
    body = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Content-Length: %d\r\n\r\n" % len(payload)) + payload
    head = (
        f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {url}\r\n"
        f"WARC-Date: {date}\r\n"
        "Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode()
    return head + body + b"\r\n\r\n"


def write_warc(rows: list[dict], out_dir: str | pathlib.Path, n_files: int) -> int:
    """gzip-member ``.warc.gz`` files, one member per record; NULL payloads
    become empty bodies. Returns the bytes written."""
    out = pathlib.Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    total = 0
    for f in range(n_files):
        blob = b"".join(
            gzip.compress(warc_record(
                r["url"], r["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ"),
                r["html"] or b""), compresslevel=6, mtime=0)
            for r in rows[f::n_files]
        )
        (out / f"part-{f:04d}.warc.gz").write_bytes(blob)
        total += len(blob)
    return total
