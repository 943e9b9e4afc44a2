"""Seeded input staging for the extraction benchmark (no Spark involved).

Everything here runs before any timed phase and before the measured process
starts. The program under test sees only the staged ``input/`` files; the
oracle, url → [text, html], is kept in ``oracle.json`` for the correctness
gate.

Two input kinds:

* ``crawl``: short web pages from ``sources.synthetic.make_page_row`` (its
  natural mix, multi-page and edge-case rows included), written as a
  multi-file parquet table in ``PAGES_INPUT_SCHEMA`` with the ``text``
  column left NULL.
* ``warc``: few single-page documents of thousands of words each, written
  with ``sources.warc.write_warc_gz`` as member-per-record ``.warc.gz``
  archives.

A staged directory is complete once its ``_STAGED`` marker exists; staging
the same kind, seed and size again reuses it.
"""

from __future__ import annotations

import datetime as dt
import html
import json
import os
import random
import shutil
import time

STAGE_VERSION = 1

_WARC_VOCAB = (
    [f"term{i}" for i in range(60)]
    + ["the", "of", "and", "a", "to", "in", "is", "for", "on", "with",
       "Total:", "$9,870.12", "2024-02-29", "(see", "note)", "7%", "x/y",
       "AT&T", "a<b", "b>c", "\"q\"", "it's", "café", "naïve", "Ωmega",
       "日本語", "数据", "π≈3.14", "e.g.", "No.7"]
)


def _write_json(path: str, obj) -> None:
    with open(path, "w", encoding="utf-8") as f:
        json.dump(obj, f, ensure_ascii=False)


def _stage_crawl(out: str, seed: int, n_docs: int, n_files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from amazon_textract_transformer_pipeline_spark.schemas import (
        PAGES_INPUT_SCHEMA,
    )
    from amazon_textract_transformer_pipeline_spark.sources.synthetic import (
        make_page_row,
    )

    rows = [make_page_row(i, seed) for i in range(n_docs)]
    _write_json(os.path.join(out, "oracle.json"),
                {r["url"]: [r["text"], r["html"].decode("utf-8")]
                 for r in rows})
    for r in rows:
        r["text"] = None
    d = os.path.join(out, "input")
    os.makedirs(d)
    schema = to_arrow_schema(PAGES_INPUT_SCHEMA)
    per = -(-n_docs // n_files)
    for k in range(n_files):
        pq.write_table(pa.Table.from_pylist(rows[k * per:(k + 1) * per],
                                            schema=schema),
                       os.path.join(d, f"part-{k:05d}.parquet"))


def _long_page(rng: random.Random, n_words: int) -> tuple[str, str]:
    """One single-page document: (html, oracle text per EXTRACTION_SPEC)."""
    lines: list[list[str]] = []
    left = n_words
    while left > 0:
        n = min(left, rng.randint(4, 16))
        lines.append([rng.choice(_WARC_VOCAB) for _ in range(n)])
        left -= n
    body = []
    for words in lines:
        parts = []
        for w in words:
            esc = html.escape(w)
            if rng.random() < 0.1:
                esc = f"<b>{esc}</b>"
            parts.append(esc)
        body.append(f"<p>{' '.join(parts)}</p>")
    page = ("<!DOCTYPE html><html><head><title>t</title>"
            "<script>var s=1;</script></head><body>"
            "<nav><a href='/'>Home</a> <a href='/x'>Login</a></nav>"
            "<article>" + "".join(body) + "<aside>related links</aside>"
            "</article><footer><p>Copyright 2024</p></footer></body></html>")
    return page, "\n".join(" ".join(w) for w in lines)


def _stage_warc(out: str, seed: int, n_docs: int, n_files: int,
                n_words: int) -> None:
    from amazon_textract_transformer_pipeline_spark.sources.warc import (
        write_warc_gz,
    )

    rng = random.Random(seed)
    epoch = dt.datetime(2024, 5, 1)
    pages, oracle = [], {}
    for i in range(n_docs):
        url = f"https://long{rng.randrange(1000):03d}.example/d{i:05d}"
        # lengths spread over 0.75-1.25 × n_words but do not depend on the
        # seed, so every seed stages the same amount of work
        doc_html, text = _long_page(
            rng, n_words * 3 // 4 + n_words * i // (2 * max(1, n_docs - 1)))
        pages.append({"url": url, "date": epoch + dt.timedelta(minutes=i),
                      "html": doc_html.encode("utf-8")})
        oracle[url] = [text, doc_html]
    _write_json(os.path.join(out, "oracle.json"), oracle)
    d = os.path.join(out, "input")
    os.makedirs(d)
    per = -(-n_docs // n_files)
    for k in range(n_files):
        write_warc_gz(os.path.join(d, f"part-{k:05d}.warc.gz"),
                      pages[k * per:(k + 1) * per])


def stage(root: str, kind: str, seed: int, **size) -> tuple[str, float]:
    """Stage ``kind`` inputs for ``seed`` under ``root``; returns the
    staged directory and the seconds spent (0.0 when reused)."""
    key = "-".join([kind, f"v{STAGE_VERSION}", f"s{seed}"]
                   + [f"{k}{v}" for k, v in sorted(size.items())])
    out = os.path.join(root, key)
    if os.path.exists(os.path.join(out, "_STAGED")):
        return out, 0.0
    t0 = time.perf_counter()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    if kind == "crawl":
        _stage_crawl(out, seed, **size)
    elif kind == "warc":
        _stage_warc(out, seed, **size)
    else:
        raise ValueError(f"unknown input kind {kind!r}")
    open(os.path.join(out, "_STAGED"), "w").close()
    return out, time.perf_counter() - t0
