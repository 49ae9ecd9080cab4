"""Deterministic synthetic Common-Crawl-style corpus generator.

Produces the mandated pages table ``(url string, warc_ts timestamp,
html binary, text string, lang string)`` (BASELINE.json:15) at any
scale, fully distributed: generation runs inside ``mapInPandas`` over
``spark.range``, with every page derived from a numpy RandomState
seeded by ``(seed, page_id)`` — output is byte-identical regardless
of partitioning, executor count, or run order.

The ``text`` column is the *expected* extraction output, composed
independently from the same template parts the HTML is built from —
so ``extract_text(html) == text`` is a genuine end-to-end oracle for
the extractor (BASELINE.json:15 per-row invariant), not a tautology.

Knobs that matter at 100 TB:
* ``near_dup_fraction`` — pages cloned from a shared template with a
  few token substitutions (exercises MinHash/LSH/CC canonicalization
  and the hot-bucket path);
* the first three pages embed the reference's EML documents verbatim
  (when /root/reference is present) so the workbook golden fixture
  flows through the same pages table as the web corpus.
"""

from __future__ import annotations

import datetime
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from spinneret_spark.sources.vocab import DEFAULT_TERMS

PAGES_SCHEMA = (
    "page_id long, url string, warc_ts timestamp, html binary, "
    "text string, lang string"
)

_FILLER = [
    "records",
    "survey",
    "coastal",
    "forest",
    "sample",
    "annual",
    "study",
    "site",
    "method",
    "values",
    "report",
    "station",
    "observed",
    "region",
    "species",
    "upland",
]

_LANGS = ["en", "en", "en", "en", "en", "en", "de", "fr", "es", "zh"]

_EML_DIR = "/root/reference/src/spinneret/data/eml"
_EML_BASE_URL = "https://portal.edirepository.org/nis/metadataviewer?packageid="

_CRAWL_EPOCH = datetime.datetime(2024, 1, 1)


def _page_words(rng: np.random.RandomState, n: int) -> list[str]:
    vocab = DEFAULT_TERMS + _FILLER
    idx = rng.randint(0, len(vocab), size=n)
    return [vocab[i] for i in idx]


def _render(title: str, paras: list[str]) -> tuple[str, str]:
    """(html, expected_text) from template parts."""
    body_paras = "".join(f"<p>{p}</p>" for p in paras)
    html = (
        "<!doctype html><html><head><title>ignored head title</title>"
        "<style>body{margin:0}</style><script>var t=1;</script></head>"
        "<body><nav><a href='/'>home</a> <a href='/x'>about</a></nav>"
        f"<header>site chrome</header><main><h1>{title}</h1>"
        f"{body_paras}</main><footer>footer boilerplate</footer>"
        "</body></html>"
    )
    text = "\n".join([title] + paras)
    return html, text


def _make_page(
    seed: int,
    page_id: int,
    near_dup_fraction: float,
    n_templates: int = 1,
    size_scale: int = 1,
):
    rng = np.random.RandomState((seed * 1_000_003 + page_id) % (2**31 - 1))
    is_dup = rng.rand() < near_dup_fraction
    if is_dup:
        # clone one of n_templates shared templates, substitute a few
        # tokens. n_templates=1 = one mega-cluster (the skew/salting
        # stress knob); larger values give web-realistic cluster sizes
        tmpl = rng.randint(0, n_templates)
        template_rng = np.random.RandomState((seed + 7919 * tmpl) % (2**31 - 1))
        words = _page_words(template_rng, 120 * size_scale)
        n_sub = rng.randint(0, 6)
        for _ in range(n_sub):
            pos = rng.randint(0, len(words))
            words[pos] = _FILLER[rng.randint(0, len(_FILLER))]
        title = f"shared template page {tmpl}"
        host = "dup-farm.example.org"
    else:
        words = _page_words(rng, int(rng.randint(60, 200)) * size_scale)
        title = " ".join(_page_words(rng, 4))
        host = f"host{rng.randint(0, 50)}.example.org"
    k = max(1, len(words) // 3)
    paras = [" ".join(words[i : i + k]) for i in range(0, len(words), k)]
    html, text = _render(title, paras)
    lang = _LANGS[rng.randint(0, len(_LANGS))]
    ts = _CRAWL_EPOCH + datetime.timedelta(seconds=int(rng.randint(0, 90 * 86400)))
    url = f"https://{host}/crawl/{seed:x}-{page_id:x}"
    return url, ts, html.encode("utf-8"), text, lang


def generate_pages(
    spark: SparkSession,
    n_pages: int,
    seed: int = 42,
    near_dup_fraction: float = 0.08,
    include_reference_eml: bool = True,
    num_partitions: int | None = None,
    n_templates: int | None = None,
    size_scale: int = 1,
    with_text: bool = True,
) -> DataFrame:
    """Distributed deterministic pages table.

    ``n_templates`` controls near-dup cluster size: defaults to
    ~40 clones per cluster (web-realistic); pass 1 to plant a single
    mega-cluster for skew stress tests. ``size_scale`` multiplies page
    content length (1 ≈ 1.5 KB html; 8 ≈ 10-15 KB, Common-Crawl-ish).
    """
    if n_templates is None:
        n_templates = max(1, int(n_pages * near_dup_fraction) // 40)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                _make_page(
                    seed, int(i), near_dup_fraction, n_templates, size_scale
                )
                for i in pdf["id"]
            ]
            out = pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )
            if not with_text:
                # raw-crawl shape: extraction left to the pipeline
                out["text"] = ""
            out.insert(0, "page_id", pdf["id"].values)
            yield out

    base = spark.range(n_pages, numPartitions=num_partitions)
    pages = base.mapInPandas(kernel, schema=PAGES_SCHEMA)

    if include_reference_eml and os.path.isdir(_EML_DIR):
        # imported here: Python workers import this module (for
        # ``_make_page``) and never need the sinks
        from spinneret_spark.sinks import tables as sinks

        eml_rows = []
        for i, name in enumerate(sorted(os.listdir(_EML_DIR))):
            with open(os.path.join(_EML_DIR, name), "rb") as fh:
                blob = fh.read()
            pkg = name.rsplit(".xml", 1)[0]
            eml_rows.append(
                (
                    -(i + 1),
                    _EML_BASE_URL + pkg,
                    _CRAWL_EPOCH,
                    bytearray(blob),
                    "",  # XML metadata pages carry no extracted text
                    "en",
                )
            )
        eml = sinks.local_frame(spark, eml_rows, PAGES_SCHEMA)
        pages = pages.unionByName(eml)
    # deliver the corpus in the pipeline's documented layout: bucketed
    # by the url-hash part_id (exactly what write_pages materializes on
    # disk). Without this, every generation partition holds rows of
    # every bucket and the pipeline's dynamic-partition writers fan out
    # generation_partitions × buckets tiny files — measured 5.5 s to
    # write 3000 pages_text rows (~1000 files) vs ~1 s aligned, with
    # every downstream read paying the listing/open cost again.
    from pyspark.sql import functions as F

    from spinneret_spark.pipeline import DEFAULT_BUCKETS

    return pages.repartition(
        DEFAULT_BUCKETS, F.pmod(F.xxhash64("url"), F.lit(DEFAULT_BUCKETS))
    )


def generate_eml_pages(
    spark: SparkSession,
    n_docs: int,
    num_partitions: int | None = None,
) -> DataFrame:
    """Synthetic EML corpus at any scale: the 3 reference documents
    templated with fresh packageId attributes (VERDICT r1 item 8 —
    workbook.create at corpus scale through the pages-table path).

    The 3 template blobs (~94 KB total) are read once driver-side and
    shipped in the kernel closure (the broadcast-variable shape); each
    page is template ``i % 3`` with its unique ``packageId="..."``
    attribute rewritten to ``synth.<i>.1`` — the one byte span the
    workbook extractor keys on (reference workbook.py:121). Everything
    else (structure, attributes, entities) stays reference-real, so
    per-document row counts match the golden corpus exactly.
    """
    templates = []
    if not os.path.isdir(_EML_DIR):
        raise FileNotFoundError(_EML_DIR)
    for name in sorted(os.listdir(_EML_DIR)):
        with open(os.path.join(_EML_DIR, name), "rb") as fh:
            blob = fh.read()
        pkg = name.rsplit(".xml", 1)[0]
        templates.append((blob, f'packageId="{pkg}"'.encode()))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                blob, old_attr = templates[i % len(templates)]
                pkg = f"synth.{i}.1"
                html = blob.replace(old_attr, f'packageId="{pkg}"'.encode())
                rows.append(
                    (
                        i,
                        _EML_BASE_URL + pkg,
                        _CRAWL_EPOCH,
                        html,
                        "",
                        "en",
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["page_id", "url", "warc_ts", "html", "text", "lang"],
            )

    base = spark.range(n_docs, numPartitions=num_partitions)
    return base.mapInPandas(kernel, schema=PAGES_SCHEMA)


def write_pages(pages: DataFrame, path: str, buckets: int = 32) -> None:
    """Materialize the corpus partitioned by url-hash bucket — the
    same part_id the pipeline checkpoints on (SURVEY.md §2.10)."""
    from pyspark.sql import functions as F

    (
        pages.withColumn(
            "part_id", F.pmod(F.xxhash64("url"), F.lit(buckets)).cast("int")
        )
        .repartition("part_id")
        .write.partitionBy("part_id")
        .mode("overwrite")
        .parquet(path)
    )
