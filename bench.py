"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "pages_per_sec": ...}

Measurement protocol (VERDICT r3 item 1 — single-run numbers carry no
error bars and drift ±10% with page cache/GC state):

* query rows: $SPARK_GRAFT_BENCH_REPS (default 3) INTERLEAVED passes
  over the whole suite in one warm JVM after ONE untimed full-suite
  warm pass (each plan's one-time codegen lands outside the timed
  window), median per query — the same query never runs back-to-back,
  so a GC pause or cache eviction hits one pass, not one query;
* heavy rows (kg_pipeline, workbook_100k, media_phase): median of
  REPS runs, each in a FRESH JVM (child process, interleaved across
  targets) — the protocol tools/scaling_bench.py already uses, ported
  here so the headline numbers mean something round-over-round.
  Corpus generation happens outside every timed window (the EML
  corpus is cached on disk across children).

The kg_pipeline entry is the north-rule metric: end-to-end
extract->detect->link->triples (+ canonicalization) over a generated
pages corpus of $SPARK_GRAFT_BENCH_PAGES (default 3000) pages;
pages/sec is reported alongside (median-run throughput).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


HEADLINE = [
    "kg_triples",
    "kg_mentions",
    "kg_entity_degree",
    "q_pricing_summary",
    "q_segment_top_orders",
    "q_nation_revenue",
    "q_sessionize",
    "text_quality",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "ann_topk_cosine",
    "cc_components",
    "curate_sample_stratified",
    "curate_pack_sequences",
    "vocab_topk_tokens",
]

HEAVY = ["kg_pipeline", "workbook_100k", "media_phase"]


def _reps() -> int:
    return max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))


def _median(xs: list[float]) -> float:
    return round(statistics.median(xs), 3)


# ---------------------------------------------------------------- children


def _child_kg_pipeline() -> dict:
    from spinneret_spark import pipeline
    from spinneret_spark.session import get_spark
    from spinneret_spark.sources.corpusgen import generate_pages

    n_pages = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "3000"))
    spark = get_spark(app_name="bench-kg")
    spark.sparkContext.setLogLevel("ERROR")
    # warm-up excluded from the timed window (scaling-bench protocol):
    # a tiny run through the same path pays the one-time JVM codegen /
    # Arrow / parquet-writer costs so the measurement is the plan, not
    # the JVM cold start
    warm = generate_pages(spark, 50).cache()
    warm.count()
    pipeline.run(
        spark, warm, os.path.join(tempfile.mkdtemp(), "warm"), "warm"
    )
    warm.unpersist()
    pages = generate_pages(spark, n_pages).cache()
    n = pages.count()  # materialize corpus outside the timed window
    out_root = os.path.join(tempfile.mkdtemp(prefix="bench_kg_"), "kg")
    t0 = time.time()
    pipeline.run(spark, pages, out_root, f"bench-{uuid.uuid4().hex[:8]}")
    secs = time.time() - t0
    spark.stop()
    return {"secs": secs, "pages": n}


def _child_workbook() -> dict:
    # workbook.create at corpus scale: the reference flagship operator
    # over a 100k-document templated EML corpus through the parquet
    # pages path (corpus cached ON DISK across children — generation
    # excluded from every timed window)
    from spinneret_spark.operators.workbook import create_workbook
    from spinneret_spark.session import get_spark
    from spinneret_spark.sources.corpusgen import (
        _EML_BASE_URL,
        generate_eml_pages,
    )

    n_eml = int(os.environ.get("SPARK_GRAFT_BENCH_EML_DOCS", "100000"))
    spark = get_spark(app_name="bench-wb")
    spark.sparkContext.setLogLevel("ERROR")
    eml_path = os.path.join(
        tempfile.gettempdir(), f"spinneret_bench_eml_{n_eml}"
    )
    # _SUCCESS is the completeness marker: a crashed prior generation
    # leaves a partial dir that would silently shrink the benchmark
    if not os.path.isfile(os.path.join(eml_path, "_SUCCESS")):
        generate_eml_pages(spark, n_eml, num_partitions=64).write.mode(
            "overwrite"
        ).parquet(eml_path)
    eml_pages = spark.read.parquet(eml_path)
    # warm-up excluded: small corpus through the same workbook path
    create_workbook(
        generate_eml_pages(spark, 200, num_partitions=4),
        ["dataset", "dataTable", "otherEntity", "attribute"],
        _EML_BASE_URL,
    ).count()
    # ...and the CORPUS FILE itself: the row measures the workbook
    # kernel, not the page-cache state the previous benchmark left
    # behind (a cold first rep read up to 3x high — spread [17, 53] —
    # when a prior run had evicted the cached parquet)
    from pyspark.sql import functions as _F

    eml_pages.select(_F.sum(_F.length("html"))).collect()
    t0 = time.time()
    wb_rows = create_workbook(
        eml_pages,
        ["dataset", "dataTable", "otherEntity", "attribute"],
        _EML_BASE_URL,
    ).count()
    secs = time.time() - t0
    spark.stop()
    return {"secs": secs, "workbook_docs": n_eml, "workbook_rows": wb_rows}


def _child_media() -> dict:
    # multimodal curation phase: header decode + gates over a synthetic
    # media corpus (generation cached outside the timed window)
    from spinneret_spark import pipeline
    from spinneret_spark.session import get_spark
    from spinneret_spark.sources.mediagen import generate_media

    n_media = int(os.environ.get("SPARK_GRAFT_BENCH_MEDIA_DOCS", "20000"))
    spark = get_spark(app_name="bench-media")
    spark.sparkContext.setLogLevel("ERROR")
    # warm-up excluded: small corpus through the same media-phase path
    pipeline.run_media_phase(
        spark,
        generate_media(spark, 500, num_partitions=4),
        os.path.join(tempfile.mkdtemp(), "warm"),
        "warm",
    )
    media = generate_media(spark, n_media, num_partitions=32).cache()
    media.count()
    media_root = os.path.join(tempfile.mkdtemp(prefix="bench_media_"), "m")
    t0 = time.time()
    pipeline.run_media_phase(
        spark, media, media_root, f"bench-{uuid.uuid4().hex[:8]}"
    )
    secs = time.time() - t0
    spark.stop()
    return {"secs": secs, "media_docs": n_media}


_CHILDREN = {
    "kg_pipeline": _child_kg_pipeline,
    "workbook_100k": _child_workbook,
    "media_phase": _child_media,
}


def _run_child(target: str) -> dict:
    """One heavy target in a FRESH JVM; last stdout line is its JSON."""
    env = dict(os.environ)
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--child", target],
        capture_output=True,
        text=True,
        env=env,
        check=False,
    )
    if out.returncode != 0:
        raise RuntimeError(
            f"bench child {target} failed rc={out.returncode}:\n"
            + out.stderr[-2000:]
        )
    return json.loads(out.stdout.strip().splitlines()[-1])


# ------------------------------------------------------------------ parent


def main() -> None:
    if len(sys.argv) >= 3 and sys.argv[1] == "--child":
        print(json.dumps(_CHILDREN[sys.argv[2]]()))
        return

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = _reps()

    import __spark_entry__ as entrymod
    from spinneret_spark.session import get_spark

    spark = get_spark(app_name="spinneret-bench")
    spark.sparkContext.setLogLevel("ERROR")

    qs = dict(entrymod.queries())
    suite = HEADLINE
    samples: dict[str, list[float]] = {n: [] for n in suite}

    # warm-up: one untimed pass over the WHOLE suite. Warming only one
    # query leaves every other row's pass 1 paying its own plan codegen
    # (vocab_topk_tokens: 2.24 s first pass vs 0.45 s steady — the 5x
    # spread band in BENCH_r04); the suite rows measure steady-state
    # latency, the fresh-JVM heavy rows keep the cold costs.
    for name in suite:
        qs[name](spark, sf_dir).count()

    for _ in range(reps):
        for name in suite:
            t0 = time.time()
            qs[name](spark, sf_dir).count()
            samples[name].append(time.time() - t0)

    # free the suite JVM before the fresh-JVM children start
    spark.stop()

    heavy_samples: dict[str, list[float]] = {n: [] for n in HEAVY}
    extras: dict = {}
    for _ in range(reps):
        for target in HEAVY:
            r = _run_child(target)
            heavy_samples[target].append(r.pop("secs"))
            extras.update(r)

    timings = {n: _median(samples[n]) for n in samples}
    timings.update({n: _median(heavy_samples[n]) for n in HEAVY})
    spread = {
        n: [round(min(v), 3), round(max(v), 3)]
        for n, v in {**samples, **heavy_samples}.items()
    }

    total = round(sum(timings.values()), 3)
    n_pages = extras.get("pages", 0)
    result = {
        "metric": "headline query suite + end-to-end KG pipeline "
        "(extract->link->triples->canonicalize)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "protocol": (
            f"median of {reps}: query rows interleaved in one warm JVM "
            "after one untimed full-suite warm pass; "
            "kg_pipeline/workbook_100k/media_phase one FRESH JVM per run"
        ),
        "spread": spread,
        "pages": n_pages,
        "pages_per_sec": round(n_pages / timings["kg_pipeline"], 2),
        "workbook_docs": extras.get("workbook_docs", 0),
        "workbook_rows": extras.get("workbook_rows", 0),
        "workbook_docs_per_sec": round(
            extras.get("workbook_docs", 0) / timings["workbook_100k"], 1
        ),
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
