"""Job budgets: a fresh extract phase over a raw crawl, and one
increment (a streamed micro-batch plus the delta canonicalize it
triggers). Fixed driver jobs (schema inference, metadata collects,
count probes, barriers) cost the same whatever the data size, so they
dominate small runs; these guards fail when one creeps back in."""

from __future__ import annotations

from pyspark.sql import functions as F

from spinneret_spark import pipeline
from spinneret_spark.sources.corpusgen import generate_pages, write_pages
from spinneret_spark.streaming.incremental import process_micro_batch

BUCKETS = 8

#: Spark jobs the increment below runs: 3 in the micro-batch and 40 in
#: the delta canonicalize (83 = 7 + 76 before the html probe, the
#: per-part count collect, the schema-inferring reads, the double
#: pins and the per-relation part collects went; 113 = 15 + 98 before
#: the metadata plane moved to pyarrow). The delta canonicalize, per
#: step: the two tagged reads 2, signatures 2 (the kernel's write,
#: read back), candidates 7 (band relation pin 2, hot-bucket collect 2,
#: candidate pin 3), verify and edges 6 (shingle-set pin 4, edges pin
#: 2), composed assignment 6 (new edges 1, their old labels 2, one pin
#: of the touched members and the doc-hash diff 3), the canonical-
#: triples pin 3 (this increment's rewrites reach 5 of 8 partitions,
#: over the scatter gate) and the output and state writes 14 (entities
#: 5, edges, canon_triples_raw, triples_canonical and canon_assignment
#: 2 each, canon_doc_hash 1).
#: Lower it when a change removes jobs; raise it only with a measured
#: reason.
BUDGET = 43

#: of which the micro-batch alone: the checkpoint and one append per
#: table (the per-part counts are parquet footers, and the kernel's
#: html column needs no probe)
MICRO_BATCH_BUDGET = 3

#: a fresh extract phase over the raw crawl below: the pages_text and
#: triples writes and the commit count (a collect of two tables' per-
#: part counts, AQE running its shuffle map stages as jobs); 7 before
#: the html probe went
EXTRACT_BUDGET = 5


def test_extract_phase_stays_within_its_job_budget(spark, tmp_path):
    raw = generate_pages(
        spark, 24, near_dup_fraction=0.1, include_reference_eml=False,
        with_text=False,
    )
    write_pages(raw, str(tmp_path / "pages"), buckets=BUCKETS)
    pages = spark.read.parquet(str(tmp_path / "pages"))

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    stats = pipeline.run_extract_phase(
        spark, pages, str(tmp_path / "kg"), "e1", buckets=BUCKETS
    )
    jobs = len(set(tracker.getJobIdsForGroup(None)) - before)

    assert stats["rows_written"] > 0
    assert jobs <= EXTRACT_BUDGET, (
        f"extract phase ran {jobs} Spark jobs, budget {EXTRACT_BUDGET}"
    )


def test_increment_stays_within_its_job_budget(spark, tmp_path):
    pages = generate_pages(
        spark, 48, near_dup_fraction=0.1, include_reference_eml=False
    )
    pages.write.parquet(str(tmp_path / "pages"))
    pages = spark.read.parquet(str(tmp_path / "pages"))
    base = pages.where(F.col("page_id") < 40)
    new = pages.where(F.col("page_id") >= 40)
    root = str(tmp_path / "kg")
    process_micro_batch(base, 0, root, "base", buckets=BUCKETS)
    pipeline.run_canonicalize_phase(spark, root, "c0", buckets=BUCKETS)

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    process_micro_batch(new, 1, root, "s1", buckets=BUCKETS)
    batch_jobs = len(set(tracker.getJobIdsForGroup(None)) - before)
    stats = pipeline.run_canonicalize_phase(spark, root, "c1", buckets=BUCKETS)
    jobs = len(set(tracker.getJobIdsForGroup(None)) - before)

    assert stats["plan"]["path"]["choice"] == "delta"
    assert batch_jobs <= MICRO_BATCH_BUDGET, (
        f"micro-batch ran {batch_jobs} Spark jobs, budget {MICRO_BATCH_BUDGET}"
    )
    assert jobs <= BUDGET, f"{jobs} Spark jobs, budget {BUDGET}"
