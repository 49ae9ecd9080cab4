"""Job budget of one increment: a streamed micro-batch plus the delta
canonicalize it triggers. Fixed driver jobs (schema inference, metadata
collects, count probes, barriers) cost the same whatever the data
size, so they dominate small increments; this guard fails when one
creeps back in."""

from __future__ import annotations

from pyspark.sql import functions as F

from spinneret_spark import pipeline
from spinneret_spark.sources.corpusgen import generate_pages
from spinneret_spark.streaming.incremental import process_micro_batch

BUCKETS = 8

#: Spark jobs the increment below runs: 7 in the micro-batch and 76 in
#: the delta canonicalize, recorded once the manifest and lineage were
#: read and written with pyarrow and output counts came from parquet
#: footers (113 = 15 + 98 before). Lower it when a change removes jobs;
#: raise it only with a measured reason.
BUDGET = 83

#: of which the micro-batch alone: the extract kernel's html probe, the
#: checkpoint, one append per table and the per-part count (AQE runs a
#: shuffle map stage and its result stage as two jobs)
MICRO_BATCH_BUDGET = 7


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
