"""End-to-end pipeline + checkpointed-resume tests (SURVEY.md §5.2-5,
reference no-overwrite contract sssom.py:33-35): killing a run after k
of n partitions committed and rerunning must produce the identical,
duplicate-free triple table."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from spinneret_spark import pipeline
from spinneret_spark.sinks import tables as sinks
from spinneret_spark.sources.corpusgen import generate_pages

BUCKETS = 8


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages(
        spark, 80, include_reference_eml=False, near_dup_fraction=0.15
    ).cache()


def _triples_set(spark, root):
    df = sinks.read_committed(spark, root, "triples")
    return sorted(r["det_id"] for r in df.select("det_id").collect())


def test_pipeline_end_to_end(spark, pages, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("kg"))
    stats = pipeline.run(spark, pages, root, "run1", buckets=BUCKETS)
    assert stats["parts_written"] == BUCKETS
    assert stats["rows_written"] > 0
    canon = stats["canonicalize"]
    assert canon["n_entities"] > 0
    # near-dup farm pages must have merged: fewer entities than pages
    assert canon["n_entities"] < pages.count()
    triples = sinks.read_committed(spark, root, "triples")
    assert triples.filter(F.col("det_id").isNull()).count() == 0
    # deterministic ids unique per (subj, pred_id, obj_id)
    assert (
        triples.select("det_id").distinct().count() == triples.count()
    )


def test_second_run_is_noop(spark, pages, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("kg_noop"))
    pipeline.run(spark, pages, root, "run1", buckets=BUCKETS, canonicalize=False)
    before = _triples_set(spark, root)
    stats = pipeline.run(
        spark, pages, root, "run2", buckets=BUCKETS, canonicalize=False
    )
    assert stats["parts_written"] == 0
    assert _triples_set(spark, root) == before


def test_resume_after_partial_commit(spark, pages, tmp_path_factory):
    """Simulate a crash: keep only 3 of 8 manifest rows, rerun, and
    require the final table to equal the uninterrupted run."""
    root_full = str(tmp_path_factory.mktemp("kg_full"))
    pipeline.run(spark, pages, root_full, "run1", buckets=BUCKETS,
                 canonicalize=False)
    want = _triples_set(spark, root_full)

    root = str(tmp_path_factory.mktemp("kg_crash"))
    pipeline.run(spark, pages, root, "run1", buckets=BUCKETS, canonicalize=False)
    # truncate the manifest to 3 committed parts (simulated crash
    # between partition writes and manifest append)
    m = spark.read.parquet(sinks.manifest_path(root)).filter(
        F.col("part_id") < 3
    )
    kept = m.collect()
    shutil.rmtree(sinks.manifest_path(root))
    spark.createDataFrame(kept, sinks.MANIFEST_SCHEMA).write.parquet(
        sinks.manifest_path(root)
    )

    stats = pipeline.run(
        spark, pages, root, "run2", buckets=BUCKETS, canonicalize=False
    )
    assert stats["parts_written"] == BUCKETS - 3
    got = _triples_set(spark, root)
    assert got == want  # identical, no dups, nothing lost


def test_lineage_rows_written(spark, pages, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("kg_lineage"))
    pipeline.run(spark, pages, root, "run1", buckets=BUCKETS, canonicalize=False)
    lin = spark.read.parquet(sinks.lineage_path(root))
    assert lin.count() == BUCKETS
    assert lin.filter(F.col("metric") == "rows_out").count() == BUCKETS
    assert os.path.isdir(sinks.manifest_path(root))


def test_fully_committed_resume_runs_zero_jobs(spark, pages, tmp_path_factory):
    """Manifest-level short-circuit: a resume over a fully-committed
    corpus must consult ONLY the manifest, on the driver — zero Spark
    jobs (VERDICT r1 item 7: no probe scans on resume)."""
    root = str(tmp_path_factory.mktemp("kg_zero"))
    pipeline.run(spark, pages, root, "run1", buckets=BUCKETS, canonicalize=False)

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    stats = pipeline.run(
        spark, pages, root, "run2", buckets=BUCKETS, canonicalize=False
    )
    after = set(tracker.getJobIdsForGroup(None))
    assert stats["parts_written"] == 0
    # the manifest is read on the driver with pyarrow: no job at all,
    # let alone one that scans pages/pages_text/triples
    new_jobs = after - before
    assert new_jobs == set(), f"expected no Spark job, got {new_jobs}"


def test_canonicalize_lineage_rows(spark, pages, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("kg_canon_lineage"))
    pipeline.run(spark, pages, root, "run1", buckets=BUCKETS)
    lin = spark.read.parquet(sinks.lineage_path(root))
    stages = {
        r["stage"] for r in lin.select("stage").distinct().collect()
    }
    assert "extract_link" in stages
    assert {"canonicalize:edges", "canonicalize:entities",
            "canonicalize:triples_canonical"} <= stages


def test_run_with_zero_near_dup_edges(spark, tmp_path_factory):
    """A corpus with no near-duplicates writes a ZERO-ROW edges table
    — partitioned parquet with no data files and no readable schema.
    The canonicalize commit accounting must skip it instead of
    crashing on schema inference (this killed an 800k scaling run:
    the warm-up's limit(2000) sample held no dup pair)."""
    root = str(tmp_path_factory.mktemp("kg_noedges"))
    pages = generate_pages(
        spark, 60, include_reference_eml=False, near_dup_fraction=0.0
    )
    stats = pipeline.run(spark, pages, root, "run1", buckets=BUCKETS)
    canon = stats["canonicalize"]
    assert canon["n_edges"] == 0
    # every page is its own entity, and canonical triples still land
    assert canon["n_entities"] == pages.count()
    assert canon["n_canonical_triples"] > 0
    assert (
        sinks.read_table(spark, root, "triples_canonical").count()
        == canon["n_canonical_triples"]
    )


def test_run_with_zero_mentions(spark, tmp_path_factory):
    """No page matches any vocabulary term → no triples table at all;
    the full run (extract + canonicalize) must still complete, with
    entities/edges derived from pages_text alone."""
    root = str(tmp_path_factory.mktemp("kg_nomention"))
    pages = generate_pages(
        spark, 40, include_reference_eml=False, near_dup_fraction=0.2
    )
    stats = pipeline.run(
        spark, pages, root, "run1", buckets=BUCKETS,
        terms=["zzzz-not-in-any-page"],
    )
    assert stats["rows_written"] == 0
    canon = stats["canonicalize"]
    assert canon["n_canonical_triples"] == 0
    assert canon["n_entities"] > 0


def test_canonicalize_rerun_replaces_whole_corpus_tables(
    spark, pages, tmp_path_factory
):
    """Re-running the canonicalize phase with a stricter threshold
    produces fewer edges and possibly fewer partitions; earlier runs'
    untouched part_id dirs must NOT linger on disk (static overwrite)
    and the latest-run committed view must equal the disk contents
    (ADVICE r1: no silent mixing of stale and fresh whole-corpus
    data)."""
    root = str(tmp_path_factory.mktemp("kg_rethresh"))
    pipeline.run(spark, pages, root, "run1", buckets=BUCKETS,
                 jaccard_threshold=0.5)
    n_edges_run1 = sinks.read_table(spark, root, "edges").count()
    assert n_edges_run1 > 0

    stats2 = pipeline.run_canonicalize_phase(
        spark, root, "run2", jaccard_threshold=0.999, buckets=BUCKETS
    )
    on_disk = (
        sinks.read_table(spark, root, "edges").count()
        if pipeline._partition_ids(root, "edges")
        else 0
    )
    # disk holds exactly the new run's rows — nothing stale mixed in
    assert on_disk == stats2["n_edges"] < n_edges_run1
    # committed view scoped to the latest run agrees with disk
    if on_disk:
        committed = sinks.read_committed(
            spark, root, "edges", latest_run_only=True
        ).count()
        assert committed == on_disk
    canon_disk = sinks.read_table(spark, root, "triples_canonical").count()
    assert canon_disk == stats2["n_canonical_triples"]


def test_legacy_manifest_upgrades_to_zero_job_short_circuit(
    spark, pages, tmp_path_factory
):
    """Round-3 ADVICE (low): a legacy manifest — fully extracted but
    written before BUCKETS_META existed — must be upgraded by the
    first (no-op) resume run, so every LATER resume takes the
    manifest-only short-circuit instead of paying the corpus-scan
    anti-join forever."""
    root = str(tmp_path_factory.mktemp("kg_legacy"))
    pipeline.run(spark, pages, root, "run1", buckets=BUCKETS,
                 canonicalize=False)
    # strip the meta row — exactly what a pre-meta manifest looks like
    m = spark.read.parquet(sinks.manifest_path(root)).filter(
        F.col("status") != sinks.BUCKETS_META
    )
    kept = m.collect()
    shutil.rmtree(sinks.manifest_path(root))
    spark.createDataFrame(kept, sinks.MANIFEST_SCHEMA).write.parquet(
        sinks.manifest_path(root)
    )
    assert not sinks.recorded_buckets(spark, root, "triples")

    # first resume: full anti-join pass (proves the mapping), writes
    # nothing new, and records the meta row
    stats = pipeline.run(spark, pages, root, "run2", buckets=BUCKETS,
                         canonicalize=False)
    assert stats["parts_written"] == 0
    assert sinks.recorded_buckets(spark, root, "triples") == {BUCKETS}

    # second resume: manifest-only short-circuit, zero corpus jobs
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    stats = pipeline.run(spark, pages, root, "run3", buckets=BUCKETS,
                         canonicalize=False)
    after = set(tracker.getJobIdsForGroup(None))
    assert stats["parts_written"] == 0
    assert len(after - before) <= 3, "legacy root never upgraded"
