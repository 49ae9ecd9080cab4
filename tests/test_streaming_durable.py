"""Generic durable streamed-append contract (streaming/durable.py):
the single-table generalization of the incremental skin's manifest/
marker semantics, used by the windowed and stateful skins (round-4
VERDICT item 1). Mirrors test_streaming.py's replay/orphan/vacuum
suite against the generic helper."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from spinneret_spark.sinks import tables as sinks
from spinneret_spark.sources.corpusgen import PAGES_SCHEMA, generate_pages
from spinneret_spark.streaming.durable import append_micro_batch
from spinneret_spark.streaming.incremental import process_micro_batch

SCHEMA = "k string, v long"
BUCKETS = 4


def _batch(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_replayed_batch_is_noop(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("dur_replay"))
    b = _batch(spark, [("a", 1), ("b", 2), ("c", 3)])
    n1 = append_micro_batch(b, 0, root, "t", "r", ("k",), BUCKETS)
    assert n1 == 3
    # checkpoint redelivery: same run/batch id → nothing appended
    n2 = append_micro_batch(b, 0, root, "t", "r", ("k",), BUCKETS)
    assert n2 == 0
    assert sinks.read_streamed_consistent(spark, root, "t").count() == 3
    # a NEW batch id appends
    assert append_micro_batch(
        _batch(spark, [("d", 4)]), 1, root, "t", "r", ("k",), BUCKETS
    ) == 1
    assert sinks.read_streamed_consistent(spark, root, "t").count() == 4


def test_orphan_attempt_rows_stay_invisible_and_vacuum(
    spark, tmp_path_factory, monkeypatch
):
    """Crash between the data append and the marker write: the intent
    row (written pre-append) is the evidence that keeps the orphan
    rows out of every consistent view, and vacuum reclaims them."""
    root = str(tmp_path_factory.mktemp("dur_orphan"))
    append_micro_batch(
        _batch(spark, [("a", 1), ("b", 2)]), 0, root, "t", "r",
        ("k",), BUCKETS,
    )

    calls = {"n": 0}
    real = sinks.append_manifest_multi

    def crash_on_marker(session, r, run_id, rows, **kw):
        calls["n"] += 1
        if calls["n"] >= 2:  # 1st = intent row, 2nd = marker commit
            raise RuntimeError("crash before marker")
        return real(session, r, run_id, rows, **kw)

    monkeypatch.setattr(sinks, "append_manifest_multi", crash_on_marker)
    with pytest.raises(RuntimeError, match="crash before marker"):
        append_micro_batch(
            _batch(spark, [("x", 9), ("y", 8)]), 1, root, "t", "r",
            ("k",), BUCKETS,
        )
    monkeypatch.undo()

    raw = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "t")
    )
    assert raw.count() == 4, "orphan rows should be on disk"
    assert sinks.read_streamed_consistent(spark, root, "t").count() == 2

    # replay of the crashed batch (fresh attempt id) lands it
    assert append_micro_batch(
        _batch(spark, [("x", 9), ("y", 8)]), 1, root, "t", "r",
        ("k",), BUCKETS,
    ) == 2
    assert sinks.read_streamed_consistent(spark, root, "t").count() == 4

    # vacuum reclaims the crashed attempt's bytes; view unchanged
    assert sinks.vacuum_streamed(spark, root, "t", grace_seconds=0) > 0
    assert sinks.read_streamed_consistent(spark, root, "t").count() == 4


def test_bucket_count_mismatch_fails_loudly(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("dur_buckets"))
    append_micro_batch(
        _batch(spark, [("a", 1)]), 0, root, "t", "r", ("k",), 4
    )
    with pytest.raises(ValueError, match="buckets"):
        append_micro_batch(
            _batch(spark, [("b", 2)]), 1, root, "t", "r", ("k",), 8
        )


def test_part_id_is_key_hash_and_streamed_totals(spark, tmp_path_factory):
    """Bucketing co-locates a key's history (the read-without-shuffle
    property the docstring promises), and manifest_summary's streamed
    total matches without a count job."""
    root = str(tmp_path_factory.mktemp("dur_parts"))
    append_micro_batch(
        _batch(spark, [("a", 1), ("b", 2)]), 0, root, "t", "r",
        ("k",), BUCKETS,
    )
    append_micro_batch(
        _batch(spark, [("a", 10), ("b", 20)]), 1, root, "t", "r",
        ("k",), BUCKETS,
    )
    got = sinks.read_streamed_consistent(spark, root, "t")
    per_key_parts = (
        got.withColumn(
            "want",
            F.pmod(F.xxhash64("k"), F.lit(BUCKETS)).cast("int"),
        )
        .where(F.col("part_id") != F.col("want"))
        .count()
    )
    assert per_key_parts == 0
    summ = sinks.manifest_summary(spark, root, ["t"])["t"]
    assert summ["streamed_total"] == 4


def _manifest_counts(spark, root, table):
    """{attempt: (streamed rows per part, BATCH_MARKER total)} from the
    manifest, and {attempt: rows per part} from a Spark count of the
    table's tagged rows — the two must agree for every marker."""
    rows = sinks.manifest_rows(spark, root, [table])
    manifest = {}
    for r in rows:
        if r["status"] == sinks.BATCH_MARKER:
            parts, _ = manifest.get(r["run_id"], ({}, 0))
            manifest[r["run_id"]] = (parts, r["rows_out"])
    for r in rows:
        if r["status"] == "streamed":
            manifest[r["run_id"]][0][r["part_id"]] = r["rows_out"]
    read = sinks.read_tagged(spark, root, table)
    counted = {}
    if read is not None:
        for r in (
            read[0].groupBy("_batch_run", "part_id").count().collect()
        ):
            counted.setdefault(r["_batch_run"], {})[r["part_id"]] = r["count"]
    return manifest, counted


def test_marker_totals_equal_tagged_rows(spark, tmp_path_factory):
    """The footer-counted manifest rows of each attempt equal a Spark
    count of its tagged rows: a batch with mentions, a batch of
    zero-mention pages (pages_text rows, no triples) and an empty batch,
    whose markers still land with 0."""
    root = str(tmp_path_factory.mktemp("dur_footers"))
    pages = generate_pages(spark, 12, include_reference_eml=False)
    quiet = spark.createDataFrame(
        [
            (900 + i, f"https://quiet.example/{i}", None, None, "zzq vvx", "en")
            for i in range(3)
        ],
        PAGES_SCHEMA,
    )
    process_micro_batch(pages, 0, root, "s", buckets=BUCKETS)
    process_micro_batch(quiet, 1, root, "s", buckets=BUCKETS)
    process_micro_batch(quiet.where(F.lit(False)), 2, root, "s", BUCKETS)

    for table, want in (("pages_text", [12, 3, 0]), ("triples", None)):
        manifest, counted = _manifest_counts(spark, root, table)
        by_batch = {m.split("-")[1]: m for m in manifest}
        assert sorted(by_batch) == ["b0", "b1", "b2"]
        for attempt, (parts, total) in manifest.items():
            assert parts == counted.get(attempt, {})
            assert total == sum(parts.values())
        totals = [manifest[by_batch[b]][1] for b in ("b0", "b1", "b2")]
        if want:
            assert totals == want
        else:
            assert totals[0] > 0 and totals[1:] == [0, 0]


def test_orphan_files_are_not_counted_by_the_next_attempt(
    spark, tmp_path_factory, monkeypatch
):
    """A crashed attempt leaves tagged files in the same part dirs; the
    next attempt's manifest rows count only the files it wrote."""
    root = str(tmp_path_factory.mktemp("dur_orphan_counts"))
    batch = _batch(spark, [("a", 1), ("b", 2), ("c", 3)])
    real = sinks.append_manifest_multi
    calls = {"n": 0}

    def crash_on_marker(session, r, run_id, rows, **kw):
        calls["n"] += 1
        if calls["n"] == 2:  # 1st = intent row, 2nd = marker commit
            raise RuntimeError("crash before marker")
        return real(session, r, run_id, rows, **kw)

    monkeypatch.setattr(sinks, "append_manifest_multi", crash_on_marker)
    with pytest.raises(RuntimeError, match="crash before marker"):
        append_micro_batch(batch, 0, root, "t", "r", ("k",), BUCKETS)
    monkeypatch.undo()
    assert append_micro_batch(batch, 0, root, "t", "r", ("k",), BUCKETS) == 3

    manifest, counted = _manifest_counts(spark, root, "t")
    assert len(manifest) == 1 and len(counted) == 2  # one orphan attempt
    (attempt, (parts, total)), = manifest.items()
    assert parts == counted[attempt] and total == 3
    orphan = next(a for a in counted if a != attempt)
    assert set(counted[orphan]) & set(parts), "orphans share part dirs"


def test_append_from_two_writes_fails_before_its_marker(
    spark, tmp_path_factory, monkeypatch
):
    """Every file one append makes carries its write's uuid: files of a
    second write appearing in the same window (a concurrent writer)
    fail the attempt instead of being counted into its marker."""
    root = str(tmp_path_factory.mktemp("dur_two_writes"))
    real = sinks.append_partitioned

    def twice(df, r, table_name):
        real(df, r, table_name)
        real(df, r, table_name)

    monkeypatch.setattr(sinks, "append_partitioned", twice)
    with pytest.raises(RuntimeError, match="concurrently"):
        append_micro_batch(
            _batch(spark, [("a", 1)]), 0, root, "t", "r", ("k",), BUCKETS
        )
    monkeypatch.undo()
    assert sinks.stream_marker_runs(spark, root, "t") == set()


def test_redelivered_batch_runs_no_spark_job(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("dur_redeliver"))
    pages = generate_pages(spark, 8, include_reference_eml=False)
    process_micro_batch(pages, 0, root, "s", buckets=BUCKETS)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    process_micro_batch(pages, 0, root, "s", buckets=BUCKETS)
    assert set(tracker.getJobIdsForGroup(None)) == before
