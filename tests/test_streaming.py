"""Streaming-skin tests (SURVEY.md §2.10 optional skin): micro-batches
must APPEND — two batches hitting the same part_id both survive (the
round-1 data-loss bug) — and the drained stream must equal the batch
path on the same corpus."""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from spinneret_spark import pipeline
from spinneret_spark.sinks import tables as sinks
from spinneret_spark.sources.corpusgen import generate_pages
from spinneret_spark.streaming.incremental import stream_pages_to_triples

BUCKETS = 4


@pytest.fixture(scope="module")
def corpus_path(spark, tmp_path_factory):
    """Pages corpus written as MULTIPLE parquet files so availableNow +
    maxFilesPerTrigger=1 replays it as several micro-batches whose
    part_id buckets overlap."""
    path = str(tmp_path_factory.mktemp("stream_pages") / "pages")
    pages = generate_pages(spark, 60, include_reference_eml=False)
    pages.repartition(3).write.parquet(path)
    return path


def _run_stream(spark, corpus_path, out_root, ckpt):
    q = stream_pages_to_triples(
        spark,
        corpus_path,
        out_root,
        ckpt,
        run_id="s1",
        buckets=BUCKETS,
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    assert not q.isActive


def test_multi_batch_append_no_data_loss(spark, corpus_path, tmp_path_factory):
    out_root = str(tmp_path_factory.mktemp("stream_out"))
    ckpt = str(tmp_path_factory.mktemp("stream_ckpt"))
    _run_stream(spark, corpus_path, out_root, ckpt)

    manifest = spark.read.parquet(sinks.manifest_path(out_root)).filter(
        (F.col("status") == "streamed")  # drop replay markers / meta rows
        & (F.col("table_name") == "triples")  # pages_text commits too now
    )
    run_ids = {r["run_id"] for r in manifest.select("run_id").distinct().collect()}
    assert len(run_ids) >= 2, f"expected several micro-batches, got {run_ids}"

    # at least one part_id written by more than one batch — the
    # overwrite bug would have kept only the LAST batch's rows there
    per_part = (
        manifest.groupBy("part_id")
        .agg(
            F.countDistinct("run_id").alias("n_batches"),
            F.sum("rows_out").alias("rows_committed"),
        )
    )
    shared = per_part.filter(F.col("n_batches") >= 2).collect()
    assert shared, "corpus too small: no part_id shared across batches"

    # rows on disk must equal the SUM of all batches' manifest counts
    on_disk = (
        spark.read.parquet(os.path.join(out_root, "triples"))
        .groupBy("part_id")
        .count()
        .collect()
    )
    disk = {r["part_id"]: r["count"] for r in on_disk}
    for r in per_part.collect():
        assert disk.get(r["part_id"], 0) == r["rows_committed"], (
            f"part {r['part_id']}: {disk.get(r['part_id'])} on disk vs "
            f"{r['rows_committed']} committed across {r['n_batches']} batches"
        )


def test_streaming_equals_batch(spark, corpus_path, tmp_path_factory):
    out_root = str(tmp_path_factory.mktemp("stream_parity"))
    ckpt = str(tmp_path_factory.mktemp("stream_parity_ckpt"))
    _run_stream(spark, corpus_path, out_root, ckpt)

    batch_root = str(tmp_path_factory.mktemp("batch_parity"))
    pages = spark.read.parquet(corpus_path)
    pipeline.run(spark, pages, batch_root, "b1", buckets=BUCKETS,
                 canonicalize=False)

    got = sorted(
        r["det_id"]
        for r in sinks.read_streamed_consistent(spark, out_root, "triples")
        .select("det_id")
        .collect()
    )
    batch = sinks.read_committed(spark, batch_root, "triples")
    want = sorted(r["det_id"] for r in batch.select("det_id").collect())
    assert got == want

    # pages_to_triples derives exactly the rows the extract phase
    # wrote, every column, in any order
    direct = pipeline.pages_to_triples(pipeline.with_part_id(pages, BUCKETS))
    cols = sorted(batch.columns)
    assert sorted(direct.columns) == cols
    assert Counter(map(tuple, direct.select(cols).collect())) == Counter(
        map(tuple, batch.select(cols).collect())
    )


def test_replayed_micro_batch_is_noop(spark, corpus_path, tmp_path_factory):
    """Exactly-once under the parquet fallback: the streaming
    checkpoint can re-deliver a completed micro-batch after a crash;
    the batch marker in the manifest must make the replay append
    NOTHING."""
    from spinneret_spark.streaming.incremental import process_micro_batch

    out_root = str(tmp_path_factory.mktemp("stream_replay"))
    batch = spark.read.parquet(corpus_path).limit(20)
    process_micro_batch(batch, 0, out_root, "rp", buckets=BUCKETS)
    path = os.path.join(out_root, "triples")
    before = spark.read.parquet(path).count()
    assert before > 0
    process_micro_batch(batch, 0, out_root, "rp", buckets=BUCKETS)  # replay
    assert spark.read.parquet(path).count() == before
    # a NEW batch id still appends
    process_micro_batch(batch, 1, out_root, "rp", buckets=BUCKETS)
    assert spark.read.parquet(path).count() == 2 * before


def test_streamed_commits_do_not_poison_batch_resume(
    spark, corpus_path, tmp_path_factory
):
    """The round-2 interleave bug: a small micro-batch touches nearly
    every part_id bucket; if its commits counted as batch 'committed',
    a later batch run would anti-join them away and silently skip all
    unprocessed pages in those parts. Streamed commits must be
    invisible to batch resume, and a follow-up batch run over the same
    corpus must produce the complete output."""
    out_root = str(tmp_path_factory.mktemp("interleave"))
    ckpt = str(tmp_path_factory.mktemp("interleave_ckpt"))
    _run_stream(spark, corpus_path, out_root, ckpt)

    # streamed parts are NOT batch-committed...
    assert not sinks.committed_parts(spark, out_root, "triples").head(1)
    # ...but are visible to readers that opt in
    assert sinks.committed_parts(
        spark, out_root, "triples", statuses=("committed", "streamed")
    ).head(1)

    # batch run over the same corpus into the same root: must process
    # every page (dynamic overwrite replaces the streamed appends)
    pages = spark.read.parquet(corpus_path)
    pipeline.run(spark, pages, out_root, "b1", buckets=BUCKETS,
                 canonicalize=False)

    pure_root = str(tmp_path_factory.mktemp("interleave_pure"))
    pipeline.run(spark, pages, pure_root, "b2", buckets=BUCKETS,
                 canonicalize=False)
    got = sorted(
        r["det_id"]
        for r in sinks.read_committed(spark, out_root, "triples")
        .select("det_id").collect()
    )
    want = sorted(
        r["det_id"]
        for r in sinks.read_committed(spark, pure_root, "triples")
        .select("det_id").collect()
    )
    assert got == want and got


def test_bucket_count_mismatch_fails_loudly(spark, corpus_path, tmp_path_factory):
    """Part commits are only meaningful under the bucket count that
    produced them — resuming (batch or stream) under a different count
    must raise, not silently mis-skip."""
    out_root = str(tmp_path_factory.mktemp("bucket_guard"))
    pages = spark.read.parquet(corpus_path)
    pipeline.run(spark, pages, out_root, "g1", buckets=BUCKETS,
                 canonicalize=False)
    with pytest.raises(ValueError, match="buckets"):
        pipeline.run_extract_phase(spark, pages, out_root, "g2",
                                   buckets=BUCKETS * 2)
    from spinneret_spark.streaming.incremental import process_micro_batch

    with pytest.raises(ValueError, match="buckets"):
        process_micro_batch(pages.limit(5), 0, out_root, "g3",
                            buckets=BUCKETS * 2)


def test_orphan_attempt_rows_stay_invisible(spark, corpus_path, tmp_path_factory):
    """A batch that crashes BETWEEN its data append and its marker
    write leaves orphan rows. Its attempt tag is never named by a
    marker, so read_streamed_consistent must hide the orphans forever
    — and the successful replay (fresh attempt id) must not resurrect
    them."""
    import os as _os

    from pyspark.sql import functions as F

    from spinneret_spark.streaming.incremental import process_micro_batch

    out_root = str(tmp_path_factory.mktemp("orphans"))
    batch = spark.read.parquet(corpus_path).limit(20)
    process_micro_batch(batch, 0, out_root, "x", buckets=BUCKETS)
    good = sinks.read_streamed_consistent(spark, out_root, "triples").count()
    assert good > 0

    # simulate the crashed attempt of batch 1: data lands, marker never
    # written (exactly what process_micro_batch does before its final
    # manifest append)
    from spinneret_spark import pipeline as pl

    orphans = (
        pl.pages_to_triples(pl.with_part_id(batch, BUCKETS))
        .withColumn("_batch_run", F.lit("x-b1-deadbeefcafe"))
    )
    orphans.write.partitionBy("part_id").mode("append").parquet(
        _os.path.join(out_root, "triples")
    )
    n_orphans = orphans.count()
    assert (
        sinks.read_streamed_consistent(spark, out_root, "triples").count()
        == good
    ), "orphan rows from a crashed attempt leaked into the consistent view"

    # the replay of batch 1 succeeds under a fresh attempt id: its rows
    # become visible, the orphans stay hidden
    process_micro_batch(batch, 1, out_root, "x", buckets=BUCKETS)
    after = sinks.read_streamed_consistent(spark, out_root, "triples").count()
    assert after == 2 * good
    raw = spark.read.option("mergeSchema", "true").parquet(
        _os.path.join(out_root, "triples")
    )
    assert raw.count() == 2 * good + n_orphans  # orphans exist on disk…
    # …and exactly the marker-named attempts are readable


def test_stream_restart_is_noop(spark, corpus_path, tmp_path_factory):
    """The streaming checkpoint records consumed files: restarting the
    drained query must process nothing new."""
    out_root = str(tmp_path_factory.mktemp("stream_restart"))
    ckpt = str(tmp_path_factory.mktemp("stream_restart_ckpt"))
    _run_stream(spark, corpus_path, out_root, ckpt)
    before = spark.read.parquet(os.path.join(out_root, "triples")).count()
    _run_stream(spark, corpus_path, out_root, ckpt)
    after = spark.read.parquet(os.path.join(out_root, "triples")).count()
    assert after == before


def test_batch_overwrite_guard_refuses_uncovered_streamed_pages(
    spark, corpus_path, tmp_path_factory
):
    """Round-3 ADVICE (high), destructive half: a batch run's dynamic
    overwrite rewrites whole parts, streamed appends included. If the
    batch input does not cover the streamed pages in a part it
    rewrites, their content would be destroyed with no replacement —
    the run must refuse."""
    out_root = str(tmp_path_factory.mktemp("guard_loss"))
    ckpt = str(tmp_path_factory.mktemp("guard_loss_ckpt"))
    _run_stream(spark, corpus_path, out_root, ckpt)

    pages = spark.read.parquet(corpus_path)
    # salt decorrelates the subset from part_id = pmod(xxhash64(url), B)
    # — an unsalted xxhash64(url) % 2 selects exactly the even parts,
    # which the guard CORRECTLY treats as safe (no rewritten part holds
    # an uncovered page)
    subset = pages.where(
        F.xxhash64(F.concat_ws("#", F.col("url"), F.lit("salt"))) % 2 == 0
    )
    assert 0 < subset.count() < pages.count()
    with pytest.raises(ValueError, match="streamed pages"):
        pipeline.run_extract_phase(
            spark, subset, out_root, "b_partial", buckets=BUCKETS
        )
    # a covering input still passes (the existing interleave test's
    # same-corpus case, re-asserted against the new guard)
    pipeline.run(spark, pages, out_root, "b_full", buckets=BUCKETS,
                 canonicalize=False)


def test_batch_accounting_excludes_streamed_only_parts(
    spark, corpus_path, tmp_path_factory
):
    """Round-3 ADVICE (high), accounting half: streamed rows sitting in
    parts a batch run did NOT rewrite must not be counted into batch
    commits — or a later batch over those pages would be anti-joined
    away and silently skipped."""
    from spinneret_spark.streaming.incremental import process_micro_batch

    buckets = 32
    out_root = str(tmp_path_factory.mktemp("acct"))
    pages = spark.read.parquet(corpus_path)
    streamed_batch = pages.limit(5)
    process_micro_batch(streamed_batch, 0, out_root, "s", buckets=buckets)
    streamed_parts = {
        r["part_id"]
        for r in pipeline.with_part_id(streamed_batch, buckets)
        .select("part_id").distinct().collect()
    }

    # batch over the pages whose parts are DISJOINT from the streamed
    # parts: no rewrite touches a streamed part, so the guard passes —
    # and none of the streamed parts may end up batch-committed
    disjoint = pipeline.with_part_id(pages, buckets).where(
        ~F.col("part_id").isin(sorted(streamed_parts))
    )
    assert disjoint.count() > 0
    pipeline.run_extract_phase(
        spark, disjoint, out_root, "b1", buckets=buckets
    )
    committed = {
        r["part_id"]
        for r in sinks.committed_parts(spark, out_root, "triples").collect()
    }
    assert not (committed & streamed_parts), (
        "streamed-only parts were batch-committed — a later batch "
        "resume would skip their unprocessed pages"
    )

    # the later batch over the full corpus still processes the
    # streamed parts' pages (they were never falsely committed)
    pipeline.run_extract_phase(spark, pages, out_root, "b2", buckets=buckets)
    pure = str(tmp_path_factory.mktemp("acct_pure"))
    pipeline.run_extract_phase(spark, pages, pure, "p1", buckets=buckets)
    got = sorted(
        r["det_id"]
        for r in sinks.read_committed(spark, out_root, "triples")
        .select("det_id").collect()
    )
    want = sorted(
        r["det_id"]
        for r in sinks.read_committed(spark, pure, "triples")
        .select("det_id").collect()
    )
    assert got == want and got


def test_read_committed_never_leaks_streamed_rows_into_batch_view(
    spark, corpus_path, tmp_path_factory
):
    """VERDICT r3 item 6: streaming can append into parts that are
    already batch-committed; the public read API must keep the batch
    view free of those rows (and of crashed-attempt orphans) on a
    mixed root."""
    import os as _os

    from spinneret_spark.streaming.incremental import process_micro_batch

    out_root = str(tmp_path_factory.mktemp("mixed_view"))
    pages = spark.read.parquet(corpus_path)
    pipeline.run(spark, pages, out_root, "b1", buckets=BUCKETS,
                 canonicalize=False)
    batch_n = sinks.read_committed(spark, out_root, "triples").count()
    assert batch_n > 0

    # streamed append into the committed parts + a crashed attempt
    process_micro_batch(pages.limit(10), 0, out_root, "s", buckets=BUCKETS)
    orphans = (
        pipeline.pages_to_triples(pipeline.with_part_id(pages.limit(7), BUCKETS))
        .withColumn("_batch_run", F.lit("s-b9-feedfacecafe"))
    )
    orphans.write.partitionBy("part_id").mode("append").parquet(
        _os.path.join(out_root, "triples")
    )

    # default batch view: unchanged — no streamed rows, no orphans
    assert sinks.read_committed(spark, out_root, "triples").count() == batch_n
    # opt-in streamed view: batch + exactly the marker-named attempt
    streamed_n = (
        pipeline.pages_to_triples(pipeline.with_part_id(pages.limit(10), BUCKETS))
        .count()
    )
    assert (
        sinks.read_committed(
            spark, out_root, "triples", statuses=("committed", "streamed")
        ).count()
        == batch_n + streamed_n
    )


def test_vacuum_streamed_deletes_orphan_files_only(
    spark, corpus_path, tmp_path_factory
):
    """VERDICT r3 item 4: the expire-snapshots half — vacuum deletes
    files of attempts no marker names, leaves committed/streamed data
    intact, keeps the consistent view identical, and replays still
    no-op afterwards."""
    import os as _os

    from spinneret_spark.streaming.incremental import process_micro_batch

    out_root = str(tmp_path_factory.mktemp("vacuum"))
    batch = spark.read.parquet(corpus_path).limit(20)
    process_micro_batch(batch, 0, out_root, "v", buckets=BUCKETS)
    good = sinks.read_streamed_consistent(spark, out_root, "triples").count()
    assert good > 0

    orphans = (
        pipeline.pages_to_triples(pipeline.with_part_id(batch, BUCKETS))
        .withColumn("_batch_run", F.lit("v-b1-deadbeefcafe"))
    )
    orphans.write.partitionBy("part_id").mode("append").parquet(
        _os.path.join(out_root, "triples")
    )
    n_orphans = orphans.count()
    raw = spark.read.option("mergeSchema", "true").parquet(
        _os.path.join(out_root, "triples")
    )
    assert raw.count() == good + n_orphans

    n_deleted = sinks.vacuum_streamed(
        spark, out_root, "triples", grace_seconds=0
    )
    assert n_deleted > 0
    raw_after = spark.read.option("mergeSchema", "true").parquet(
        _os.path.join(out_root, "triples")
    )
    assert raw_after.count() == good  # orphan files gone, data intact
    assert (
        sinks.read_streamed_consistent(spark, out_root, "triples").count()
        == good
    )
    # second vacuum is a no-op; replay of the completed batch still skips
    assert (
        sinks.vacuum_streamed(spark, out_root, "triples", grace_seconds=0)
        == 0
    )
    process_micro_batch(batch, 0, out_root, "v", buckets=BUCKETS)
    assert (
        sinks.read_streamed_consistent(spark, out_root, "triples").count()
        == good
    )


def test_streamed_pages_text_matches_batch_extraction(
    spark, corpus_path, tmp_path_factory
):
    """Round 4: micro-batches persist pages_text too. The streamed
    table (consistent view) must be byte-identical per url to the
    batch phase's extraction over the same corpus — the north rule's
    per-row invariant, now held across delivery paths."""
    out_root = str(tmp_path_factory.mktemp("stream_pt"))
    ckpt = str(tmp_path_factory.mktemp("stream_pt_ckpt"))
    _run_stream(spark, corpus_path, out_root, ckpt)

    batch_root = str(tmp_path_factory.mktemp("batch_pt"))
    pages = spark.read.parquet(corpus_path)
    pipeline.run(spark, pages, batch_root, "b1", buckets=BUCKETS,
                 canonicalize=False)

    got = {
        r["url"]: r["text"]
        for r in sinks.read_streamed_consistent(spark, out_root, "pages_text")
        .select("url", "text").collect()
    }
    want = {
        r["url"]: r["text"]
        for r in sinks.read_committed(spark, batch_root, "pages_text")
        .select("url", "text").collect()
    }
    assert got == want and got


def test_canonicalize_and_curation_see_streamed_pages(
    spark, corpus_path, tmp_path_factory
):
    """Round 4: a streamed-only root canonicalizes and curates exactly
    like the equivalent batch root — streamed pages are first-class
    downstream, not just rows in the triples table."""
    out_root = str(tmp_path_factory.mktemp("stream_canon"))
    ckpt = str(tmp_path_factory.mktemp("stream_canon_ckpt"))
    _run_stream(spark, corpus_path, out_root, ckpt)

    batch_root = str(tmp_path_factory.mktemp("batch_canon"))
    pages = spark.read.parquet(corpus_path)
    pipeline.run(spark, pages, batch_root, "b1", buckets=BUCKETS)

    canon = pipeline.run_canonicalize_phase(spark, out_root, "s_canon",
                                            buckets=BUCKETS)
    want = pipeline.run_canonicalize_phase(spark, batch_root, "b_canon",
                                           buckets=BUCKETS)
    assert canon["n_entities"] == want["n_entities"] > 0
    assert canon["n_edges"] == want["n_edges"]
    assert canon["n_canonical_triples"] == want["n_canonical_triples"] > 0

    cur = pipeline.run_curation_phase(spark, out_root, "s_cur",
                                      buckets=BUCKETS)
    want_cur = pipeline.run_curation_phase(spark, batch_root, "b_cur",
                                           buckets=BUCKETS)
    # n_in comes from markers on the streamed root (no count() job)
    assert cur["n_in"] == want_cur["n_in"] == pages.count()
    assert cur["n_curated"] == want_cur["n_curated"] > 0


def test_overwrite_guard_catches_zero_mention_streamed_pages(
    spark, tmp_path_factory
):
    """Round 4: with pages_text durable, the interleave guard sees
    EVERY streamed page — including ones that matched no vocabulary
    term and so left no triples row (the documented round-3 limit)."""
    from spinneret_spark.streaming.incremental import process_micro_batch

    pages = generate_pages(spark, 40, include_reference_eml=False)
    out_root = str(tmp_path_factory.mktemp("guard_zero"))
    # stream with a vocabulary no page matches: pages_text rows land,
    # triples table stays empty
    process_micro_batch(
        pages.limit(10), 0, out_root, "s", buckets=BUCKETS,
        terms=["zzzz-not-in-any-page"],
    )
    assert (
        sinks.read_streamed_consistent(spark, out_root, "pages_text").count()
        == 10
    )
    # batch over a subset that misses streamed pages but rewrites
    # their parts must refuse — even though no streamed TRIPLES exist
    subset = pages.where(
        F.xxhash64(F.concat_ws("#", F.col("url"), F.lit("salt"))) % 2 == 0
    )
    with pytest.raises(ValueError, match="streamed pages"):
        pipeline.run_extract_phase(spark, subset, out_root, "b1",
                                   buckets=BUCKETS)


def test_batch_runs_survive_after_covering_overwrite_consumed_streamed_files(
    spark, corpus_path, tmp_path_factory
):
    """Round-4 review fix: after a covering batch overwrite deletes
    every streamed file, the append-only markers outlive the tag
    column itself — later batch runs (and an empty-marker-only root)
    must not crash on the unresolved _batch_run column, and curation's
    n_in must not double-count the re-extracted streamed pages."""
    from spinneret_spark.streaming.incremental import process_micro_batch

    out_root = str(tmp_path_factory.mktemp("post_covering"))
    pages = spark.read.parquet(corpus_path)
    process_micro_batch(pages.limit(10), 0, out_root, "s", buckets=BUCKETS)
    # covering batch: consumes every streamed page, deletes tagged files
    pipeline.run(spark, pages, out_root, "b1", buckets=BUCKETS,
                 canonicalize=False)
    raw = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(out_root, "pages_text")
    )
    assert "_batch_run" not in raw.columns  # the hazard is real

    # strip one part's commits so the rerun does NOT take the
    # fully-committed short-circuit — it must flow THROUGH the guard
    # (review follow-up: with all parts committed, the b2 run returned
    # before the guard and the regression test proved nothing)
    import shutil as _shutil

    m = spark.read.parquet(sinks.manifest_path(out_root)).filter(
        ~((F.col("status") == "committed") & (F.col("part_id") == 0))
    )
    kept = m.collect()
    _shutil.rmtree(sinks.manifest_path(out_root))
    spark.createDataFrame(kept, sinks.MANIFEST_SCHEMA).write.parquet(
        sinks.manifest_path(out_root)
    )

    # another batch run: the guard must handle markers-without-files
    stats = pipeline.run(spark, pages, out_root, "b2", buckets=BUCKETS,
                         canonicalize=False)
    assert stats["parts_written"] == 1  # rewrote part 0, no crash

    # n_in counts each page ONCE (not batch + stale marker totals)
    cur = pipeline.run_curation_phase(spark, out_root, "c1",
                                      buckets=BUCKETS)
    assert cur["n_in"] == pages.count()


def test_redelivered_url_canonicalizes_once(
    spark, corpus_path, tmp_path_factory
):
    """Round-4 review fix: a url delivered by BOTH paths — batch
    commit, then a streamed re-crawl appended into the already-
    committed part — must be represented once in the canonicalize and
    curation inputs, not twice."""
    from spinneret_spark.streaming.incremental import process_micro_batch

    out_root = str(tmp_path_factory.mktemp("redelivery"))
    pages = spark.read.parquet(corpus_path)
    pipeline.run(spark, pages, out_root, "b1", buckets=BUCKETS)
    want_entities = pipeline.run_canonicalize_phase(
        spark, out_root, "c0", buckets=BUCKETS
    )["n_entities"]

    # streamed re-delivery of 10 already-committed pages
    process_micro_batch(pages.limit(10), 0, out_root, "s", buckets=BUCKETS)
    canon = pipeline.run_canonicalize_phase(spark, out_root, "c1",
                                            buckets=BUCKETS)
    assert canon["n_entities"] == want_entities, (
        "re-delivered urls were double-represented in canonicalization"
    )
    cur = pipeline.run_curation_phase(spark, out_root, "k1",
                                      buckets=BUCKETS)
    # the curated table holds each url once
    curated = sinks.read_table(spark, out_root, "pages_curated")
    assert curated.select("url").distinct().count() == curated.count()


def test_vacuum_on_empty_or_missing_table_is_noop(spark, tmp_path_factory):
    """Round-4 review fix: vacuuming a root whose table is absent (or
    an empty dir with no readable schema) returns 0 instead of
    crashing after an otherwise-successful run."""
    root = str(tmp_path_factory.mktemp("vacuum_empty"))
    assert (
        sinks.vacuum_streamed(spark, root, "triples", grace_seconds=0) == 0
    )
    os.makedirs(os.path.join(root, "triples"))
    assert (
        sinks.vacuum_streamed(spark, root, "triples", grace_seconds=0) == 0
    )
    # a part dir a vacuum emptied of every file (a crashed first
    # attempt's orphans) is left behind and holds no readable schema
    os.makedirs(os.path.join(root, "triples", "part_id=0"))
    assert (
        sinks.vacuum_streamed(spark, root, "triples", grace_seconds=0) == 0
    )


def test_first_attempt_crash_leaves_no_visible_orphans(
    spark, corpus_path, tmp_path_factory, monkeypatch
):
    """VERDICT r4 item 3: the very FIRST streaming attempt on a root
    crashing between its data append and its marker write must leave
    manifest evidence (the pre-append STREAM_INTENT row), so the
    default batch view and the durable whole-corpus view both hide
    its orphan rows — previously this exact state was the one
    undetectable window."""
    from spinneret_spark.streaming.incremental import process_micro_batch

    out_root = str(tmp_path_factory.mktemp("first_crash"))
    pages = spark.read.parquet(corpus_path)
    batch_half = pages.limit(30)

    # batch phase first: committed parts exist, so a leak would show
    pipeline.run_extract_phase(
        spark, batch_half, out_root, "b1", buckets=BUCKETS
    )
    want_triples = sinks.read_committed(spark, out_root, "triples").count()
    want_pages = sinks.read_durable(spark, out_root, "pages_text").count()
    assert want_triples > 0

    # first-ever streaming attempt, crashed AFTER data, BEFORE its
    # final manifest write (markers + streamed rows never land)
    calls = {"n": 0}
    real = sinks.append_manifest_multi

    def crash_on_final(session, root, run_id, rows, **kw):
        calls["n"] += 1
        if calls["n"] >= 2:  # 1st call = the pre-append intent row
            raise RuntimeError("simulated crash before marker write")
        return real(session, root, run_id, rows, **kw)

    monkeypatch.setattr(sinks, "append_manifest_multi", crash_on_final)
    with pytest.raises(RuntimeError, match="simulated crash"):
        process_micro_batch(pages, 0, out_root, "s1", buckets=BUCKETS)
    monkeypatch.undo()

    raw = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(out_root, "triples")
    )
    assert raw.count() > want_triples, "orphan rows should be on disk"

    # default batch view: orphans invisible
    assert (
        sinks.read_committed(spark, out_root, "triples").count()
        == want_triples
    )
    # durable whole-corpus view (canonicalize/curation input): zero
    # markers exist, yet the intent row forces the tag filter
    durable, has_streamed = sinks.read_durable_tagged(
        spark, out_root, "pages_text"
    )
    assert durable.count() == want_pages
    assert not has_streamed  # no marker-valid streamed rows survive
    # and curation over the root counts only the batch pages
    cur = pipeline.run_curation_phase(spark, out_root, "c1", buckets=BUCKETS)
    assert cur["n_in"] == want_pages


def test_vacuum_grace_period_spares_young_files(
    spark, corpus_path, tmp_path_factory
):
    """Round-4 ADVICE (medium): a mid-flight attempt — data appended,
    marker not yet written — is indistinguishable from a crashed
    orphan, so vacuum must skip files younger than the grace period;
    only an explicit grace of 0 (caller asserts no live stream)
    reclaims them immediately."""
    from spinneret_spark.streaming.incremental import process_micro_batch

    out_root = str(tmp_path_factory.mktemp("vacuum_grace"))
    batch = spark.read.parquet(corpus_path).limit(20)
    process_micro_batch(batch, 0, out_root, "g", buckets=BUCKETS)
    good = sinks.read_streamed_consistent(spark, out_root, "triples").count()

    orphans = (
        pipeline.pages_to_triples(pipeline.with_part_id(batch, BUCKETS))
        .withColumn("_batch_run", F.lit("g-b1-feedfacecafe"))
    )
    orphans.write.partitionBy("part_id").mode("append").parquet(
        os.path.join(out_root, "triples")
    )

    # default grace: the just-written files look like a live attempt
    assert sinks.vacuum_streamed(spark, out_root, "triples") == 0
    raw = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(out_root, "triples")
    )
    assert raw.count() > good  # nothing deleted

    # caller-asserted no-live-stream: reclaim now
    assert (
        sinks.vacuum_streamed(spark, out_root, "triples", grace_seconds=0)
        > 0
    )
    assert (
        sinks.read_streamed_consistent(spark, out_root, "triples").count()
        == good
    )


def test_overwrite_guard_covers_legacy_triples_only_attempts(
    spark, corpus_path, tmp_path_factory
):
    """Round-4 ADVICE (low): on a root holding BOTH a legacy streamed
    attempt (triples-tagged rows only — pre-round-4 streaming never
    wrote pages_text) and a current attempt (pages_text too), the
    guard must union both sources; preferring pages_text would ignore
    the legacy streamed pages entirely and let a batch overwrite
    destroy them silently."""
    from spinneret_spark.streaming.incremental import process_micro_batch

    out_root = str(tmp_path_factory.mktemp("guard_union"))
    pages = spark.read.parquet(corpus_path)
    legacy_page = pages.orderBy("url").limit(1)
    rest = pages.orderBy("url").offset(1)

    # LEGACY attempt: tagged triples rows + marker, NO pages_text rows
    attempt = "old-b0-0123456789ab"
    legacy_triples = (
        pipeline.pages_to_triples(pipeline.with_part_id(legacy_page, BUCKETS))
        .withColumn("_batch_run", F.lit(attempt))
    )
    n_legacy = legacy_triples.count()
    assert n_legacy > 0, "fixture page must yield mentions"
    legacy_triples.write.partitionBy("part_id").mode("append").parquet(
        os.path.join(out_root, "triples")
    )
    sinks.append_manifest_multi(
        spark, out_root, attempt,
        [("triples", -1, n_legacy, sinks.BATCH_MARKER),
         ("triples", BUCKETS, 0, sinks.BUCKETS_META)],
    )
    # CURRENT attempt on other pages: writes pages_text + triples tags
    process_micro_batch(rest.limit(5), 1, out_root, "new", buckets=BUCKETS)

    # batch input that misses the legacy page but rewrites its part
    with pytest.raises(ValueError, match="streamed pages"):
        pipeline.run_extract_phase(
            spark, pages.join(legacy_page, "url", "left_anti"),
            out_root, "b1", buckets=BUCKETS,
        )


def test_curation_n_in_counts_redelivered_urls_once(
    spark, corpus_path, tmp_path_factory
):
    """Round-4 ADVICE (low): a url re-streamed in a later micro-batch
    (re-crawl) must not inflate curation's n_in — the funnel counts
    the durable deduplicated view the phase actually curates, not one
    row per delivery."""
    from spinneret_spark.streaming.incremental import process_micro_batch

    out_root = str(tmp_path_factory.mktemp("nin_redeliver"))
    batch = spark.read.parquet(corpus_path).limit(15)
    process_micro_batch(batch, 0, out_root, "r", buckets=BUCKETS)
    process_micro_batch(batch, 1, out_root, "r", buckets=BUCKETS)  # re-crawl

    # marker totals now count each delivery twice
    summ = sinks.manifest_summary(spark, out_root, ["pages_text"])
    assert summ["pages_text"]["streamed_total"] == 2 * batch.count()

    cur = pipeline.run_curation_phase(spark, out_root, "c1", buckets=BUCKETS)
    assert cur["n_in"] == batch.count()
