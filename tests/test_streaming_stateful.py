"""Custom stateful streaming operator (applyInPandasWithState):
first-seen dedup across micro-batches (SURVEY.md §2.10 part 3).

Semantics under test:
* only the FIRST row per content fingerprint is emitted, including
  when the duplicate arrives in a LATER micro-batch (the property
  plain per-batch dedup cannot give);
* the streamed result equals the batch twin (min_by per fingerprint)
  on the same corpus;
* a restart from checkpoint emits nothing new (state survives).
"""

from __future__ import annotations

import datetime
import glob
import os

import pytest
from pyspark.sql import functions as F

from spinneret_spark.sinks import tables as sinks
from spinneret_spark.streaming.stateful import (
    FIRST_SEEN_TABLE,
    first_seen,
    stream_first_seen_pages_durable,
    with_fingerprint,
)

T0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
SCHEMA = (
    "page_id long, url string, warc_ts timestamp, html binary, "
    "text string, lang string"
)


@pytest.fixture(scope="module")
def dup_corpus(spark, tmp_path_factory):
    """Three files (= three micro-batches at maxFilesPerTrigger=1)
    with duplicates WITHIN batch 0 and ACROSS batches 0→1 and 1→2;
    mtimes force arrival order 0, 1, 2."""
    texts = {
        0: ["alpha body", "alpha body", "beta body"],      # in-batch dup
        1: ["beta body", "gamma body"],                    # dup of batch 0
        2: ["gamma body", "delta body", "alpha body"],     # dups of 1 and 0
    }
    path = str(tmp_path_factory.mktemp("dup_pages") / "pages")
    pid = 0
    for i in sorted(texts):
        rows = []
        for t in texts[i]:
            rows.append(
                (pid, f"https://ex.org/{pid:03d}", T0, None, t, "en")
            )
            pid += 1
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(path)
        for f in glob.glob(os.path.join(path, "*.parquet")):
            st = os.stat(f)
            if st.st_mtime > 1_000_000_000 + (i + 1) * 100:
                os.utime(f, (1_000_000_000 + i * 100,) * 2)
    return path


def _drain(spark, dup_corpus, root, ckpt):
    q = stream_first_seen_pages_durable(
        spark, dup_corpus, root, ckpt, run_id="f0", buckets=4
    )
    q.awaitTermination(120)
    assert not q.isActive
    return sinks.read_streamed_consistent(spark, root, FIRST_SEEN_TABLE)


def test_first_seen_dedups_across_batches(spark, dup_corpus, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("fs_out"))
    ckpt = str(tmp_path_factory.mktemp("fs_ckpt"))
    got = _drain(spark, dup_corpus, root, ckpt)
    rows = {r["text"]: r["url"] for r in got.collect()}
    # four distinct texts, one row each — the across-batch duplicates
    # (beta in batch 1, gamma and alpha in batch 2) were swallowed
    assert len(rows) == got.count() == 4
    # first-seen: the smallest url per fingerprint won
    assert rows["alpha body"] == "https://ex.org/000"
    assert rows["beta body"] == "https://ex.org/002"
    assert rows["gamma body"] == "https://ex.org/004"
    assert rows["delta body"] == "https://ex.org/006"

    # batch twin gives the identical result
    batch = first_seen(
        with_fingerprint(spark.read.parquet(dup_corpus))
    )
    want = {(r["fingerprint"], r["url"]) for r in batch.collect()}
    have = {(r["fingerprint"], r["url"]) for r in got.collect()}
    assert have == want


def test_first_seen_restart_emits_nothing_new(
    spark, dup_corpus, tmp_path_factory
):
    root = str(tmp_path_factory.mktemp("fs_out2"))
    ckpt = str(tmp_path_factory.mktemp("fs_ckpt2"))
    for _ in range(2):
        got = _drain(spark, dup_corpus, root, ckpt)
    counts = (
        got.groupBy("fingerprint")
        .count()
        .where(F.col("count") > 1)
        .collect()
    )
    assert not counts, f"fingerprints emitted twice across restarts: {counts}"


def test_first_seen_durable_sink_matches_batch_and_replays_noop(
    spark, dup_corpus, tmp_path_factory
):
    """Round-4 VERDICT item 1: first-seen dedup lands in the
    manifest-governed table, equals the batch twin, and a restart
    from checkpoint emits nothing new."""
    root = str(tmp_path_factory.mktemp("fs_durable"))
    ckpt = str(tmp_path_factory.mktemp("fs_durable_ckpt"))
    for _ in range(2):
        q = stream_first_seen_pages_durable(
            spark, dup_corpus, root, ckpt, run_id="f1", buckets=4
        )
        q.awaitTermination(120)
        assert not q.isActive

    got = sinks.read_streamed_consistent(spark, root, FIRST_SEEN_TABLE)
    batch = first_seen(with_fingerprint(spark.read.parquet(dup_corpus)))
    want = {(r["fingerprint"], r["url"]) for r in batch.collect()}
    have = {(r["fingerprint"], r["url"]) for r in got.collect()}
    assert have == want
    assert got.count() == len(want)  # no double emission across drains
