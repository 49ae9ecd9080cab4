"""Watermarked windowed streaming aggregation (SURVEY.md §2.10 part 2).

Semantics under test:
* APPEND mode emits exactly the windows finalized by the watermark —
  after an availableNow drain the watermark is (global max warc_ts −
  delay), independent of file/batch order (Spark runs a no-data final
  micro-batch to flush evictable state), so the emitted window set is
  deterministic;
* emitted (window, norm) counts equal the batch run of the SAME
  transform restricted to finalized windows (batch = oracle);
* the still-open trailing window is withheld, not emitted partially.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from spinneret_spark.sinks import tables as sinks
from spinneret_spark.streaming.windowed import (
    WINDOW_COUNTS_TABLE,
    stream_windowed_mention_counts_durable,
    windowed_mention_counts,
)

T0 = datetime.datetime(2024, 1, 1, 0, 0, 0)


@pytest.fixture(scope="module")
def ts_corpus(spark, tmp_path_factory):
    """5 hours of pages, 2 per hour (at :15 and :45), texts with known
    vocab terms; written as 3 files in EVENT-TIME ORDER with strictly
    increasing mtimes — the parquet file source consumes oldest-mtime
    first, so micro-batches arrive time-ordered and no on-time row is
    dropped as late (arrival order is the crawler's job, not the
    aggregation's; out-of-order arrival within ``delay`` is exercised
    by the :15/:45 pairs inside each batch)."""
    import glob
    import os

    def _rows(hours):
        rows = []
        for hour in hours:
            for minute in (15, 45):
                ts = T0 + datetime.timedelta(hours=hour, minutes=minute)
                text = "the spark stream uses a hash join per window"
                if minute == 45:
                    text = "filter then merge the vector stream"
                pid = hour * 2 + (minute == 45)
                rows.append(
                    (pid, f"https://ex.org/{pid}", ts, None, text, "en")
                )
        return rows

    schema = (
        "page_id long, url string, warc_ts timestamp, html binary, "
        "text string, lang string"
    )
    path = str(tmp_path_factory.mktemp("ts_pages") / "pages")
    for i, hours in enumerate([(0, 1), (2, 3), (4,)]):
        spark.createDataFrame(_rows(hours), schema).coalesce(1).write.mode(
            "append"
        ).parquet(path)
        # deterministic arrival order: chunk i strictly older than i+1
        for f in glob.glob(os.path.join(path, "*.parquet")):
            st = os.stat(f)
            if st.st_mtime > 1_000_000_000 + (i + 1) * 100:
                os.utime(f, (1_000_000_000 + i * 100,) * 2)
    return path


def _drain(spark, ts_corpus, root, ckpt):
    q = stream_windowed_mention_counts_durable(
        spark, ts_corpus, root, ckpt, run_id="w0",
        window="1 hour", delay="30 minutes", buckets=4,
    )
    q.awaitTermination(120)
    assert not q.isActive
    return sinks.read_streamed_consistent(spark, root, WINDOW_COUNTS_TABLE)


def test_windowed_stream_matches_batch_on_finalized_windows(
    spark, ts_corpus, tmp_path_factory
):
    root = str(tmp_path_factory.mktemp("win_out"))
    ckpt = str(tmp_path_factory.mktemp("win_ckpt"))
    got = {
        (r["window_start"], r["norm"]): r["n_pages"]
        for r in _drain(spark, ts_corpus, root, ckpt).collect()
    }

    # global max warc_ts = 04:45 → watermark 04:15 → windows ending
    # ≤ 04:15 are final: hours 0..3. Hour 4 must be withheld.
    emitted_hours = {ws.hour for (ws, _n) in got}
    assert emitted_hours == {0, 1, 2, 3}

    batch = windowed_mention_counts(
        spark.read.parquet(ts_corpus), window="1 hour", delay="30 minutes"
    )
    cutoff = T0 + datetime.timedelta(hours=4)
    want = {
        (r["window_start"], r["norm"]): r["n_pages"]
        for r in batch.where(F.col("window_end") <= F.lit(cutoff)).collect()
    }
    assert got == want
    # sanity: every hour has both texts → both 'spark' and 'filter'
    assert got[(T0, "spark")] == 1
    assert got[(T0, "filter")] == 1


def test_windowed_stream_restart_emits_nothing_new(
    spark, ts_corpus, tmp_path_factory
):
    root = str(tmp_path_factory.mktemp("win_out2"))
    ckpt = str(tmp_path_factory.mktemp("win_ckpt2"))
    for _ in range(2):
        got = _drain(spark, ts_corpus, root, ckpt)
    rows = got.groupBy("window_start", "norm").count()
    dupes = rows.where(F.col("count") > 1).collect()
    assert not dupes, f"windows emitted twice across restarts: {dupes}"


def test_windowed_durable_sink_matches_demo_and_replays_noop(
    spark, ts_corpus, tmp_path_factory
):
    """Round-4 VERDICT item 1: the watermarked rollup lands in the
    manifest-governed table with the finalized-window content of the
    batch run, and a from-scratch restart (checkpoint intact) emits
    nothing new — exactly-once end to end."""
    root = str(tmp_path_factory.mktemp("win_durable"))
    ckpt = str(tmp_path_factory.mktemp("win_durable_ckpt"))
    for _ in range(2):  # second drain = restart from checkpoint
        q = stream_windowed_mention_counts_durable(
            spark, ts_corpus, root, ckpt, run_id="w1",
            window="1 hour", delay="30 minutes", buckets=4,
        )
        q.awaitTermination(120)
        assert not q.isActive

    got = sinks.read_streamed_consistent(spark, root, WINDOW_COUNTS_TABLE)
    have = {
        (r["window_start"], r["norm"]): r["n_pages"]
        for r in got.collect()
    }
    batch = windowed_mention_counts(
        spark.read.parquet(ts_corpus), window="1 hour", delay="30 minutes"
    )
    cutoff = T0 + datetime.timedelta(hours=4)
    want = {
        (r["window_start"], r["norm"]): r["n_pages"]
        for r in batch.where(F.col("window_end") <= F.lit(cutoff)).collect()
    }
    assert have == want  # no dupes, no loss, hour 4 withheld
    # manifest carries the exactly-once totals without a count job
    summ = sinks.manifest_summary(spark, root, [WINDOW_COUNTS_TABLE])
    assert summ[WINDOW_COUNTS_TABLE]["streamed_total"] == len(want)
