"""Watermarked event-time aggregation over the pages stream
(SURVEY.md §2.10 streaming skin, part 2: late-data semantics).

``incremental.stream_pages_to_triples`` is the exactly-once *routing*
skin (foreachBatch → partitioned sink). This module is the *stateful*
skin: mention counts per (event-time window, term) with a watermark,
the shape a crawl-monitoring rollup has at 10^12 pages — state is
bounded because the watermark closes windows and evicts them, and the
output is append-only (each finalized window emitted exactly once),
which is what a downstream incremental consumer needs.

Scale notes:
* the mention scan is the same init-once-per-worker DictMatcher used
  by the batch kernel — one Arrow crossing per micro-batch, no
  per-row Python (north rule: "no per-row Python");
* the groupBy(window, norm) state lives in the state store, keyed by
  finalized-window buckets; the watermark bounds it to
  (delay / window) windows per term, independent of stream length;
* output mode is APPEND: only windows older than the watermark emit,
  so the sink never sees a window twice (no upsert machinery needed).

Late-data contract: events later than ``delay`` behind the max seen
``warc_ts`` are dropped by the watermark — the documented trade for
bounded state; widen ``delay`` for sloppier crawler clocks.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spinneret_spark.sources.vocab import DEFAULT_TERMS


def mention_norms_udf(terms: list[str]):
    """array<string> of distinct matched vocab norms per page text —
    iterator pandas UDF so the DictMatcher builds once per worker."""
    from spinneret_spark.operators.mentions import DictMatcher

    @F.pandas_udf("array<string>")
    def norms(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        matcher = DictMatcher(terms)
        for texts in batches:
            yield pd.Series(
                [sorted(matcher.find_norms(t or "")) for t in texts]
            )

    return norms


def windowed_mention_counts(
    pages: DataFrame,
    window: str = "1 hour",
    delay: str = "30 minutes",
    terms: list[str] | None = None,
) -> DataFrame:
    """pages(warc_ts, text, ...) → (window_start, window_end, norm,
    n_pages) per finalized event-time window.

    Works on a streaming OR batch DataFrame (same plan both ways —
    the batch run is the oracle for the streaming run in tests).
    """
    norms = mention_norms_udf(terms or DEFAULT_TERMS)
    exploded = (
        pages.select("warc_ts", norms(F.col("text")).alias("_norms"))
        .select("warc_ts", F.explode("_norms").alias("norm"))
    )
    if exploded.isStreaming:
        exploded = exploded.withWatermark("warc_ts", delay)
    win = F.window("warc_ts", window)
    return (
        exploded.groupBy(win.alias("_w"), "norm")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(
            F.col("_w.start").alias("window_start"),
            F.col("_w.end").alias("window_end"),
            "norm",
            "n_pages",
        )
    )


#: durable table name for the windowed rollup (manifest-governed).
WINDOW_COUNTS_TABLE = "mention_window_counts"


def stream_windowed_mention_counts_durable(
    spark: SparkSession,
    pages_path: str,
    out_root: str,
    checkpoint_dir: str,
    run_id: str,
    schema: str = (
        "page_id long, url string, warc_ts timestamp, html binary, "
        "text string, lang string"
    ),
    window: str = "1 hour",
    delay: str = "30 minutes",
    terms: list[str] | None = None,
    buckets: int = 16,
    max_files_per_trigger: int = 1,
    trigger_once: bool = True,
):
    """File-source stream → watermarked windowed counts → the
    manifest-governed ``mention_window_counts`` table, under the full
    streamed-append contract (replay no-op, crashed-attempt orphans
    invisible, vacuum-able). Returns the StreamingQuery.

    Rows are bucketed by ``pmod(xxhash64(norm), buckets)`` so a
    term's whole window history is co-located; read with
    ``sinks.read_streamed_consistent(spark, out_root,
    WINDOW_COUNTS_TABLE)``. Append mode + watermark means each
    finalized window arrives in exactly one micro-batch, so the
    per-batch marker gives end-to-end exactly-once.
    """
    from spinneret_spark.streaming.durable import durable_foreach_batch

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_path)
    )
    counts = windowed_mention_counts(stream, window, delay, terms)
    writer = (
        counts.writeStream.outputMode("append")
        .foreachBatch(
            durable_foreach_batch(
                out_root, WINDOW_COUNTS_TABLE, run_id,
                key_cols=("norm",), buckets=buckets,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
