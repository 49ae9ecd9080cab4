"""Structured-Streaming wrapper: file-source pages → the durable
``triples`` and ``pages_text`` tables.

``readStream`` over the pages directory (parquet file source; each
newly-landed file is a micro-batch) → inside ``foreachBatch``, the
batch extract phase's own derivation: the fused extract+detect kernel
(one Python crossing per page) and the pure-JVM triples projection of
its ``norms``. Both tables land through the one durable writer,
:func:`spinneret_spark.streaming.durable.append_attempt` — replay
skip, intent rows, tagged append, marker commit — while Spark's
streaming checkpoint (``checkpointLocation``) records which files
were consumed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from spinneret_spark import pipeline
from spinneret_spark.streaming.durable import append_attempt


def process_micro_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_root: str,
    run_id: str,
    buckets: int = pipeline.DEFAULT_BUCKETS,
    terms: list[str] | None = None,
) -> None:
    """One micro-batch: pages → triples + pages_text APPEND + manifest.

    Module-level (not a closure) so the replay contract is directly
    testable: calling it twice with the same ``batch_id`` must leave
    the sink unchanged the second time.

    BOTH durable tables land per batch: streamed pages are first-class
    downstream — canonicalization and curation see them through
    ``read_committed(..., statuses=("committed", "streamed"))``, the
    batch interleave guard can account for zero-mention pages, and a
    later batch run never re-extracts what streaming extracted.
    ``triples`` comes first: its markers decide the replay skip.
    """
    pages = pipeline._fused_extract_detect_full(
        pipeline.with_part_id(batch_df, buckets),
        terms or pipeline.DEFAULT_TERMS,
    )
    append_attempt(
        pages,
        batch_id,
        out_root,
        run_id,
        {"triples": pipeline._triples_projection, "pages_text": lambda df: df},
        buckets,
    )


def stream_pages_to_triples(
    spark: SparkSession,
    pages_path: str,
    out_root: str,
    checkpoint_dir: str,
    run_id: str,
    schema: str = (
        "page_id long, url string, warc_ts timestamp, html binary, "
        "text string, lang string"
    ),
    buckets: int = pipeline.DEFAULT_BUCKETS,
    trigger_once: bool = True,
    max_files_per_trigger: int = 8,
):
    """Start (and by default drain-once) the incremental pipeline.

    Returns the StreamingQuery. ``trigger_once`` processes all
    currently-available files then stops — the cron-friendly mode;
    set False for continuous micro-batching.
    """
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_path)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        process_micro_batch(batch_df, batch_id, out_root, run_id, buckets)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
