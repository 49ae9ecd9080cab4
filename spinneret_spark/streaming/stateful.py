"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY.md §2.10 streaming skin, part 3; task brief: "custom stateful
operators").

First-seen streaming dedup: a crawl stream re-fetches pages, and the
downstream KG pipeline only wants the FIRST copy of each content
fingerprint — across micro-batches, not just within one. The state
store keeps exactly one boolean per fingerprint seen, so state cost
is ~(distinct fingerprints × a few bytes) — the same asymptotics as
any exact-dedup structure, made explicit by the declared
``stateStructType`` instead of hidden inside ``dropDuplicates``.

Semantics:
* within and across batches, only the first row per ``key_col`` is
  emitted (ties inside one batch break to the smallest ``url`` so the
  output is deterministic for a given batch composition);
* with ``ttl_minutes`` set, a fingerprint's marker expires on a
  processing-time TTL and a later duplicate re-emits — the standard
  bounded-state dial. CAVEAT: this sandbox's Spark 4.1.2 throws an
  internal planner error (SQLSTATE XX000 NullPointerException in
  QueryExecution.withInternalError) whenever a stateful query uses
  ``GroupStateTimeout.ProcessingTimeTimeout``, so the TTL path is a
  seam here — written to the public API, gated off by default, and
  exercised the day the runtime accepts it (exactly like the PIL
  pixel-decode seam in operators/multimodal.py).

Scale shape: the stream shuffles once on the fingerprint (hash
partitioning of the state store); the per-group kernel is an Arrow
pandas function — no per-row Python (north rule).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

FIRST_SEEN_OUTPUT = (
    "fingerprint string, url string, warc_ts timestamp, text string, "
    "lang string"
)
_STATE_SCHEMA = "seen boolean"


def _first_seen_fn(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
    ttl_ms: int | None,
) -> Iterator[pd.DataFrame]:
    if ttl_ms is not None and state.hasTimedOut:
        # TTL expiry callback: drop the marker, emit nothing
        state.remove()
        return
    batches = [pdf for pdf in pdfs if len(pdf)]
    if state.exists:
        # fingerprint already emitted: swallow duplicates (and refresh
        # the expiry clock when a TTL is live)
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        return
    if not batches:
        return
    all_rows = pd.concat(batches, ignore_index=True)
    first = all_rows.sort_values("url", kind="stable").head(1)
    state.update((True,))
    if ttl_ms is not None:
        state.setTimeoutDuration(ttl_ms)
    yield first


def first_seen(
    pages: DataFrame,
    key_col: str = "fingerprint",
    ttl_minutes: int | None = None,
) -> DataFrame:
    """pages stream (or batch DF) with a ``fingerprint`` column →
    first row per fingerprint.

    ``ttl_minutes=None`` (default, and the only mode this sandbox's
    Spark executes — see module docstring) keeps markers forever;
    an integer arms the processing-time TTL.

    On a batch DataFrame the same contract is computed with
    ``min_by`` (no state store exists outside streaming) — that batch
    twin is what the tests compare the stream against.
    """
    cols = ["fingerprint", "url", "warc_ts", "text", "lang"]
    src = pages.select(*cols)
    if not src.isStreaming:
        return (
            src.groupBy(key_col)
            .agg(
                F.min_by(
                    F.struct(*[c for c in cols if c != key_col]), F.col("url")
                ).alias("_f")
            )
            .select(key_col, "_f.*")
        )
    ttl_ms = None if ttl_minutes is None else ttl_minutes * 60_000
    timeout = (
        GroupStateTimeout.NoTimeout
        if ttl_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )

    def fn(key, pdfs, state):
        yield from _first_seen_fn(key, pdfs, state, ttl_ms)

    return src.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=FIRST_SEEN_OUTPUT,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


def with_fingerprint(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """Content fingerprint = md5 of the text — one JVM expression,
    matching dedup.exact_dedup's key."""
    return pages.withColumn("fingerprint", F.md5(F.col(text_col)))


#: durable table name for the first-seen deduped pages stream.
FIRST_SEEN_TABLE = "pages_first_seen"


def stream_first_seen_pages_durable(
    spark: SparkSession,
    pages_path: str,
    out_root: str,
    checkpoint_dir: str,
    run_id: str,
    schema: str = (
        "page_id long, url string, warc_ts timestamp, html binary, "
        "text string, lang string"
    ),
    ttl_minutes: int | None = None,
    buckets: int = 16,
    max_files_per_trigger: int = 1,
    trigger_once: bool = True,
):
    """File-source stream → fingerprint → first-seen dedup → the
    manifest-governed ``pages_first_seen`` table, under the full
    streamed-append contract (replay no-op, crashed-attempt orphans
    invisible, vacuum-able). Returns the StreamingQuery.

    Bucketing by ``pmod(xxhash64(fingerprint), buckets)`` matches the
    state-store key, so the durable layout mirrors the state
    partitioning; read with ``sinks.read_streamed_consistent(spark,
    out_root, FIRST_SEEN_TABLE)``. The state store guarantees each
    fingerprint is EMITTED once; the per-batch marker guarantees each
    emission is LANDED once even across checkpoint replays.
    """
    from spinneret_spark.streaming.durable import durable_foreach_batch

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_path)
    )
    deduped = first_seen(with_fingerprint(stream), ttl_minutes=ttl_minutes)
    writer = (
        deduped.writeStream.outputMode("append")
        .foreachBatch(
            durable_foreach_batch(
                out_root, FIRST_SEEN_TABLE, run_id,
                key_cols=("fingerprint",), buckets=buckets,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
