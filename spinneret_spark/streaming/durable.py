"""The durable streamed-append contract for ``foreachBatch`` — the one
writer every streaming sink lands through.

:func:`append_attempt` lands one micro-batch into one or more
manifest-governed tables: the extract stream
(``incremental.process_micro_batch``) writes ``triples`` and
``pages_text`` from one batch, and the watermarked windowed rollup
(``streaming/windowed.py``) and the stateful first-seen dedup
(``streaming/stateful.py``) each write one table through
:func:`append_micro_batch`.

Per micro-batch, in order (the Iceberg snapshot ordering):

1. **replay skip** — an attempt-unique ``BATCH_MARKER`` of the FIRST
   table whose ``{run}-b{id}-`` prefix matches means this batch
   already landed; the redelivered batch appends nothing
   (exactly-once across checkpoint replays). Every table's manifest
   rows land in one append, so the first table's marker stands for
   the whole batch;
2. **bucket guard** — the first table's recorded bucket count must
   equal this stream's (:func:`sinks.check_buckets`);
3. **pre-append intent** — a ``STREAM_INTENT`` manifest row per table
   lands BEFORE any data file, so even an attempt that crashes
   mid-append leaves evidence and readers filter its orphan rows;
4. **tagged append** — the batch is ``localCheckpoint()``-ed once
   (the upstream operator — the extract kernel, the state-store
   query — runs exactly once), then every table's rows carry the
   attempt id in ``_batch_run`` (a per-file dictionary-encoded
   constant, ~free) and append into ``part_id=`` dirs;
5. **marker commit** — each table's rows per part come from the
   parquet footers of the files its append created (the part dirs
   listed just before and after the write; every file of one Spark
   write carries that write's job uuid, so a crashed attempt's
   orphans never count), then ONE manifest write holds the per-part
   ``streamed`` rows, each table's ``BATCH_MARKER`` (rows_out = batch
   total, so ``manifest_summary`` sums streamed totals without a count
   job)
   and — first batch only — the first table's ``BUCKETS_META``
   record that makes a later bucket-count mismatch fail loudly.

A micro-batch covers only its own rows, never a whole ``part_id``
bucket — yet even a tiny batch touches nearly every bucket. Its part
rows therefore commit as ``"streamed"``, not ``"committed"``: a later
BATCH run's resume anti-join keys on ``"committed"`` and would
otherwise skip every unprocessed page in those parts.

Readers use :func:`spinneret_spark.sinks.tables.read_streamed_consistent`
(or ``read_committed(..., statuses=("committed", "streamed"))``):
rows from an attempt that crashed before its marker are invisible
forever, and ``vacuum_streamed`` reclaims their bytes.

Scale shape: the data path is one checkpoint job and one append job
per table (three jobs for the extract stream's two tables). The
per-batch driver work is two small manifest reads, two manifest
appends, the footers of the files the appends made, and a listing of
every file name in each table's part dirs before and after its
append: O(files on disk), which grows by up to one file per touched
part per batch until ``vacuum_streamed`` reclaims orphans or a batch
overwrite replaces a part — the same listing :func:`sinks.read_tagged`
and Spark's own file index make on every read of the table. State
(watermark windows / first-seen markers) lives in Spark's state
store; THIS layer only makes the emitted rows durable exactly-once.
"""

from __future__ import annotations

import re
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spinneret_spark.sinks import tables as sinks

DEFAULT_BUCKETS = 16


#: the job uuid Spark puts in every file name of one write
_WRITE_UUID = re.compile(
    r"^part-\d+-([0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12})"
)


def _appended_rows(out_root: str, table: str, before: dict) -> dict[int, int]:
    """Rows per part of the files one append created: the part dirs'
    files now, minus ``before`` (the listing taken just before the
    write), counted from their parquet footers. Orphans of a crashed
    earlier attempt are in ``before`` and never count. Every file of
    one Spark write carries that write's job uuid, so new files with
    two uuids mean another writer appended concurrently — which the
    single-writer contract rules out — and the counts would be
    wrong."""
    new = {
        p: names - before.get(p, set())
        for p, names in sinks.part_files(out_root, table).items()
    }
    new = {p: names for p, names in new.items() if names}
    uuids = set()
    for names in new.values():
        for n in names:
            m = _WRITE_UUID.match(n)
            uuids.add(m.group(1) if m else n)
    if len(uuids) > 1:
        raise RuntimeError(
            f"{table}: the append left files of {len(uuids)} writes "
            "(expected one); another writer appended concurrently"
        )
    return {
        p: n for p, n in sinks.footer_rows(out_root, table, new).items() if n
    }


def append_attempt(
    batch: DataFrame,
    batch_id: int,
    out_root: str,
    run_id: str,
    tables: dict[str, Callable[[DataFrame], DataFrame]],
    buckets: int,
) -> dict[str, int]:
    """Land one micro-batch into every table of ``tables`` (name → the
    projection of the checkpointed batch that table stores, each with
    a ``part_id`` column) under the streamed-append contract. Returns
    the rows appended per table — all 0 on a replay skip."""
    session = batch.sparkSession
    first = next(iter(tables))
    batch_run = f"{run_id}-b{batch_id}"
    # markers are attempt-unique ("{batch_run}-{uuid}"), so the replay
    # check is a prefix match; "-b1-" cannot collide with "-b11-"
    markers = sinks.stream_marker_runs(session, out_root, first)
    if any(m.startswith(batch_run + "-") for m in markers):
        return dict.fromkeys(tables, 0)
    prior = sinks.recorded_buckets(session, out_root, first)
    sinks.check_buckets(prior, buckets, out_root, first)
    attempt = f"{batch_run}-{uuid.uuid4().hex[:12]}"
    sinks.append_manifest_multi(
        session,
        out_root,
        attempt,
        [(t, -1, 0, sinks.STREAM_INTENT) for t in tables],
    )
    frozen = batch.localCheckpoint()
    totals = dict.fromkeys(tables, 0)
    rows = []
    for t, project in tables.items():
        df = project(frozen).withColumn("_batch_run", F.lit(attempt))
        before = sinks.part_files(out_root, t)
        sinks.append_partitioned(df, out_root, t)
        for p, n in sorted(_appended_rows(out_root, t, before).items()):
            totals[t] += n
            rows.append((t, p, n, "streamed"))
    # markers go in even for an empty batch, so its replay skips
    rows += [(t, -1, n, sinks.BATCH_MARKER) for t, n in totals.items()]
    if not prior:
        rows.append((first, buckets, 0, sinks.BUCKETS_META))
    sinks.append_manifest_multi(session, out_root, attempt, rows)
    return totals


def append_micro_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_root: str,
    table_name: str,
    run_id: str,
    key_cols: tuple[str, ...],
    buckets: int = DEFAULT_BUCKETS,
) -> int:
    """Land one micro-batch of ``batch_df`` into
    ``{out_root}/{table_name}`` — the one-table call of
    :func:`append_attempt`. Returns the number of rows appended (0 on
    a replay skip). ``key_cols`` drives the ``part_id`` bucketing —
    hash-of-key keeps a group's whole history co-located, which is
    what a downstream per-key consumer (compaction, top-k, state
    rebuild) wants to read without a shuffle.
    """
    keyed = batch_df.withColumn(
        "part_id", F.pmod(F.xxhash64(*key_cols), F.lit(buckets)).cast("int")
    )
    return append_attempt(
        keyed, batch_id, out_root, run_id, {table_name: lambda df: df},
        buckets,
    )[table_name]


def durable_foreach_batch(
    out_root: str,
    table_name: str,
    run_id: str,
    key_cols: tuple[str, ...],
    buckets: int = DEFAULT_BUCKETS,
):
    """The ``foreachBatch`` callable for a skin's ``writeStream``."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        append_micro_batch(
            batch_df, batch_id, out_root, table_name, run_id,
            key_cols, buckets,
        )

    return process
