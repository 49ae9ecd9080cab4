"""Partitioned sinks with snapshot-style commit semantics
(SURVEY.md S8/S6, §2.10; north rule "partitioned Iceberg
triple/entity/edge tables with per-partition lineage rows and
checkpointed resumability").

No Iceberg runtime jar ships in this sandbox (verified absent), so
the layout emulates Iceberg's commit contract on plain parquet:

* data lands in Hive-style ``part_id=`` directories via **dynamic
  partition overwrite** — rewriting a partition is atomic-enough
  (stale files replaced wholesale, never merged);
* a ``_manifest`` parquet table records one row per committed
  partition per run; a partition "exists" iff its manifest row does —
  readers and resume logic consult the manifest, mirroring Iceberg's
  snapshot file and the reference's never-silently-overwrite contract
  (reference sssom.py:33-35, workbook.py:96 ``mode="x"``);
* ``_lineage`` records per-partition per-stage metrics
  (rows in/out, timings) — the observability half of the rule.

The manifest and lineage are a driver-side metadata plane, as
Iceberg's manifests are: :func:`manifest_rows` reads the manifest with
pyarrow, every other manifest question is a pure function of those
rows, and appends write one parquet file with pyarrow under a
dot-prefixed temp name, then rename it into place (:func:`_write_rows`)
— no commit-protocol question or append runs a Spark job. The files
stay plain parquet that Spark reads as one table alongside files
Spark itself wrote. Frames that must join data (the compose remaps)
are Arrow local relations made by :func:`local_frame`: reading one
runs no Python-worker task.

On a cluster with the Iceberg jar, ``write_partitioned`` swaps for
``df.writeTo(table).overwritePartitions()`` behind the same call
signature; nothing upstream changes.
"""

from __future__ import annotations

import datetime
import functools
import json
import os
import uuid

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import IntegerType, StructType, TimestampType

MANIFEST_SCHEMA = (
    "run_id string, table_name string, part_id int, status string, "
    "rows_out long, committed_at timestamp"
)

LINEAGE_SCHEMA = (
    "run_id string, table_name string, part_id int, stage string, "
    "metric string, value double, recorded_at timestamp"
)


@functools.cache
def _schemas(ddl: str) -> tuple[StructType, pa.Schema]:
    """The Spark and Arrow schemas of a DDL string (Arrow timestamps
    are UTC instants), parsed once per DDL."""
    schema = StructType.fromDDL(ddl)
    return schema, to_arrow_schema(schema)


def _arrow_table(rows, ddl: str) -> pa.Table:
    """Driver-side ``rows`` (tuples in ``ddl`` column order) as an
    Arrow table typed from the DDL. Timestamps become UTC instants
    through ``TimestampType.toInternal``, the list path's own
    conversion (naive = Python's local time, aware = its instant)."""
    schema, arrow = _schemas(ddl)
    cols = list(zip(*rows, strict=True)) or [()] * len(schema.fields)
    arrays = []
    for f, t, col in zip(schema.fields, arrow.types, cols, strict=True):
        if isinstance(f.dataType, TimestampType):
            col = [f.dataType.toInternal(v) for v in col]
        arrays.append(pa.array(col, type=t))
    return pa.Table.from_arrays(arrays, schema=arrow)


def local_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """Driver-side ``rows`` (tuples in ``ddl`` column order) as a JVM
    local relation: the rows cross once as an Arrow table, so
    ``collect()`` runs no job and a job reading the frame runs no
    Python task. Values and schema equal ``createDataFrame(rows,
    ddl)``'s. Timestamps are passed as UTC instants: a naive Arrow
    column would instead be re-read in the session time zone, which
    raises on a wall-clock value in a DST fall-back hour."""
    return spark.createDataFrame(_arrow_table(rows, ddl), _schemas(ddl)[0])


def _write_rows(path: str, rows, ddl: str) -> None:
    """Append ``rows`` to the parquet table directory ``path`` as ONE
    file, atomically: pyarrow writes it under a dot-prefixed temp name
    (skipped by Spark's listing and by :func:`manifest_rows`), then
    ``os.replace`` gives it its final ``part-`` name. A crash leaves at
    most an invisible temp file. Timestamps are stored as
    ``timestamp[us, tz=UTC]``."""
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4()}.parquet"
    tmp = os.path.join(path, f".{name}.tmp")
    pq.write_table(_arrow_table(rows, ddl), tmp)
    os.replace(tmp, os.path.join(path, name))


def manifest_path(root: str) -> str:
    return os.path.join(root, "_manifest")


def lineage_path(root: str) -> str:
    return os.path.join(root, "_lineage")


def write_partitioned(
    df: DataFrame,
    root: str,
    table_name: str,
    shuffle: bool = True,
    full_overwrite: bool = False,
) -> None:
    """Partition-overwrite write of ``part_id=`` dirs.

    ``shuffle=False`` skips the pre-write repartition: correct either
    way (the dynamic-partition writer sorts rows by partition column
    within each task), and when the input is already laid out by
    part_id — a corpus written by ``corpusgen.write_pages``, or any
    resume re-run — the repartition would be a full-table shuffle
    bought for nothing but file-count hygiene.

    ``full_overwrite=True`` uses STATIC overwrite (the whole table
    path is replaced) — the right mode for whole-corpus tables that
    are recomputed per run (edges/entities/triples_canonical): a
    re-run that produces fewer partitions must not leave earlier
    runs' untouched ``part_id=`` dirs on disk to be mixed into reads.
    Incremental per-partition tables keep the dynamic default."""
    out = df.repartition("part_id") if shuffle else df
    writer = out.write.partitionBy("part_id")
    if not full_overwrite:
        writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.mode("overwrite").parquet(os.path.join(root, table_name))


def append_partitioned(df: DataFrame, root: str, table_name: str) -> None:
    """Append ``df`` into ``part_id=`` dirs — the streamed-append write.
    Micro-batches land in overlapping parts, so this NEVER overwrites:
    the batch path's dynamic overwrite would delete earlier batches'
    rows wholesale."""
    df.write.partitionBy("part_id").mode("append").parquet(
        os.path.join(root, table_name)
    )


def part_files(root: str, table_name: str, parts=None) -> dict[int, set[str]]:
    """Data file names per ``part_id=`` directory of a table
    (``.``/``_``-prefixed names are skipped, as Spark's listing skips
    them) — a driver-side listing, no Spark job. ``parts=None`` lists
    every partition on disk; a listed part with no directory is absent
    from the result."""
    path = os.path.join(root, table_name)
    if parts is None:
        parts = [
            int(n.split("=", 1)[1])
            for n in _listdir(path)
            if n.startswith("part_id=")
        ]
    out = {}
    for p in parts:
        d = os.path.join(path, f"part_id={p}")
        if os.path.isdir(d):
            out[p] = {n for n in _listdir(d) if not n.startswith((".", "_"))}
    return out


#: the footer key under which Spark stores a written file's schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def table_schema(root: str, table_name: str) -> StructType:
    """The schema a schema-inferring read of a Spark-written,
    ``part_id=``-partitioned table finds: the Spark schema stored in
    one data file's footer, plus ``part_id int`` — a driver-side
    footer read where inference runs a Spark job. The table's
    producer stays its one definition. Raises when no ``part_id=``
    dir holds a data file, as an inferring read would."""
    path = os.path.join(root, table_name)
    for d in sorted(n for n in _listdir(path) if n.startswith("part_id=")):
        for n in sorted(_listdir(os.path.join(path, d))):
            if n.startswith((".", "_")):
                continue
            meta = pq.read_metadata(os.path.join(path, d, n)).metadata
            return StructType.fromJson(
                json.loads(meta[_SPARK_SCHEMA_KEY])
            ).add("part_id", IntegerType())
    raise FileNotFoundError(f"{path}: no data file to take a schema from")


def footer_rows(root: str, table_name: str, files: dict) -> dict[int, int]:
    """Rows per part of ``files`` (part_id → file names, as
    :func:`part_files` returns them), summed from their parquet
    footers — metadata reads on the driver, no Spark job."""
    path = os.path.join(root, table_name)
    return {
        p: sum(
            pq.ParquetFile(
                os.path.join(path, f"part_id={p}", n)
            ).metadata.num_rows
            for n in names
        )
        for p, names in files.items()
    }


def read_table(spark: SparkSession, root: str, table_name: str) -> DataFrame:
    """RAW file-level read — no manifest consultation, no visibility
    filtering. Internal helper for accounting over just-written data;
    consumers wanting the consistent view must go through
    :func:`read_committed` (which hides uncommitted partitions,
    crashed-attempt streaming orphans, and replay duplicates)."""
    return spark.read.parquet(os.path.join(root, table_name))


def read_table_batch_rows(
    spark: SparkSession, root: str, table_name: str, schema
) -> DataFrame:
    """Rows written by the BATCH path only: any row carrying a
    streaming attempt tag (``_batch_run``) — streamed appends *and*
    crashed-attempt orphans — is excluded.

    ``schema`` is the table's batch schema (a StructType); the read
    uses it explicitly with the tag column appended, so files written
    without the tag column yield NULL for it and NO schema-merge
    footer job ever runs — this is the zero-extra-cost way for batch
    commit accounting to stay exact on an out_root that streaming has
    also appended to (the round-3 interleave accounting bug: counting
    leftover streamed rows into a part's batch commit makes a later
    resume skip that part's unprocessed pages)."""
    from pyspark.sql.types import StringType, StructField, StructType

    sch = StructType(
        list(schema.fields) + [StructField("_batch_run", StringType())]
    )
    return (
        spark.read.schema(sch)
        .parquet(os.path.join(root, table_name))
        .where(F.col("_batch_run").isNull())
        .drop("_batch_run")
    )


def _listdir(path: str) -> list[str]:
    try:
        return os.listdir(path)
    except OSError:
        return []


def read_tagged(
    spark: SparkSession, root: str, table_name: str
) -> tuple[DataFrame, bool] | None:
    """Every row of a table streaming may have appended to, with a
    string ``_batch_run`` column (NULL on batch-written rows), plus
    whether any surviving file carries that column — or None when no
    ``part_id=`` directory of the table holds a data file (an absent
    table, an empty one, or one whose every file a vacuum reclaimed).

    The one schema-merging read of the package: streamed files carry
    the attempt tag and batch files do not, and the tag column
    outlives neither a covering batch overwrite nor a vacuum. Each
    caller applies its own ``_batch_run`` predicate."""
    path = os.path.join(root, table_name)
    dirs = [
        os.path.join(path, n)
        for n in _listdir(path)
        if n.startswith("part_id=")
    ]
    if all(f.startswith((".", "_")) for d in dirs for f in _listdir(d)):
        return None
    data = spark.read.option("mergeSchema", "true").parquet(path)
    if "_batch_run" in data.columns:
        return data, True
    return data.withColumn("_batch_run", F.lit(None).cast("string")), False


def committed_parts(
    spark: SparkSession,
    root: str,
    table_name: str,
    latest_run_only: bool = False,
    statuses: tuple[str, ...] = ("committed",),
) -> DataFrame:
    """part_ids whose manifest row exists (= durable commits).

    ``latest_run_only`` scopes to the most recent run's commits — the
    right semantics for WHOLE-CORPUS tables (edges/entities/
    triples_canonical) that are recomputed per run: a re-run that
    produces fewer partitions must not leave earlier runs' untouched
    ``part_id=`` dirs visible (they'd silently mix stale and fresh
    data). Per-partition incremental tables (triples, pages_text)
    keep the default: every run's commits accumulate.

    ``statuses`` selects which commit kinds count. Batch commits are
    ``"committed"`` and mean "this ENTIRE part is durably processed" —
    the resume anti-join keys on exactly that. Streaming micro-batches
    commit as ``"streamed"``: an append that covers only the batch's
    own rows, never the whole part — so streamed rows become visible to
    readers that opt in (``statuses=("committed", "streamed")``)
    WITHOUT tricking a later batch run into skipping unprocessed pages
    in those parts (the round-2 interleave data-loss bug).
    """
    parts = committed_parts_from_rows(
        manifest_rows(spark, root, [table_name]), statuses, latest_run_only
    )
    return local_frame(spark, [(p,) for p in parts], "part_id int")


def committed_parts_from_rows(
    rows: list, statuses, latest_run_only: bool = False
) -> list[int]:
    """:func:`committed_parts` over already-read manifest rows of one
    table, as sorted part ids. The latest run is the max
    ``(committed_at, run_id)`` — the order every reader uses."""
    rows = [r for r in rows if r["status"] in statuses]
    if latest_run_only and rows:
        latest = max(rows, key=lambda r: (r["committed_at"], r["run_id"]))
        rows = [r for r in rows if r["run_id"] == latest["run_id"]]
    return sorted({r["part_id"] for r in rows})


def append_manifest(
    spark: SparkSession,
    root: str,
    run_id: str,
    table_name: str,
    part_rows: list[tuple[int, int]],
    status: str = "committed",
) -> None:
    """Record (part_id, rows_out) commits. Append-only, written AFTER
    the data lands — the ordering is the correctness argument: a crash
    between data write and manifest append leaves an uncommitted
    partition that the next run simply rewrites (idempotent because
    ids are deterministic and the write mode is dynamic overwrite)."""
    append_manifest_multi(
        spark,
        root,
        run_id,
        [(table_name, p, n) for p, n in part_rows],
        status=status,
    )


def append_manifest_multi(
    spark: SparkSession,
    root: str,
    run_id: str,
    rows: list[tuple],
    status: str = "committed",
) -> None:
    """Commit (table_name, part_id, rows_out) rows for SEVERAL tables
    in one manifest file (the canonicalize phase commits three tables
    back-to-back, and every commit must be one atomic rename so no
    reader sees half of it). Rows may carry a fourth element to override
    ``status`` per row (streaming mixes per-part ``"streamed"`` rows
    with its batch marker in one write)."""
    now = datetime.datetime.now(datetime.timezone.utc)
    data = [
        (run_id, r[0], int(r[1]), r[3] if len(r) > 3 else status, int(r[2]), now)
        for r in rows
    ]
    _write_rows(manifest_path(root), data, MANIFEST_SCHEMA)


#: status of the one-row-per-micro-batch marker that makes streaming
#: replays detectable (exactly-once skip), distinct from part commits.
BATCH_MARKER = "stream_batch_done"

#: status of the per-table bucket-count record: part_id carries the
#: bucket count a run's part_id mapping was computed under.
BUCKETS_META = "meta_buckets"

#: status of the pre-append intent row a streaming attempt writes
#: BEFORE its first data file lands — the Iceberg "snapshot exists
#: before data is reachable" ordering. Its existence is what lets
#: :func:`read_committed` treat even the very FIRST streaming attempt
#: on a root as evidence that tagged rows may be present: without it,
#: a first attempt crashing between the data append and the manifest
#: write leaves tagged files with zero manifest evidence, and the
#: default batch read would surface the orphan rows until a replay
#: landed evidence (the round-4 "evidence window").
STREAM_INTENT = "stream_intent"

#: pseudo-table name the canonicalize phase's snapshot bookkeeping is
#: keyed under in the manifest — never a real on-disk table, so no
#: read path can confuse its rows with data commits.
CANON_STATE_TABLE = "canon_state"

#: status of a per-part coverage row a canonicalize run records:
#: ``part_id`` is the pages_text part, ``rows_out`` carries that
#: part's state-token hash (:func:`pages_state_tokens`) at snapshot
#: time. The next incremental run re-derives current tokens and
#: re-processes exactly the parts whose token changed.
CANON_COVERED = "canon_covered"

#: status of the one-per-snapshot parameter-hash row (``rows_out`` =
#: hash of threshold/shingle/LSH/bucket config): a parameter change
#: invalidates every persisted signature and prior edge, so the next
#: run falls back to the full recompute.
CANON_PARAMS = "canon_params"

#: status of a per-part entity-ASSIGNMENT hash row: ``part_id`` is the
#: doc-hash part, ``rows_out`` carries bit_xor(xxhash64(doc#canonical))
#: over that part's docs at snapshot time. A changed hash means some
#: doc in the part moved to a different canonical entity (a component
#: merged or split), so the canonical-triple partitions its docs
#: contribute to must be rewritten; unchanged hash + unchanged content
#: token ⇒ the part's contribution to ``triples_canonical`` is
#: byte-identical and can be skipped by the incremental rewrite.
CANON_ASSIGN = "canon_assign"


def _token_hash(s: str) -> int:
    """Deterministic 63-bit int of a token string (Python ``hash`` is
    per-process salted; manifest rows must compare across runs)."""
    import hashlib

    return int.from_bytes(
        hashlib.md5(s.encode("utf-8")).digest()[:8], "big"
    ) & ((1 << 63) - 1)


def pages_state_tokens(
    spark: SparkSession, root: str, table_name: str = "pages_text"
) -> dict[int, int]:
    """Per-part content-state token for a manifest-governed table —
    the change-detection primitive for incremental canonicalization.

    A part's visible content is fully determined by (a) the LATEST
    batch commit that dynamically overwrote it and (b) the set of
    marker-valid streaming attempts that appended rows into it
    (orphan attempts are invisible to every reader and excluded, so a
    vacuum never changes a token). The token hashes exactly those two
    facts; token equality across runs ⇒ identical durable rows.

    One manifest read; O(manifest) driver work. Parts with durable
    files but NO manifest evidence (a batch extract that crashed
    pre-commit) get no token — callers must treat them as changed
    every run, because nothing proves them stable."""
    return state_tokens_from_rows(
        manifest_rows(spark, root, [table_name]), table_name
    )


def state_tokens_from_rows(rows: list, table_name: str) -> dict[int, int]:
    """:func:`pages_state_tokens` over already-read manifest rows."""
    rows = [r for r in rows if r["table_name"] == table_name]
    markers = {r["run_id"] for r in rows if r["status"] == BATCH_MARKER}
    latest: dict[int, tuple] = {}
    streamed: dict[int, set] = {}
    for r in rows:
        p = int(r["part_id"])
        if r["status"] == "committed":
            key = (r["committed_at"], r["run_id"])
            if p not in latest or key > latest[p]:
                latest[p] = key
        elif r["status"] == "streamed" and r["run_id"] in markers:
            streamed.setdefault(p, set()).add(r["run_id"])
    out = {}
    for p in set(latest) | set(streamed):
        commit_run = latest.get(p, (None, ""))[1]
        attempts = ",".join(sorted(streamed.get(p, ())))
        out[p] = _token_hash(f"{commit_run}|{attempts}")
    return out


def latest_canon_state(spark: SparkSession, root: str) -> dict | None:
    """The most recent canonicalize snapshot: ``{"run_id", "params",
    "parts": {part_id: token_hash}}`` — or None if no canonicalize run
    ever recorded one. One manifest read."""
    return canon_state_from_rows(
        manifest_rows(spark, root, [CANON_STATE_TABLE])
    )


def canon_state_from_rows(rows: list) -> dict | None:
    """:func:`latest_canon_state` over already-read manifest rows."""
    rows = [r for r in rows if r["table_name"] == CANON_STATE_TABLE]
    params = [r for r in rows if r["status"] == CANON_PARAMS]
    if not params:
        return None
    winner = max(params, key=lambda r: (r["committed_at"], r["run_id"]))
    run = winner["run_id"]
    return {
        "run_id": run,
        "params": int(winner["rows_out"]),
        "parts": {
            int(r["part_id"]): int(r["rows_out"])
            for r in rows
            if r["status"] == CANON_COVERED and r["run_id"] == run
        },
        # empty on snapshots that recorded no assignment hashes (pre-
        # CANON_ASSIGN roots, and roots last canonicalized with the
        # provenance state switched off) — callers treat that as
        # "assignment state unknown" and fall back to the full rewrite
        "assign": {
            int(r["part_id"]): int(r["rows_out"])
            for r in rows
            if r["status"] == CANON_ASSIGN and r["run_id"] == run
        },
    }


def manifest_run_exists(
    spark: SparkSession, root: str, run_id: str, table_name: str
) -> bool:
    """True iff ``run_id`` already wrote its batch marker for the table
    — the streaming replay check."""
    return run_id in stream_marker_runs(spark, root, table_name)


def resume_state(
    spark: SparkSession, root: str, table_name: str
) -> tuple[set[int], set[int]]:
    """(committed part ids, recorded bucket counts) in ONE manifest
    read — the resume hot path runs zero Spark jobs."""
    rows = manifest_rows(spark, root, [table_name])
    done = {r["part_id"] for r in rows if r["status"] == "committed"}
    buckets = {r["part_id"] for r in rows if r["status"] == BUCKETS_META}
    return done, buckets


def committed_row_total(
    spark: SparkSession, root: str, table_name: str
) -> int | None:
    """Total committed rows of a table straight from the manifest —
    None if the table has no committed rows. Latest commit per part
    wins (a part re-committed after a crash-rewrite must not double
    count). This is the O(manifest) substitute for a full-corpus
    ``count()`` job: at web scale, re-scanning 10^12 pages to learn a
    number the commit protocol already wrote down is a whole extra
    job bought for nothing. For streamed totals see
    :func:`manifest_summary` (and its mixed-root caveat)."""
    return manifest_summary(spark, root, [table_name])[table_name][
        "committed_total"
    ]


def stream_marker_runs(
    spark: SparkSession, root: str, table_name: str
) -> set[str]:
    """All attempt-unique streaming batch markers for the table.

    A marker names the attempt whose data append completed; attempts
    that crashed pre-marker are never named, which is what lets
    :func:`read_streamed_consistent` hide their orphan rows."""
    return stream_marker_map(spark, root, [table_name])[table_name]


def stream_marker_map(
    spark: SparkSession, root: str, table_names: list[str]
) -> dict[str, set[str]]:
    """``stream_marker_runs`` for SEVERAL tables in ONE manifest read —
    the extract-phase guard needs both tables' marker sets."""
    summ = manifest_summary(spark, root, table_names)
    return {t: summ[t]["markers"] for t in table_names}


def manifest_summary(
    spark: SparkSession, root: str, table_names: list[str]
) -> dict[str, dict]:
    """Every manifest fact the metric/consistency bookkeeping needs,
    for SEVERAL tables, in ONE read: per table a dict of
    ``committed_parts`` (set), ``committed_total`` (latest commit per
    part wins — the :func:`committed_row_total` rule — or None without
    commits), ``markers`` (attempt ids), and ``streamed_total`` (sum
    of each ``BATCH_MARKER``'s recorded batch total — exactly-once by
    construction: replays no-op, crashed attempts write no marker).

    Callers must NOT simply add committed+streamed totals on a MIXED
    root: a covering batch overwrite re-extracts streamed pages into
    batch commits while the append-only markers survive, so the
    marker total then describes superseded rows — check whether
    tagged files actually survive (:func:`read_durable_tagged`)."""
    rows = manifest_rows(spark, root, table_names)
    return summary_from_rows(rows, table_names)


def summary_from_rows(rows: list, table_names: list[str]) -> dict[str, dict]:
    """:func:`manifest_summary` over already-read manifest rows. Latest
    commit per part is the max ``(committed_at, run_id)`` — the same
    order :func:`pages_state_tokens` and :func:`compact_manifest` use,
    so a timestamp tie resolves identically everywhere."""
    out: dict[str, dict] = {
        t: {
            "committed_parts": set(),
            "committed_total": None,
            "part_totals": {},
            "markers": set(),
            "streamed_total": 0,
            "stream_evidence": False,
        }
        for t in table_names
    }
    latest: dict[tuple, tuple] = {}
    for r in rows:
        e = out.get(r["table_name"])
        if e is None:
            continue
        if r["status"] == "committed":
            e["committed_parts"].add(r["part_id"])
            key = (r["table_name"], r["part_id"])
            order = (r["committed_at"], r["run_id"])
            prev = latest.get(key)
            if prev is None or order > prev[0]:
                latest[key] = (order, r["rows_out"])
        elif r["status"] == BATCH_MARKER:
            e["markers"].add(r["run_id"])
            e["streamed_total"] += int(r["rows_out"])
            e["stream_evidence"] = True
        elif r["status"] in ("streamed", STREAM_INTENT):
            # any streaming trace — intent rows included, so even a
            # crashed FIRST attempt flips this on and readers filter
            # its orphan tagged rows
            e["stream_evidence"] = True
    for (tbl, p), (_, n) in latest.items():
        e = out[tbl]
        e["committed_total"] = (e["committed_total"] or 0) + int(n)
        e["part_totals"][int(p)] = int(n)
    return out


def read_streamed_consistent(
    spark: SparkSession, root: str, table_name: str
) -> DataFrame:
    """Row-level consistent view of a table fed by BOTH the batch path
    and streaming appends — the parquet-fallback equivalent of reading
    an Iceberg snapshot:

    * batch-written rows (no ``_batch_run`` tag) are visible iff their
      part's batch commit exists (part-level is exact there: dynamic
      overwrite rewrites whole partitions);
    * streamed rows are visible iff their attempt tag appears as a
      ``BATCH_MARKER`` — rows from an attempt that crashed between the
      data append and the marker write are invisible FOREVER (its
      replay runs under a fresh attempt id), so streamed reads are
      exactly-once even across crash replays.

    Thin alias for ``read_committed(..., statuses=("committed",
    "streamed"))`` — one implementation of the visibility rules lives
    in :func:`read_committed`.
    """
    return read_committed(
        spark, root, table_name, statuses=("committed", "streamed")
    )


def recorded_buckets(
    spark: SparkSession, root: str, table_name: str
) -> set[int]:
    """Distinct bucket counts any prior run recorded for the table.

    ``part_id = pmod(xxhash64(url), buckets)`` — manifest part commits
    are only meaningful under the bucket count that produced them, so
    resume logic must refuse to reuse commits recorded under a
    different count (the round-2 short-circuit hole)."""
    return resume_state(spark, root, table_name)[1]


def check_buckets(
    prior: set[int], buckets: int, root: str, table_name: str
) -> None:
    """Refuse to mix part_id mappings: raise ``ValueError`` when the
    bucket counts ``prior`` runs recorded for the table
    (:func:`recorded_buckets`) name another count than ``buckets`` —
    every resume decision and append would then land in parts that
    mean something else to every other reader."""
    if prior and prior != {buckets}:
        raise ValueError(
            f"{table_name} manifest at {root} was committed with "
            f"buckets={sorted(prior)}; this run uses buckets={buckets} — "
            "part_id mappings differ; rerun with the original bucket "
            "count or start a fresh out_root"
        )


def append_lineage(
    spark: SparkSession,
    root: str,
    run_id: str,
    table_name: str,
    metrics: list[tuple],
) -> None:
    """metrics: (part_id, stage, metric, value) rows."""
    now = datetime.datetime.now(datetime.timezone.utc)
    data = [
        (run_id, table_name, int(p), stage, metric, float(v), now)
        for p, stage, metric, v in metrics
    ]
    _write_rows(lineage_path(root), data, LINEAGE_SCHEMA)


def vacuum_streamed(
    spark: SparkSession, root: str, table_name: str,
    grace_seconds: float = 3600.0,
) -> int:
    """Delete data files left by streaming attempts that never wrote
    their ``BATCH_MARKER`` — the expire-snapshots half of the Iceberg
    emulation. Returns the number of files deleted.

    :func:`read_streamed_consistent` already hides those orphan rows
    forever (their attempt tag is named by no marker), but the parquet
    files themselves accumulate; this reclaims them. Safe by
    construction: every streamed file carries exactly ONE attempt's
    constant ``_batch_run`` value (the tag is stamped before the
    append job), and batch-written files have no tag column at all —
    so a file is deletable iff any of its rows carries an unmarked
    tag. Markers stay in the manifest, so a replayed batch still
    no-ops after a vacuum.

    ``grace_seconds`` is the liveness hedge (round-4 ADVICE, the
    Iceberg remove-orphan-files pattern): a streaming attempt that is
    MID-FLIGHT — data appended, marker not yet written — is
    indistinguishable from a crashed orphan by manifest evidence
    alone, so files younger than the grace period (by filesystem
    mtime) are skipped; a vacuum running concurrently with an active
    stream then cannot delete rows whose marker is about to land.
    Pass ``0`` only when the caller can assert no stream is active
    (the tests do; a cron vacuum should keep the default well above
    the trigger interval). Deletion goes through the driver's local
    filesystem here; on a cluster the same file list feeds the Hadoop
    FileSystem API (or Iceberg's ``expire_snapshots``)."""
    import time as _time

    from urllib.parse import unquote, urlparse

    markers = stream_marker_runs(spark, root, table_name)
    read = read_tagged(spark, root, table_name)
    if read is None or not read[1]:
        return 0  # no data file, or no streamed one: nothing to reclaim
    tagged = read[0].where(F.col("_batch_run").isNotNull())
    if markers:
        tagged = tagged.where(~F.col("_batch_run").isin(sorted(markers)))
    files = [
        r["f"]
        for r in tagged.select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    ]
    cutoff = _time.time() - grace_seconds
    deleted = 0
    for f in files:
        p = urlparse(f)
        local = unquote(p.path) if p.scheme in ("file", "") else f
        try:
            if os.path.getmtime(local) > cutoff:
                continue  # young enough to be a live in-flight attempt
        except OSError:
            continue  # already gone (concurrent vacuum / manual clean)
        os.remove(local)
        deleted += 1
    return deleted


def read_durable(
    spark: SparkSession,
    root: str,
    table_name: str,
    markers: set[str] | None = None,
    evidence: bool | None = None,
) -> DataFrame:
    """Every durable row of a table: all BATCH-written rows (manifest
    commit or not — dynamic overwrite makes each batch partition a
    self-consistent whole, and the whole-corpus phases deliberately
    consume uncommitted-but-complete parts) plus the exactly-once
    streamed rows (marker-valid attempts only — crashed-attempt
    orphans and replay duplicates stay invisible).

    This is the input view for whole-corpus recompute phases
    (canonicalize, curation): broader than :func:`read_committed`
    (which hides uncommitted batch parts) but still orphan-free. On a
    never-streamed root it is a plain parquet read — no schema merge,
    no filter. Pass ``markers`` (and ``evidence``) when the caller
    already read them (one manifest read instead of two)."""
    return read_durable_tagged(spark, root, table_name, markers, evidence)[0]


def read_durable_tagged(
    spark: SparkSession,
    root: str,
    table_name: str,
    markers: set[str] | None = None,
    evidence: bool | None = None,
) -> tuple[DataFrame, bool]:
    """:func:`read_durable` plus whether marker-valid streamed files
    actually SURVIVE on disk. Markers are append-only and outlive a
    covering batch overwrite that deletes every streamed file; the
    boolean is the signal that lets consumers skip streamed-root work
    (url reconciliation shuffles, count-the-corpus metric fallbacks)
    once supersession has made the root pure-batch again.

    ``evidence`` is the broader "streaming ever touched this root"
    flag (:func:`manifest_summary`'s ``stream_evidence`` — markers OR
    per-part streamed rows OR pre-append ``STREAM_INTENT`` rows). A
    root whose ONLY streaming trace is an intent row (the first
    attempt crashed before its marker landed) has zero marker-valid
    rows yet still holds orphan tagged files — the read must filter
    them out rather than fall through to the raw fast path."""
    if markers is None:
        summ = manifest_summary(spark, root, [table_name])[table_name]
        markers = summ["markers"]
        evidence = summ["stream_evidence"]
    if evidence is None:
        evidence = bool(markers)
    read = read_tagged(spark, root, table_name) if evidence else None
    if read is None:
        return read_table(spark, root, table_name), False
    data, tagged = read
    return (
        data.where(
            F.col("_batch_run").isNull()
            | F.col("_batch_run").isin(sorted(markers))
        ).drop("_batch_run"),
        tagged and bool(markers),
    )


def compact_manifest(spark: SparkSession, root: str) -> dict:
    """Rewrite the append-only ``_manifest`` to its latest-state rows
    in ONE parquet file — Iceberg's ``rewrite_manifests`` for this
    emulation (round-4 VERDICT item 4).

    The manifest grows one file per commit batch and one row per part
    per run; every reader reads it whole, so after ~10³ runs at
    ~10² parts the driver reads 10⁵ rows per question and the directory
    holds thousands of tiny files. Compaction keeps exactly the rows
    any visibility decision can still depend on:

    * per (table, part): the LATEST ``committed`` row — dynamic
      overwrite makes earlier commits dead; ``committed_at``/run_id
      are preserved so ``latest_run_only`` scoping and resume
      see identical state;
    * every ``BATCH_MARKER`` (the irreducible exactly-once ledger:
      replay-skip, row-level tag filtering, streamed totals) and every
      marker-valid ``streamed`` part row (per-part attribution for
      state tokens);
    * ``STREAM_INTENT`` rows only for attempts with NO marker — a
      crashed attempt's orphan files still need evidence; a completed
      attempt's intent is superseded by its marker;
    * one ``BUCKETS_META`` row per (table, count);
    * the LATEST canonicalize snapshot (params + covered rows) —
      older snapshots are dead;
    * any unrecognized status verbatim (forward compatibility).

    Swap is two directory renames with a crash-recovery preamble
    (restore a half-finished swap); on a cluster the same keep-set
    feeds an Iceberg metadata swap / atomic rename on the object
    store. Callers should not run compaction concurrently with a
    live stream or phase (same single-writer assumption as vacuum).
    Returns ``{"rows_before", "rows_after", "files_before",
    "files_after"}``."""
    import glob as _glob
    import shutil as _shutil

    path = manifest_path(root)
    old = path + "__old"
    # crash recovery from a previous interrupted swap
    if os.path.isdir(old):
        if not os.path.isdir(path):
            os.rename(old, path)  # crashed between the two renames
        else:
            _shutil.rmtree(old)  # crashed before cleanup
    rows = manifest_rows(spark, root)
    if not rows:
        return {
            "rows_before": 0,
            "rows_after": 0,
            "files_before": 0,
            "files_after": 0,
        }
    files_before = len(_glob.glob(os.path.join(path, "*.parquet")))

    known = {"committed", "streamed", BATCH_MARKER, STREAM_INTENT,
             BUCKETS_META, CANON_PARAMS, CANON_COVERED, CANON_ASSIGN}
    markers_by_table: dict[str, set] = {}
    for r in rows:
        if r["status"] == BATCH_MARKER:
            markers_by_table.setdefault(r["table_name"], set()).add(
                r["run_id"]
            )
    latest_commit: dict[tuple, tuple] = {}
    meta_seen: dict[tuple, tuple] = {}
    keep = []
    canon_rows = []
    for r in rows:
        key = None
        st = r["status"]
        if r["table_name"] == CANON_STATE_TABLE:
            canon_rows.append(r)
            continue
        if st == "committed":
            key = (r["table_name"], r["part_id"])
            order = (r["committed_at"], r["run_id"])
            if key not in latest_commit or order > latest_commit[key][0]:
                latest_commit[key] = (order, r)
            continue
        if st == "streamed":
            if r["run_id"] in markers_by_table.get(r["table_name"], ()):
                keep.append(r)
            continue
        if st == BATCH_MARKER:
            keep.append(r)
            continue
        if st == STREAM_INTENT:
            if r["run_id"] not in markers_by_table.get(r["table_name"], ()):
                keep.append(r)
            continue
        if st == BUCKETS_META:
            mkey = (r["table_name"], r["part_id"])
            if mkey not in meta_seen:
                meta_seen[mkey] = r
                keep.append(r)
            continue
        if st not in known:
            keep.append(r)
    keep.extend(r for _, r in latest_commit.values())
    # latest canonicalize snapshot only
    params = [r for r in canon_rows if r["status"] == CANON_PARAMS]
    if params:
        winner = max(params, key=lambda r: (r["committed_at"], r["run_id"]))
        keep.extend(
            r
            for r in canon_rows
            if r["run_id"] == winner["run_id"]
            and r["status"] in (CANON_PARAMS, CANON_COVERED, CANON_ASSIGN)
        )

    data = [
        (
            r["run_id"], r["table_name"], r["part_id"], r["status"],
            r["rows_out"], r["committed_at"],
        )
        for r in keep
    ]
    tmp = path + "__compact_tmp"
    if os.path.isdir(tmp):
        _shutil.rmtree(tmp)
    _write_rows(tmp, data, MANIFEST_SCHEMA)
    os.rename(path, old)
    os.rename(tmp, path)
    _shutil.rmtree(old)
    return {
        "rows_before": len(rows),
        "rows_after": len(data),
        "files_before": files_before,
        "files_after": len(_glob.glob(os.path.join(path, "*.parquet"))),
    }


#: Spark-written manifest files hold ``committed_at`` as INT96: read
#: as naive UTC microseconds, then cast to the schema's UTC instant
_PARQUET = ds.ParquetFileFormat(
    read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us")
)


def manifest_rows(
    spark: SparkSession, root: str, table_names: list[str] | None = None
) -> list[dict]:
    """Manifest rows (dicts) of SEVERAL tables — all tables when
    ``table_names`` is None — read on the driver with pyarrow, no Spark
    job. Files whose names start with ``.`` or ``_`` (in-flight temp
    files, ``_SUCCESS``) are skipped, as Spark's listing skips them.
    ``committed_at`` is a UTC-aware instant, so the latest-commit order
    is the real commit order whatever the process time zone and
    whichever writer made the file. The manifest is small (one row per
    part per run) — every visibility and change-detection decision
    derives from these rows (the ``*_from_rows`` helpers)."""
    path = manifest_path(root)
    if not os.path.isdir(path):
        return []
    schema = _schemas(MANIFEST_SCHEMA)[1]
    data = ds.dataset(path, schema=schema, format=_PARQUET)
    flt = (
        None
        if table_names is None
        else ds.field("table_name").isin(list(table_names))
    )
    return data.to_table(filter=flt).to_pylist()


def read_committed(
    spark: SparkSession,
    root: str,
    table_name: str,
    latest_run_only: bool = False,
    statuses: tuple[str, ...] = ("committed",),
) -> DataFrame:
    """THE consistent read: data ∩ manifest, exactly like reading an
    Iceberg snapshot. This is the one public entry point for reading a
    materialized table; :func:`read_table` is the raw internal helper.

    * Batch-written partitions are visible iff their manifest row with
      a status in ``statuses`` exists (part-level is exact there:
      dynamic overwrite rewrites whole partitions).
    * ``statuses=("committed", "streamed")`` additionally shows
      streaming appends at ROW level: only rows whose attempt tag a
      ``BATCH_MARKER`` names — never crashed-attempt orphans, never
      replay duplicates — matching :func:`read_streamed_consistent`'s
      exactly-once guarantee (a part-level view of streamed files
      would expose both).
    * On a root the manifest shows streaming has touched, even the
      default batch-only read filters out tagged rows, so streamed
      files appended into already-committed parts can never leak into
      a batch read. Every attempt writes a ``STREAM_INTENT`` row
      BEFORE its first data file, so evidence exists even when the
      very first attempt crashes pre-marker — no undetectable window.

    Pass ``latest_run_only=True`` for whole-corpus tables — see
    :func:`committed_parts`."""
    rows = manifest_rows(spark, root, [table_name])
    batch_statuses = [s for s in statuses if s != "streamed"]
    part_ids = committed_parts_from_rows(rows, batch_statuses, latest_run_only)
    markers = sorted(
        {r["run_id"] for r in rows if r["status"] == BATCH_MARKER}
    )
    want_streamed = "streamed" in statuses
    # intent rows count as evidence: an attempt writes its
    # STREAM_INTENT row BEFORE any data file, so even a first attempt
    # that crashes pre-marker leaves proof that tagged rows may exist
    # and the batch view below filters them out (the round-4 window)
    stream_evidence = bool(markers) or any(
        r["status"] in ("streamed", STREAM_INTENT) for r in rows
    )
    read = (
        read_tagged(spark, root, table_name)
        if want_streamed or stream_evidence
        else None
    )
    # at most ``buckets`` ids: a partition filter prunes the listing
    # and runs no broadcast job
    committed = F.col("part_id").isin(part_ids)
    if read is None:
        # pure-batch root: plain read, no schema merge, no tag filter
        return read_table(spark, root, table_name).where(committed)
    data = read[0]
    batch_rows = data.where(F.col("_batch_run").isNull() & committed)
    if want_streamed and markers:
        stream_rows = data.where(F.col("_batch_run").isin(markers))
        return batch_rows.unionByName(stream_rows).drop("_batch_run")
    return batch_rows.drop("_batch_run")
