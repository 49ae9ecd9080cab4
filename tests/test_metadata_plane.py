"""The driver-side metadata plane: ``_manifest`` and ``_lineage`` are
read and written with pyarrow, and output row counts come from parquet
footers — no Spark job — while staying one parquet table with the
files Spark wrote before (INT96 ``committed_at``)."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from test_local_frame import process_tz

from spinneret_spark import pipeline
from spinneret_spark.sinks import tables as sinks

UTC = datetime.timezone.utc

#: instants around the New York fall-back (2026-11-01 06:00 UTC): as
#: naive New York wall clocks, the last two repeat the first two
T = [
    datetime.datetime(2026, 11, 1, h, m, tzinfo=UTC)
    for h, m in [(5, 10), (5, 40), (6, 10), (6, 40)]
]


def _spark_append(spark, root, rows):
    """The Spark manifest append the pyarrow writer replaced (INT96)."""
    sinks.local_frame(spark, rows, sinks.MANIFEST_SCHEMA).write.mode(
        "append"
    ).parquet(sinks.manifest_path(root))


def _arrow_append(root, rows):
    sinks._write_rows(sinks.manifest_path(root), rows, sinks.MANIFEST_SCHEMA)


def _jobs(spark):
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_mixed_writer_manifest_keeps_commit_order(spark, tmp_path, tz):
    """A manifest written partly by Spark and partly by pyarrow yields
    the real latest commit per part, state tokens and canonicalize
    snapshot in any process zone — including commits whose New York
    wall clocks run backwards across the fall-back hour."""
    root = str(tmp_path)
    pt, cs = "pages_text", sinks.CANON_STATE_TABLE
    spark_rows = [
        ("r0", pt, 0, "committed", 10, T[1]),
        ("r3", pt, 1, "committed", 13, T[3]),
        ("r4", pt, 2, "committed", 14, T[2]),
        ("c_old", cs, -1, sinks.CANON_PARAMS, 7, T[1]),
        ("c_old", cs, 0, sinks.CANON_COVERED, 70, T[1]),
    ]
    arrow_rows = [
        ("r1", pt, 0, "committed", 11, T[2]),
        ("r2", pt, 1, "committed", 12, T[0]),
        ("r5", pt, 2, "committed", 15, T[1]),
        ("s1", pt, 1, "streamed", 3, T[0]),
        ("s1", pt, -1, sinks.BATCH_MARKER, 3, T[0]),
        ("c_new", cs, -1, sinks.CANON_PARAMS, 8, T[2]),
        ("c_new", cs, 0, sinks.CANON_COVERED, 80, T[2]),
    ]
    with process_tz(spark, tz):
        _spark_append(spark, root, spark_rows)
        _arrow_append(root, arrow_rows)
        rows = sinks.manifest_rows(spark, root, [pt, cs])
        by_spark = dict(
            spark.read.parquet(sinks.manifest_path(root))
            .where((F.col("table_name") == pt) & (F.col("status") == "committed"))
            .groupBy("part_id")
            .agg(F.max_by("run_id", "committed_at"))
            .collect()
        )

    assert sorted(
        (r["run_id"], r["part_id"], r["status"], r["committed_at"]) for r in rows
    ) == sorted((r[0], r[2], r[3], r[5]) for r in spark_rows + arrow_rows)
    summary = sinks.summary_from_rows(rows, [pt])[pt]
    assert summary["part_totals"] == {0: 11, 1: 13, 2: 14}
    assert by_spark == {0: "r1", 1: "r3", 2: "r4"}
    h = sinks._token_hash
    assert sinks.state_tokens_from_rows(rows, pt) == {
        0: h("r1|"), 1: h("r3|s1"), 2: h("r4|"),
    }
    snap = sinks.canon_state_from_rows(rows)
    assert (snap["run_id"], snap["params"], snap["parts"]) == ("c_new", 8, {0: 80})


def test_lineage_of_both_writers_reads_as_one_table(spark, tmp_path):
    root = str(tmp_path)
    now = datetime.datetime.now(UTC)
    sinks.local_frame(
        spark, [("r0", "t", 0, "s", "rows_out", 1.0, now)], sinks.LINEAGE_SCHEMA
    ).write.mode("append").parquet(sinks.lineage_path(root))
    sinks.append_lineage(
        spark, root, "r1", "t", [(1, "s", "rows_out", 2), (2, "s", "rows_out", 3)]
    )
    lin = spark.read.parquet(sinks.lineage_path(root))
    assert lin.schema == StructType.fromDDL(sinks.LINEAGE_SCHEMA)
    assert sorted((r["run_id"], r["part_id"], r["value"]) for r in lin.collect()) == [
        ("r0", 0, 1.0), ("r1", 1, 2.0), ("r1", 2, 3.0),
    ]


def test_crash_before_rename_leaves_an_invisible_temp_file(
    spark, tmp_path, monkeypatch
):
    root = str(tmp_path)
    path = sinks.manifest_path(root)
    sinks.append_manifest_multi(spark, root, "r1", [("t", 0, 5)])

    def crash(src, dst):
        raise RuntimeError("crash between write and rename")

    monkeypatch.setattr(os, "replace", crash)
    with pytest.raises(RuntimeError):
        sinks.append_manifest_multi(spark, root, "r2", [("t", 1, 6)])
    monkeypatch.undo()

    assert any(n.startswith(".") and n.endswith(".tmp") for n in os.listdir(path))
    assert [r["run_id"] for r in sinks.manifest_rows(spark, root, ["t"])] == ["r1"]
    assert [r["run_id"] for r in spark.read.parquet(path).collect()] == ["r1"]
    assert sinks.resume_state(spark, root, "t") == ({0}, set())


def test_metadata_plane_submits_no_spark_job(spark, tmp_path):
    root = str(tmp_path)
    sizes = dict(zip(pipeline.CANON_OUTPUTS, (10, 11, 12)))
    for tbl, n in sizes.items():
        df = spark.range(n).withColumn("part_id", (F.col("id") % 3).cast("int"))
        sinks.write_partitioned(df, root, tbl, full_overwrite=True)
    want = {
        tbl: dict(sinks.read_table(spark, root, tbl).groupBy("part_id").count().collect())
        for tbl in sizes
    }

    before = _jobs(spark)
    footers = {tbl: pipeline._footer_rows(root, tbl) for tbl in sizes}
    partial = pipeline._footer_rows(root, "edges", [1, 99])
    sinks.append_manifest_multi(
        spark, root, "r1",
        [(tbl, p, n) for tbl, parts in footers.items() for p, n in parts.items()],
    )
    sinks.append_lineage(spark, root, "r1", "edges", [(0, "s", "rows_out", 4)])
    rows = sinks.manifest_rows(spark, root, list(sizes))
    summary = sinks.summary_from_rows(rows, list(sizes))
    counts, intact = pipeline._canon_outputs_intact(root, summary)
    assert _jobs(spark) == before

    assert footers == want
    assert partial == {1: want["edges"][1]}
    assert counts == sizes and intact
    # a manifest total that disagrees with the footers fails the probe
    summary["entities"]["committed_total"] -= 1
    assert pipeline._canon_outputs_intact(root, summary)[1] is False


def test_table_schema_is_what_inference_finds_with_no_job(spark, tmp_path):
    root = str(tmp_path)
    df = spark.range(6).select(
        F.col("id").cast("string").alias("doc_id"),
        F.col("id").alias("n"),
        (F.col("id") / 2).alias("x"),
        F.array(F.col("id").cast("string")).alias("members"),
        F.count(F.lit(1)).over(Window.partitionBy("id")).alias("c"),
        (F.col("id") % 3).cast("int").alias("part_id"),
    )
    sinks.write_partitioned(df, root, "t", full_overwrite=True)
    # a dot-prefixed file is not a data file
    open(os.path.join(root, "t", "part_id=0", ".tmp.parquet"), "w").close()

    before = _jobs(spark)
    schema = sinks.table_schema(root, "t")
    assert _jobs(spark) == before
    path = os.path.join(root, "t")
    assert (
        spark.read.schema(schema).parquet(path).schema
        == spark.read.parquet(path).schema
    )
    with pytest.raises(FileNotFoundError):
        sinks.table_schema(root, "absent")
