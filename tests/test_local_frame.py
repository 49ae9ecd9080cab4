"""``sinks.local_frame``: driver-side rows as an Arrow local relation.

The frame must be indistinguishable from ``createDataFrame(rows, ddl)``
(values, schema, timestamp instants) while running no Spark job to
collect, and no other driver-list frame may be built in the package.
"""

from __future__ import annotations

import ast
import contextlib
import datetime
import os
import time

import pytest
from pyspark.sql import functions as F

from spinneret_spark.sinks import tables as sinks

DDL = "i int, n long, s string, b binary, t timestamp"

ROWS = [
    (1, None, "a", bytearray(b"\x00\xff"), datetime.datetime(2026, 3, 8, 2, 30)),
    (None, 2**40, None, None, None),
    (-7, 0, "ü", b"", datetime.datetime(2026, 6, 1, 12, 0, 0, 123456)),
    # the New York fall-back hour: ambiguous as a wall-clock value
    (3, -1, "", b"x", datetime.datetime(2026, 11, 1, 1, 30)),
]


@contextlib.contextmanager
def process_tz(spark, tz: str):
    """Run as a process whose local zone (Python and session) is ``tz``."""
    old_env = os.environ.get("TZ")
    old_conf = spark.conf.get("spark.sql.session.timeZone")
    os.environ["TZ"] = tz
    time.tzset()
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        yield
    finally:
        if old_env is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_env
        time.tzset()
        spark.conf.set("spark.sql.session.timeZone", old_conf)


def _micros(df):
    return [r[0] for r in df.select(F.unix_micros("t")).collect()]


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_rows_and_schema_equal_list_path(spark, tz):
    with process_tz(spark, tz):
        arrow = sinks.local_frame(spark, ROWS, DDL)
        listed = spark.createDataFrame(ROWS, DDL)
        assert arrow.schema == listed.schema
        assert arrow.collect() == listed.collect()
        assert _micros(arrow) == _micros(listed)


def test_manifest_instants_survive_a_non_utc_zone(spark, tmp_path):
    """``committed_at`` is the real commit instant whatever the process
    zone, so latest-commit-per-part order holds on a manifest written
    partly under UTC and partly under New York."""
    root = str(tmp_path)
    with process_tz(spark, "UTC"):
        sinks.append_manifest_multi(spark, root, "r_utc", [("t", 0, 5)])
    time.sleep(0.01)
    with process_tz(spark, "America/New_York"):
        lo = int(time.time() * 1e6)
        sinks.append_manifest_multi(spark, root, "r_ny", [("t", 0, 6)])
        hi = int(time.time() * 1e6)
        m = spark.read.parquet(sinks.manifest_path(root))
        got = dict(
            m.select("run_id", F.unix_micros("committed_at")).collect()
        )
        rows = sinks.manifest_rows(spark, root, ["t"])
    # datetime.now() has microsecond resolution; allow one tick
    assert lo - 1 <= got["r_ny"] <= hi + 1
    assert got["r_utc"] < got["r_ny"]
    assert max(rows, key=lambda r: r["committed_at"])["run_id"] == "r_ny"


def test_empty_input_keeps_schema(spark):
    empty = sinks.local_frame(spark, [], DDL)
    assert empty.schema == spark.createDataFrame([], DDL).schema
    assert empty.collect() == []


def test_collect_submits_no_job(spark):
    df = sinks.local_frame(spark, ROWS, DDL)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    df.collect()
    assert set(tracker.getJobIdsForGroup(None)) == before


def test_no_list_frames_in_package():
    """Every driver-built frame goes through ``local_frame``: a list
    ``createDataFrame`` runs Python tasks in every job that reads it."""
    pkg = os.path.join(os.path.dirname(__file__), "..", "spinneret_spark")
    offenders = []
    for dirpath, _, files in os.walk(pkg):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            allowed = set()
            for node in ast.walk(tree):
                if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                    allowed.update(map(id, ast.walk(node)))
            offenders += [
                f"{os.path.relpath(path, pkg)}:{node.lineno}"
                for node in ast.walk(tree)
                if isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and id(node) not in allowed
            ]
    assert offenders == []
