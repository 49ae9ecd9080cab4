"""The canonicalize phase as a plan plus stages: its stats contract
(every path keeps the public keys and names its plan decisions) and a
seeded crash/delta sequence fuzzer — random batch appends, streamed
micro-batches, re-crawls and deletions, one crash injected at a commit
point per seed, and after every completed or healed run the canonical
outputs must equal a from-scratch recompute of the same root."""

from __future__ import annotations

import random
import shutil
import threading
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from perfbench.run import CANON_SECTIONS, COMPOSE_SECTIONS
from spinneret_spark import pipeline
from spinneret_spark.sinks import tables as sinks
from spinneret_spark.sources.corpusgen import generate_pages
from spinneret_spark.streaming.incremental import process_micro_batch

BUCKETS = 8

SUMMARY_KEYS = {
    "run_id", "n_entities", "n_edges", "n_canonical_triples",
    "parts_total", "parts_reshingled", "delta", "seconds",
}
FULL_KEYS = SUMMARY_KEYS | {
    "assignment", "timings", "triples_parts_rewritten",
    "entities_parts_rewritten",
}
SHORT_CIRCUIT_KEYS = SUMMARY_KEYS | {"short_circuit"}


def _outputs(spark, root):
    """Every column of the three canonical outputs, part_id-free."""
    out = {}
    for tbl in pipeline.CANON_OUTPUTS:
        if not pipeline._partition_ids(root, tbl):
            out[tbl] = []
            continue
        df = sinks.read_table(spark, root, tbl).drop("part_id")
        cols = sorted(df.columns)
        out[tbl] = sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.select(*cols).collect()
        )
    return out


def _counts(stats):
    return (
        stats["n_entities"], stats["n_edges"], stats["n_canonical_triples"]
    )


def _check_plan(stats, path, assignment=None):
    plan = stats["plan"]
    assert plan["path"]["choice"] == path
    assert isinstance(plan["path"]["reason"], str) and plan["path"]["reason"]
    if assignment is not None:
        assert plan["assignment"]["choice"] == assignment
        assert plan["assignment"]["reason"]
    assert all(
        isinstance(d["reason"], str) and d["reason"] for d in plan.values()
    )


def test_parts_of_skips_null_ids(spark):
    """A null id (the ``old_canonical`` of a composed run's new docs)
    maps to no partition; ``xxhash64(null)`` alone would be the seed 42,
    i.e. part 42 % buckets."""
    ctx = object.__new__(pipeline._CanonRun)
    ctx.spark = spark
    ctx.plan = SimpleNamespace(buckets=5)
    df = spark.createDataFrame([("a", None), ("b", "b")], "x string, y string")
    hashed = df.select(
        F.pmod(F.xxhash64("x"), F.lit(5)).alias("x"),
        F.pmod(F.xxhash64("y"), F.lit(5)).alias("y"),
    ).collect()
    want = sorted({hashed[0]["x"], hashed[1]["x"], hashed[1]["y"]})

    def parts(frame, *cols, where=None):
        return sorted(frame.agg(ctx.parts_of(*cols, where=where)).first()[0])

    assert parts(df, "x", "y") == want
    assert 42 % 5 not in want  # the null would have added a part
    assert parts(df.where(F.col("y").isNull()), "y") == []
    assert parts(df, "x", where=F.col("y").isNull()) == [hashed[0]["x"]]
    # the same hash over driver-side ids runs no Spark job
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    assert sorted(ctx.driver_parts(["a", "b", None])) == want
    assert set(tracker.getJobIdsForGroup(None)) == before


#: parts no base page lands in: the fuzzer's batch appends extract
#: into them (a batch run skips committed parts by design), and streamed
#: pages stay out of them, so no batch overwrite can drop a streamed page
RESERVED = (6, 7)
STEPS = 2


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    """One extracted and canonicalized root the tests copy, plus the
    page pool the later steps draw from."""
    pool = generate_pages(
        spark, 150, near_dup_fraction=0.25, include_reference_eml=False
    )
    rows = pool.withColumn(
        "p", F.pmod(F.xxhash64("url"), F.lit(BUCKETS)).cast("int")
    ).collect()
    free = [r for r in rows if r["p"] not in RESERVED]

    def frame(rs):
        return spark.createDataFrame(
            [tuple(r[c] for c in pool.schema.names) for r in rs], pool.schema
        )

    root = str(tmp_path_factory.mktemp("canon_plan") / "kg")
    pipeline.run_extract_phase(
        spark, frame(free[:80]), root, "e0", buckets=BUCKETS
    )
    scratch = pipeline.run_canonicalize_phase(
        spark, root, "c0", buckets=BUCKETS
    )
    return SimpleNamespace(
        root=root, frame=frame, rows=rows, pages=free[:80],
        free=free[80:], scratch=scratch,
    )


def _copy(base, tmp_path_factory, name):
    root = str(tmp_path_factory.mktemp(name) / "kg")
    shutil.copytree(base.root, root)
    return root


def test_stats_contract_on_every_path(spark, base, tmp_path_factory):
    root = _copy(base, tmp_path_factory, "canon_contract")
    short = pipeline.run_canonicalize_phase(spark, root, "c1", buckets=BUCKETS)
    process_micro_batch(
        base.frame(base.free[:6]), 0, root, "s1", buckets=BUCKETS
    )
    composed = pipeline.run_canonicalize_phase(
        spark, root, "c2", buckets=BUCKETS
    )
    pipeline.delete_pages(
        spark, root, [base.pages[3]["url"]], "d1", buckets=BUCKETS
    )
    general = pipeline.run_canonicalize_phase(
        spark, root, "c3", buckets=BUCKETS
    )

    assert set(short) == SHORT_CIRCUIT_KEYS | {"plan"}
    _check_plan(short, "short_circuit")
    sections = set(CANON_SECTIONS) | set(COMPOSE_SECTIONS)
    for stats, path, assignment in [
        (base.scratch, "scratch", "full"),
        (composed, "delta", "composed"),
        (general, "delta", "full"),
    ]:
        assert set(stats) == FULL_KEYS | {"plan"}
        assert set(stats["timings"]) <= sections
        assert stats["assignment"] == assignment
        _check_plan(stats, path, assignment)
    assert "compose_gate" in composed["timings"]
    # the deletion is caught by the additive probe, not by eligibility
    assert "vanished" in general["plan"]["assignment"]["reason"]


class _Crash(RuntimeError):
    pass


class _CrashAt:
    """Raise at the k-th call of ``sinks.write_partitioned`` or
    ``sinks.append_manifest_multi`` (counted together) while armed —
    the calls are the phase's commit points."""

    def __init__(self, monkeypatch, k: int) -> None:
        self.k, self.n, self.lock = k, 0, threading.Lock()
        for name in ("write_partitioned", "append_manifest_multi"):
            monkeypatch.setattr(sinks, name, self._wrap(getattr(sinks, name)))

    def _wrap(self, fn):
        def wrapped(*args, **kwargs):
            with self.lock:
                self.n += 1
                fire = self.n == self.k
            if fire:
                raise _Crash(f"injected crash at commit point {self.k}")
            return fn(*args, **kwargs)

        return wrapped



def _fuzz_sequence(spark, base, root, monkeypatch, seed):
    rng = random.Random(seed)
    free = list(base.free)
    rng.shuffle(free)
    by_part = {p: [r for r in base.rows if r["p"] == p] for p in RESERVED}
    reserved = list(RESERVED)
    live = {r["url"]: r for r in base.pages}
    crash_step = rng.randrange(STEPS)
    kinds, crashed = [], False
    for i in range(STEPS):
        kind = rng.choice(
            ["batch", "stream", "recrawl", "delete"] if reserved
            else ["stream", "recrawl", "delete"]
        )
        kinds.append(kind)
        if kind == "batch":
            rs = by_part[reserved.pop()]

            def mutate(rs=rs, i=i):
                pipeline.run_extract_phase(
                    spark, base.frame(rs), root, f"e{i}", buckets=BUCKETS
                )
        elif kind in ("stream", "recrawl"):
            if kind == "stream":
                rs, free = free[:6], free[6:]
            else:
                # one url re-crawled as an exact copy of another page
                # (a new near-dup edge), one with its content changed
                a, b = rng.sample(sorted(live), 2)
                donor = live[rng.choice(sorted(live))]["text"]
                rs = [
                    live[a].asDict() | {"text": donor},
                    live[b].asDict() | {"text": live[b]["text"] + " revised"},
                ]

            def mutate(rs=rs, i=i):
                process_micro_batch(
                    base.frame(rs), i, root, f"s{i}", buckets=BUCKETS
                )
        else:
            urls = rng.sample(sorted(live), 2)

            def mutate(urls=urls, i=i):
                pipeline.delete_pages(
                    spark, root, urls, f"d{i}", buckets=BUCKETS
                )

        if i == crash_step:
            _CrashAt(monkeypatch, rng.randint(1, 8))
        try:
            mutate()
            stats = pipeline.run_canonicalize_phase(
                spark, root, f"c{i}", buckets=BUCKETS
            )
        except _Crash:
            crashed = True
            # heal: redo the (idempotent, replay-safe) mutation, then
            # canonicalize again
            monkeypatch.undo()
            mutate()
            stats = pipeline.run_canonicalize_phase(
                spark, root, f"c{i}h", buckets=BUCKETS
            )
        monkeypatch.undo()
        if kind == "delete":
            for u in urls:
                live.pop(u)
        elif kind != "recrawl":
            live.update((r["url"], r) for r in rs)

        copy = root + f"_scratch{i}"
        shutil.copytree(root, copy)
        want = pipeline.run_canonicalize_phase(
            spark, copy, "x", buckets=BUCKETS, incremental=False
        )
        assert _outputs(spark, root) == _outputs(spark, copy), (seed, kinds)
        assert _counts(stats) == _counts(want), (seed, kinds)
        shutil.rmtree(copy)
    return kinds, crashed


# seed 1: a deletion crashing at the signature write, then a re-crawl;
# seed 7: a batch append crashing inside the output write wave, then a
# streamed micro-batch
@pytest.mark.parametrize("seed", [1, 7])
def test_crash_delta_sequence_matches_scratch(
    spark, base, tmp_path_factory, monkeypatch, seed
):
    root = _copy(base, tmp_path_factory, f"canon_fuzz_{seed}")
    kinds, crashed = _fuzz_sequence(spark, base, root, monkeypatch, seed)
    assert len(kinds) == STEPS and crashed


def test_crash_hook_wraps_the_manifest_append(
    spark, base, tmp_path_factory, monkeypatch
):
    """The fuzzer's hooks still wrap the (pyarrow) manifest append: a
    crash at the phase's last commit point leaves every output written
    but no manifest row of the run, and the rerun heals to the outputs
    of the uninterrupted run."""
    roots = [_copy(base, tmp_path_factory, f"canon_hook{i}") for i in (0, 1)]
    for root in roots:
        process_micro_batch(
            base.frame(base.free[:6]), 0, root, "s1", buckets=BUCKETS
        )
    counter = _CrashAt(monkeypatch, 0)  # counts, never fires
    pipeline.run_canonicalize_phase(spark, roots[0], "c1", buckets=BUCKETS)
    monkeypatch.undo()
    want = _outputs(spark, roots[0])

    _CrashAt(monkeypatch, counter.n)
    with pytest.raises(_Crash):
        pipeline.run_canonicalize_phase(spark, roots[1], "c1", buckets=BUCKETS)
    monkeypatch.undo()
    assert _outputs(spark, roots[1]) == want
    assert all(r["run_id"] != "c1" for r in sinks.manifest_rows(spark, roots[1]))
    pipeline.run_canonicalize_phase(spark, roots[1], "c1h", buckets=BUCKETS)
    assert _outputs(spark, roots[1]) == want
