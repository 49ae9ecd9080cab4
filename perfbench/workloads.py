"""The benchmark's workloads. Each one generates its inputs from the
seed, sets up, and then runs timed operations, checking every output.

A workload exposes ``prepare()`` (input generation, repeatable),
``warm()`` (one-time set-up after the inputs exist) and ``op()``,
which returns ``(seconds, ok)``: the operation's wall time and whether
its outputs passed the checks.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import time
from contextlib import contextmanager, nullcontext

#: url-hash buckets (part_id values) of every root the benchmark builds
BUCKETS = 8

#: share of near-duplicate pages in the crawl: enough that every seed's
#: 60-page batch holds a few, so canonicalize has edges to verify
NEAR_DUP_FRACTION = 0.05

#: host of corpusgen's near-duplicate pages
DUP_HOST = "//dup-farm.example.org/"

#: input sizes: the default, and a tiny one for the smoke test
SIZES = {
    "default": {"build_pages": 60, "stream_pages": 8},
    "tiny": {"build_pages": 24, "stream_pages": 3},
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Context:
    """What every workload shares: the session, a private work
    directory inside the checkout, the seed, the sizes, the tracer
    (None when the run is untraced), and whether to also check delta
    canonicalize results against a from-scratch canonicalize."""

    def __init__(self, spark, work: str, seed: int, size: dict, tracer, scratch_check: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = size
        self.tracer = tracer
        self.scratch_check = scratch_check

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    @contextmanager
    def untraced(self):
        """Keep the calls made inside out of the per-layer spans."""
        active = self.tracer.active if self.tracer else False
        if self.tracer:
            self.tracer.active = False
        try:
            yield
        finally:
            if self.tracer:
                self.tracer.active = active

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)


class _Crawl:
    """Seeded raw crawl (html only, ~10-15 KB pages): ``build_pages``
    batch pages with a few near-duplicates, plus ``stream_pages`` new
    pages without any that all fall in one url-hash part. corpusgen composes ``text``
    independently of the html, so it is the oracle for
    ``pages_text.text``; the program gets the raw-crawl shape (html,
    empty text)."""

    #: whether the workload streams new pages after the batch
    streams = True

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.n_pages = ctx.size["build_pages"]
        self.n_stream = ctx.size["stream_pages"]
        self.pages_dir = ctx.path("pages")
        self.stream_dir = ctx.path("stream_pages")
        self.n_ops = 0

    def prepare(self) -> None:
        from pyspark.sql import functions as F

        from spinneret_spark.sources.corpusgen import generate_pages, write_pages

        spark, seed = self.ctx.spark, self.ctx.seed
        batch = generate_pages(
            spark,
            self.n_pages,
            seed=seed,
            near_dup_fraction=NEAR_DUP_FRACTION,
            include_reference_eml=False,
            size_scale=8,
        ).cache()
        raw = F.lit("").alias("text")
        part = F.pmod(F.xxhash64("url"), F.lit(BUCKETS))
        write_pages(batch.withColumn("text", raw), self.pages_dir, buckets=BUCKETS)
        rows = batch.select("url", "text", part.alias("part")).collect()
        self.batch_text = {r["url"]: r["text"] for r in rows}
        batch.unpersist()
        if not self.streams:
            return
        # the streamed pages go to a url-hash part that holds none of the
        # batch's near-duplicates (corpusgen puts them all on one host):
        # an increment in a part with a near-duplicate cluster runs about
        # 10% more driver jobs, so this keeps every seed's work alike (a
        # seed whose near-duplicates fill every part keeps seed mod BUCKETS)
        dup_parts = {r["part"] for r in rows if DUP_HOST in r["url"]}
        self.stream_part = next(
            (p for p in ((seed + i) % BUCKETS for i in range(BUCKETS)) if p not in dup_parts),
            seed % BUCKETS,
        )
        # the streamed pages: ids past the batch's, no near-duplicates;
        # the pool is large enough that one url-hash part holds n_stream
        # of them
        stream = (
            generate_pages(
                spark,
                self.n_pages + self.n_stream * BUCKETS * 2,
                seed=seed,
                near_dup_fraction=0.0,
                include_reference_eml=False,
                size_scale=8,
            )
            .where(F.col("page_id") >= self.n_pages)
            .where(part == self.stream_part)
            .orderBy("page_id")
            .limit(self.n_stream)
            .cache()
        )
        stream.withColumn("text", raw).write.mode("overwrite").parquet(self.stream_dir)
        rows = stream.select("url", "text").collect()
        self.all_text = {**self.batch_text, **{r["url"]: r["text"] for r in rows}}
        stream.unpersist()

    def raw_html_sample(self, n: int) -> list[bytes]:
        import pyarrow.parquet as pq

        tbl = pq.read_table(self.pages_dir, columns=["url", "html"]).to_pandas()
        return list(tbl.sort_values("url")["html"].head(n))

    # The checks read the tables with pyarrow, not Spark: the same raw
    # file-level read as ``sinks.read_table``, without Spark jobs that
    # would lengthen every run.

    def _text(self, root: str) -> dict[str, str]:
        tbl = _read(root, "pages_text", ["url", "text"])
        return dict(zip(tbl.column("url").to_pylist(), tbl.column("text").to_pylist()))

    def _canon_ok(self, root: str, stats: dict) -> bool:
        """The canonicalize counts the stats report equal the rows of
        the tables on disk."""
        on_disk = {
            k: _read(root, t, []).num_rows
            for k, t in (
                ("entities", "entities"),
                ("edges", "edges"),
                ("canonical_triples", "triples_canonical"),
            )
        }
        if on_disk != _canon_counts(stats):
            log(f"{self.name}: stats {_canon_counts(stats)} vs on disk {on_disk}")
            return False
        return True

    def _scratch_ok(self, root: str, stats: dict) -> bool:
        """Counts equal a from-scratch canonicalize of the same root
        state (run on a copy, outside the timed window)."""
        from spinneret_spark import pipeline

        if not self.ctx.scratch_check:
            return True
        copy = root + "_scratch"
        shutil.copytree(root, copy)
        try:
            with self.ctx.untraced():
                ref = pipeline.run_canonicalize_phase(
                    self.ctx.spark, copy, "scratch", buckets=BUCKETS, incremental=False
                )
        finally:
            shutil.rmtree(copy, ignore_errors=True)
        if _canon_counts(ref) != _canon_counts(stats):
            log(f"{self.name}: {_canon_counts(stats)} vs from-scratch {_canon_counts(ref)}")
            return False
        return True


class Build(_Crawl):
    """One operation builds the graph on a fresh root: ``pipeline.run``
    (extract -> detect -> link -> triples -> canonicalize) over the
    batch pages, then ``run_curation_phase``.

    Checks: ``pages_text.text`` equals corpusgen's text for every url;
    the entity, edge and canonical-triple counts the stats report equal
    the tables on disk, and the triple and curated counts are positive;
    every later operation of the run reports the same counts as the
    first.
    """

    name = "build"
    streams = False

    def warm(self) -> None:
        self.reference = None

    def op(self) -> tuple[float, bool]:
        from spinneret_spark import pipeline

        spark = self.ctx.spark
        self.n_ops += 1
        run_id = f"op{self.n_ops}"
        root = self.ctx.path(f"root_{run_id}")
        pages = spark.read.parquet(self.pages_dir)
        with self.ctx.span("op.build"):
            t0 = time.perf_counter()
            stats = pipeline.run(spark, pages, root, run_id, buckets=BUCKETS)
            cur = pipeline.run_curation_phase(spark, root, run_id, buckets=BUCKETS)
            secs = time.perf_counter() - t0
        counts = {
            "triples": int(stats["rows_written"]),
            **_canon_counts(stats["canonicalize"]),
            "curated": int(cur["n_curated"]),
        }
        if self.reference is None:
            self.reference = counts
        ok = (
            self._text(root) == self.batch_text
            and self._canon_ok(root, stats["canonicalize"])
            and counts["triples"] > 0
            and counts["curated"] > 0
            and counts == self.reference
            and self._scratch_ok(root, stats["canonicalize"])
        )
        shutil.rmtree(root, ignore_errors=True)
        if not ok:
            log(f"build: counts {counts} vs first operation {self.reference}, or text mismatch")
        return secs, ok


class Increment(_Crawl):
    """A graph kept current from a stream. Set-up builds the base root
    through the streaming path: ``process_micro_batch`` of the batch
    pages, then a first (full) ``run_canonicalize_phase``, and runs one
    warm-up operation. One operation, on a fresh copy of the base made outside the timed
    window, is ``process_micro_batch`` of the new pages (all in one
    url-hash part), then ``run_canonicalize_phase`` on its delta path
    (signature reuse, composed assignment, partition-granular
    rewrite): from the batch's arrival until the graph is current.

    Checks: ``pages_text.text`` equals corpusgen's text for every url,
    batch and streamed; the canonicalize counts the stats report equal
    the tables on disk; every later operation of the run reports the
    same counts as the first. With ``--scratch-check`` the counts must
    also equal a from-scratch canonicalize of the same root state.
    """

    name = "increment"

    def warm(self) -> None:
        from spinneret_spark import pipeline
        from spinneret_spark.streaming import incremental as streaming

        spark = self.ctx.spark
        self.base = self.ctx.path("base")
        streaming.process_micro_batch(
            spark.read.parquet(self.pages_dir), 0, self.base, "base", buckets=BUCKETS
        )
        stats = pipeline.run_canonicalize_phase(spark, self.base, "base-canon", buckets=BUCKETS)
        if self._text(self.base) != self.batch_text or not self._canon_ok(self.base, stats):
            raise RuntimeError("increment set-up: base root fails its checks")
        self.reference = None
        # one operation warms the delta path (its JVM code, the Python
        # workers) as a long-running stream has it warm, so the timed
        # operation measures no first-call cost; it is checked like the
        # timed ones and sets their reference counts
        if not self.op()[1]:
            raise RuntimeError("increment set-up: warm-up operation fails its checks")

    def op(self) -> tuple[float, bool]:
        from spinneret_spark import pipeline
        from spinneret_spark.streaming import incremental as streaming

        spark = self.ctx.spark
        self.n_ops += 1
        run_id = f"op{self.n_ops}"
        root = self.ctx.path(f"root_{run_id}")
        shutil.copytree(self.base, root)
        stream = spark.read.parquet(self.stream_dir)
        with self.ctx.span("op.increment"):
            t0 = time.perf_counter()
            streaming.process_micro_batch(stream, 1, root, run_id, buckets=BUCKETS)
            stats = pipeline.run_canonicalize_phase(
                spark, root, f"{run_id}-canon", buckets=BUCKETS
            )
            secs = time.perf_counter() - t0
        counts = _canon_counts(stats)
        if self.reference is None:
            self.reference = counts
        ok = (
            self._text(root) == self.all_text
            and self._canon_ok(root, stats)
            and counts == self.reference
            and self._scratch_ok(root, stats)
        )
        shutil.rmtree(root, ignore_errors=True)
        if not ok:
            log(f"increment: counts {counts} vs first operation {self.reference}, "
                "or text mismatch")
        return secs, ok


def _read(root: str, table: str, columns: list[str]):
    """The rows of every data file of ``table`` (a table with no rows
    may have no files at all)."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    top = os.path.join(root, table)
    files = sorted(
        f
        for f in glob.glob(os.path.join(top, "**", "*.parquet"), recursive=True)
        # hidden files and directories, as Spark skips them
        if not any(p.startswith((".", "_")) for p in os.path.relpath(f, top).split(os.sep))
    )
    if not files:
        return pa.table({c: pa.array([], pa.string()) for c in columns})
    return ds.dataset(files, format="parquet").to_table(columns=columns)


def _canon_counts(stats: dict) -> dict[str, int]:
    return {
        "entities": int(stats["n_entities"]),
        "edges": int(stats["n_edges"]),
        "canonical_triples": int(stats["n_canonical_triples"]),
    }


WORKLOADS = {w.name: w for w in (Build, Increment)}
