"""kgforge benchmark: one workload per invocation, closed loop, one
caller.

    python3 perfbench/run.py --workload build --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. The benchmark sets up (Spark session,
seeded inputs, the workload's own set-up), then runs timed operations
one after another until ``--seconds`` have passed, checking the
outputs of every operation. The reported timings are those of the
first timed operation, the one every run has, so that how many operations
fit in ``--seconds`` never changes what is measured. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics untraced
(``--trace 0``), the per-layer metrics traced (``--trace 1``).
Everything the run writes goes to a private directory under
``.perfbench_work/`` in the checkout and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: set-up input generation is repeated this often; setup_s uses the median
PREPARE_REPS = 3

#: (name, unit, better) of the end-to-end metrics, printed untraced
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op_s", "s", "lower"),
]

#: phase spans: span name -> the metric ``<span>_s`` and engine metrics.
#: ``pipeline.canon_delta`` is the canonicalize call of an ``increment``
#: operation, ``pipeline.canonicalize_phase`` the one inside
#: ``pipeline.run``
PHASES = [
    "pipeline.extract_phase",
    "pipeline.canonicalize_phase",
    "pipeline.curation_phase",
    "streaming.micro_batch",
    "pipeline.canon_delta",
]

#: sections of the canonicalize phase, from the ``timings`` of its stats
CANON_SECTIONS = [
    "change_detect",
    "signatures",
    "band_plan",
    "verify_edges",
    "components_assignment",
    "rewrite_plan",
    "write_outputs",
    "write_state",
    "accounting",
]

#: extra sections of a delta run on the composed-assignment path
COMPOSE_SECTIONS = [
    "compose_gate",
    "compose_supernodes",
    "compose_affected_scan",
    "compose_new_docs",
    "compose_hashes",
]

_ENGINE_UNITS = {
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "task_busy_s": ("s", "lower"),
    "driver_serial_s": ("s", "lower"),
    "shuffle_mb": ("MB", "lower"),
    "spill_mb": ("MB", "lower"),
    "python_rows": ("rows", "lower"),
}


def per_layer_metrics() -> list[tuple[str, str, str]]:
    out = [(f"{p}_s", "s", "lower") for p in PHASES]
    out += [
        (f"{g}.{f}", unit, better)
        for g in PHASES
        for f, (unit, better) in _ENGINE_UNITS.items()
    ]
    out += [
        ("sinks.write_s", "s", "lower"),
        ("sinks.write_calls", "count", "lower"),
        ("sinks.manifest_s", "s", "lower"),
        ("sinks.manifest_calls", "count", "lower"),
        ("sinks.bytes_written_mb", "MB", "lower"),
        ("sinks.files_written", "count", "lower"),
        ("extract.extract_text_pages_per_s", "pages/s", "higher"),
        ("operators.dict_matcher_pages_per_s", "pages/s", "higher"),
        ("operators.minhash_docs_per_s", "docs/s", "higher"),
        ("extract.spark_efficiency", "ratio", "higher"),
        ("memory.peak_rss_mb", "MB", "lower"),
        ("memory.jvm_peak_rss_mb", "MB", "lower"),
        ("memory.python_peak_rss_mb", "MB", "lower"),
    ]
    out += [(f"canon.{s}_s", "s", "lower") for s in CANON_SECTIONS]
    out += [
        (f"canon_delta.{s}_s", "s", "lower")
        for s in CANON_SECTIONS + COMPOSE_SECTIONS
    ]
    out += [
        ("canon_delta.parts_reshingled_ratio", "ratio", "lower"),
        ("canon_delta.triples_parts_rewritten", "count", "lower"),
        ("canon_delta.assignment_composed", "ratio", "higher"),
    ]
    out += [
        ("op.build_pages_per_s", "pages/s", "higher"),
        ("trace.op_s", "s", "lower"),
    ]
    return out


# ----------------------------------------------------------- processes


def _process_tree(pid: int) -> list[int]:
    """``pid`` and every live descendant, read from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    tree, todo = [], [pid]
    while todo:
        p = todo.pop()
        tree.append(p)
        todo.extend(children.get(p, []))
    return tree


def _rss_by_kind(pids: list[int]) -> dict[str, int]:
    """Resident bytes of ``pids``, split into the JVM and the Python
    processes (this driver and the Spark Python workers)."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {"jvm": 0, "python": 0}
    for p in pids:
        try:
            with open(f"/proc/{p}/comm", encoding="utf-8") as fh:
                kind = "jvm" if fh.read().strip() == "java" else "python"
            with open(f"/proc/{p}/statm", encoding="utf-8") as fh:
                out[kind] += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return out


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the Spark driver JVM and its Python workers), sampled from /proc
    every ``interval`` seconds on a background thread. Peaks are kept
    for the JVM, for the Python processes, and for their sum."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = {"jvm": 0, "python": 0, "total": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval):
            rss = _rss_by_kind(_process_tree(me))
            rss["total"] = rss["jvm"] + rss["python"]
            for k, v in rss.items():
                self.peak[k] = max(self.peak[k], v)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def _stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until every child
    process (JVM, Python worker daemon) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 30
    while len(_process_tree(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


# --------------------------------------------------------------- tracing


def _install_wrappers(tracer) -> None:
    """Spans around the public calls of pipeline, streaming and sinks."""
    import inspect

    from perfbench.tracing import files_written_since
    from spinneret_spark import pipeline
    from spinneret_spark.sinks import tables as sinks
    from spinneret_spark.streaming import incremental

    def keep_stats(rec, args, kwargs, result):
        rec["attrs"]["stats"] = result

    def canon_span():
        if tracer.in_span("op.increment"):
            return "pipeline.canon_delta"
        return "pipeline.canonicalize_phase"

    tracer.wrap(pipeline, "run_extract_phase", "pipeline.extract_phase")
    tracer.wrap(pipeline, "run_canonicalize_phase", canon_span, after=keep_stats)
    tracer.wrap(pipeline, "run_curation_phase", "pipeline.curation_phase")
    tracer.wrap(incremental, "process_micro_batch", "streaming.micro_batch")

    def written(fn, dir_of):
        sig = inspect.signature(fn)

        def after(rec, args, kwargs, result):
            bound = sig.bind(*args, **kwargs).arguments
            files, nbytes = files_written_since(dir_of(bound), rec["start"])
            rec["attrs"]["files"] = files
            rec["attrs"]["bytes"] = nbytes

        return after

    eager = [
        ("write_partitioned", "sinks.write",
         lambda a: os.path.join(a["root"], a["table_name"])),
        ("append_lineage", "sinks.write", lambda a: sinks.lineage_path(a["root"])),
        ("append_manifest", "sinks.manifest",
         lambda a: sinks.manifest_path(a["root"])),
        ("append_manifest_multi", "sinks.manifest",
         lambda a: sinks.manifest_path(a["root"])),
    ]
    for attr, span, dir_of in eager:
        tracer.wrap(sinks, attr, span, after=written(getattr(sinks, attr), dir_of))
    for attr in (
        "committed_parts",
        "resume_state",
        "pages_state_tokens",
        "latest_canon_state",
        "manifest_run_exists",
        "committed_row_total",
        "stream_marker_runs",
        "stream_marker_map",
        "manifest_summary",
        "recorded_buckets",
    ):
        tracer.wrap(sinks, attr, "sinks.manifest")


def _per_layer(tracer, log, workload, cores: int, ceilings: dict) -> dict:
    """Per-layer values of the one traced operation (the first)."""
    from perfbench.tracing import engine_by_window
    from perfbench.workloads import BUCKETS

    def windows(name):
        return [(s["start"], s["end"]) for s in tracer.closed(name)]

    def span_s(name):
        return sum(e - s for s, e in windows(name))

    m: dict[str, float] = {}
    for p in PHASES:
        m[f"{p}_s"] = span_s(p)
        for f, v in engine_by_window(log, windows(p)).items():
            m[f"{p}.{f}"] = v

    writes, manifests = tracer.top_level("sinks.write"), tracer.top_level("sinks.manifest")
    m["sinks.write_s"] = sum(s["end"] - s["start"] for s in writes)
    m["sinks.write_calls"] = len(writes)
    m["sinks.manifest_s"] = sum(s["end"] - s["start"] for s in manifests)
    m["sinks.manifest_calls"] = len(manifests)
    m["sinks.bytes_written_mb"] = (
        sum(s["attrs"].get("bytes", 0) for s in writes + manifests) / 2**20
    )
    m["sinks.files_written"] = sum(s["attrs"].get("files", 0) for s in writes + manifests)

    for span, prefix, sections in (
        ("pipeline.canonicalize_phase", "canon", CANON_SECTIONS),
        ("pipeline.canon_delta", "canon_delta", CANON_SECTIONS + COMPOSE_SECTIONS),
    ):
        timings = [s["attrs"]["stats"].get("timings", {}) for s in tracer.closed(span)]
        for sec in sections:
            m[f"{prefix}.{sec}_s"] = sum(t.get(sec, 0.0) for t in timings)
    for s in tracer.closed("pipeline.canon_delta"):
        st = s["attrs"]["stats"]
        m["canon_delta.parts_reshingled_ratio"] = st["parts_reshingled"] / max(
            1, st["parts_total"]
        )
        # None means every output partition was rewritten
        m["canon_delta.triples_parts_rewritten"] = (
            BUCKETS if st["triples_parts_rewritten"] is None
            else st["triples_parts_rewritten"]
        )
        m["canon_delta.assignment_composed"] = float(st["assignment"] == "composed")

    for k in (
        "extract.extract_text_pages_per_s",
        "operators.dict_matcher_pages_per_s",
        "operators.minhash_docs_per_s",
    ):
        m[k] = ceilings.get(k, 0.0)
    extract_s = m["pipeline.extract_phase_s"]
    ceiling = ceilings.get("extract.extract_text_pages_per_s", 0.0)
    m["extract.spark_efficiency"] = (
        workload.n_pages / extract_s / (ceiling * cores)
        if extract_s and ceiling and workload.name == "build"
        else 0.0
    )
    return m


# ------------------------------------------------------------------ main


def _metric_block(values: dict, spec: list[tuple[str, str, str]]) -> dict:
    return {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit, _ in spec
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="default", help="default | tiny")
    ap.add_argument(
        "--scratch-check",
        action="store_true",
        help="also check canonicalize counts against a from-scratch "
        "canonicalize of the same root (one more canonicalize per operation)",
    )
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "spinneret_spark")):
        print(f"perfbench: spinneret_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # Python workers import the program from the checkout; every scratch
    # file Spark or Python writes stays in the work directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    import tempfile

    tempfile.tempdir = None
    cores = min(4, len(os.sched_getaffinity(0)))

    try:
        # memory is a per-layer metric; untraced runs keep the sampler
        # thread out of the timings
        with RssSampler() if args.trace else contextlib.nullcontext() as rss:
            result = _run(args, work, cores, rss)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


def _run(args, work: str, cores: int, rss: RssSampler | None) -> dict:
    """Set up, run the timed loop, and return the result object."""
    from perfbench.ceilings import kernel_ceilings
    from perfbench.tracing import Tracer, eventlog_conf, read_eventlog
    from perfbench.workloads import SIZES, WORKLOADS, Context, log
    from spinneret_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        "spark.ui.showConsoleProgress": "false",
    }
    tracer = Tracer() if args.trace else None
    if tracer:
        conf.update(eventlog_conf(os.path.join(work, "eventlog")))
        os.makedirs(os.path.join(work, "eventlog"))

    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    attempted = failed = 0
    try:
        ctx = Context(spark, work, args.seed, SIZES[args.size], tracer, args.scratch_check)
        workload = WORKLOADS[args.workload](ctx)
        prep_s = []
        for _ in range(PREPARE_REPS):
            t = time.perf_counter()
            workload.prepare()
            prep_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        workload.warm()
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(prep_s) + warm_s
        log(f"setup {setup_s:.2f}s (session {session_s:.2f}, "
            f"prepare {[round(x, 2) for x in prep_s]}, warm {warm_s:.2f})")

        if tracer:
            _install_wrappers(tracer)
            tracer.active = True
        op_s: list[float] = []
        start = time.perf_counter()
        while True:
            attempted += 1
            try:
                secs, ok = workload.op()
            except Exception as ex:  # a failed operation is counted, not fatal
                log(f"operation {attempted} raised {ex!r}")
                ok, secs = False, None
            if tracer:
                # only the first operation is traced, like op_s reports it
                tracer.active = False
            if ok:
                op_s.append(secs)
            else:
                failed += 1
            if time.perf_counter() - start >= args.seconds:
                break
        log(f"{attempted} operations, {failed} failed, op_s {[round(x, 3) for x in op_s]}")

        ceilings = {}
        if tracer:
            tracer.active = False
            tracer.unwrap_all()
            ceilings = kernel_ceilings(workload.raw_html_sample(100))
    finally:
        _stop_spark(spark)

    if failed:
        values = {}
    elif not tracer:
        values = {"setup_s": setup_s, "op_s": op_s[0]}
    else:
        log_data = read_eventlog(os.path.join(work, "eventlog"))
        values = _per_layer(tracer, log_data, workload, cores, ceilings)
        if workload.name == "build":
            values["op.build_pages_per_s"] = workload.n_pages / op_s[0]
        values["trace.op_s"] = op_s[0]
        values["memory.peak_rss_mb"] = rss.peak["total"] / 2**20
        values["memory.jvm_peak_rss_mb"] = rss.peak["jvm"] / 2**20
        values["memory.python_peak_rss_mb"] = rss.peak["python"] / 2**20
    spec = per_layer_metrics() if tracer else END_TO_END
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": _metric_block(values, spec),
    }


if __name__ == "__main__":
    sys.exit(main())
