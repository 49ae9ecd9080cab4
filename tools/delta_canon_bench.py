"""Measure incremental (delta) canonicalization vs full recompute.

Scenario (the crawl-increment shape the delta path is built for): a
corpus of N pages is extracted and canonicalized, then a ~10% increment
arrives as a streamed micro-batch that lands in a SMALL subset of
url-hash parts (crawl-batch-aligned increments; a scatter-append that
touches every part degrades delta to a full re-shingle by design —
the per-part state token is the invalidation unit). We report:

* ``t_canon_full_N``      — first canonicalize (full re-shingle, N pages)
* ``t_canon_noop``        — rerun with zero changes (parts_reshingled=0:
                            the re-band + CC + rewrite floor)
* ``t_canon_delta``       — after the increment (re-shingles only the
                            target parts)
* ``t_canon_full_N110``   — from-scratch recompute at N+10% for contrast
* equivalence counts      — delta vs from-scratch entity/edge/triple
                            counts must agree exactly

The increment's pages are mined from a candidate pool by url-hash so
they concentrate in ``--target-parts`` of ``--buckets`` parts — the
deterministic stand-in for "this crawl batch hit these shards".

Usage:  python tools/delta_canon_bench.py 400000 [--buckets 64]
            [--target-parts 6] [--cpus 8]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("n_pages", type=int)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--target-parts", type=int, default=6)
    ap.add_argument("--increment-frac", type=float, default=0.10)
    ap.add_argument(
        "--increment-docs",
        type=int,
        default=None,
        help="absolute increment size, overriding --increment-frac "
        "(use a small value, well under half the bucket count, to "
        "exercise the partition-granular triple-rewrite win region)",
    )
    ap.add_argument("--cpus", type=int, default=8)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from spinneret_spark import pipeline
    from spinneret_spark.session import get_spark
    from spinneret_spark.sources.corpusgen import generate_pages
    from spinneret_spark.streaming.incremental import process_micro_batch

    spark = get_spark(
        app_name="delta-canon-bench",
        master=f"local[{args.cpus}]",
        shuffle_partitions=32,
    )
    n = args.n_pages
    n_inc = (
        args.increment_docs
        if args.increment_docs is not None
        else int(n * args.increment_frac)
    )
    root = os.path.join(tempfile.mkdtemp(prefix="delta_bench_"), "kg")

    # pool is oversized so the target-part filter still yields n_inc
    pool_n = n + int(n_inc * args.buckets / args.target_parts * 1.5)
    pages = generate_pages(
        spark, pool_n, near_dup_fraction=0.02, include_reference_eml=False
    )
    base_path = root + "_base_pages"
    inc_path = root + "_inc_pages"
    pages.where(F.col("page_id") < n).write.mode("overwrite").parquet(
        base_path
    )
    (
        pages.where(F.col("page_id") >= n)
        .where(
            F.pmod(F.xxhash64("url"), F.lit(args.buckets))
            < args.target_parts
        )
        .limit(n_inc)
        .write.mode("overwrite")
        .parquet(inc_path)
    )
    base = spark.read.parquet(base_path)
    inc = spark.read.parquet(inc_path)
    n_inc_actual = inc.count()

    out: dict = {
        "n_pages": n,
        "n_increment": n_inc_actual,
        "buckets": args.buckets,
        "target_parts": args.target_parts,
        "cpus": args.cpus,
    }

    t0 = time.time()
    pipeline.run_extract_phase(spark, base, root, "e1", buckets=args.buckets)
    out["t_extract"] = round(time.time() - t0, 2)

    t0 = time.time()
    s1 = pipeline.run_canonicalize_phase(spark, root, "c1",
                                         buckets=args.buckets)
    out["t_canon_full_N"] = round(time.time() - t0, 2)
    assert s1["delta"] is False

    t0 = time.time()
    s2 = pipeline.run_canonicalize_phase(spark, root, "c2",
                                         buckets=args.buckets)
    out["t_canon_noop"] = round(time.time() - t0, 2)
    out["noop_parts_reshingled"] = s2["parts_reshingled"]

    t0 = time.time()
    process_micro_batch(inc, 0, root, "s1", buckets=args.buckets)
    out["t_stream_append"] = round(time.time() - t0, 2)

    t0 = time.time()
    s3 = pipeline.run_canonicalize_phase(spark, root, "c3",
                                         buckets=args.buckets)
    out["t_canon_delta"] = round(time.time() - t0, 2)
    out["assignment_mode"] = s3.get("assignment")
    out["delta_parts_reshingled"] = s3["parts_reshingled"]
    out["triples_parts_rewritten"] = s3.get("triples_parts_rewritten")
    out["delta_timings"] = s3.get("timings")
    assert s3["delta"] is True

    t0 = time.time()
    s4 = pipeline.run_canonicalize_phase(
        spark, root, "c4", buckets=args.buckets, incremental=False
    )
    out["t_canon_full_N110"] = round(time.time() - t0, 2)

    out["equivalent"] = all(
        s3[k] == s4[k]
        for k in ("n_entities", "n_edges", "n_canonical_triples")
    )
    out["n_canonical_triples"] = s4["n_canonical_triples"]
    out["speedup_delta_vs_full"] = round(
        out["t_canon_full_N110"] / out["t_canon_delta"], 2
    )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
