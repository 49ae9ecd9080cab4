"""Cluster entry point: spark-submit the KG pipeline.

    zip -r spinneret_spark.zip spinneret_spark
    spark-submit --py-files spinneret_spark.zip \
        jobs/run_pipeline.py \
        --pages  s3://bucket/crawl/pages \
        --out    s3://bucket/kg \
        --run-id crawl-2024-26 \
        --buckets 4096

Creates/uses its own SparkSession from spark-submit's conf (master,
executor sizing come from the submit command, not this script), runs
the resumable extract→link→triples phase and the canonicalization
phase, and prints one JSON line of run stats. Re-submitting the same
command after a failure resumes from the last committed partition
(_manifest anti-join; see spinneret_spark/pipeline.py).

Sizing guidance for the 10^12-document tier: ``--buckets`` is the
checkpoint/commit unit — pick pages-per-bucket so one bucket's html
fits an executor (~1-4 GB of raw html per bucket); shuffle
partitions default to spark.sql.shuffle.partitions from the submit
conf; AQE re-coalesces at runtime.
"""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="pages table path/URI")
    ap.add_argument("--out", required=True, help="output root for kg tables")
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--buckets", type=int, default=1024)
    ap.add_argument("--no-canonicalize", action="store_true")
    ap.add_argument("--jaccard-threshold", type=float, default=0.8)
    ap.add_argument(
        "--curate",
        action="store_true",
        help="also run the training-data curation phase "
        "(dedup -> quality -> sample -> pack -> pages_curated)",
    )
    ap.add_argument("--sample-fraction", type=float, default=1.0)
    ap.add_argument("--pack-budget", type=int, default=4096)
    ap.add_argument(
        "--media",
        help="optional media table path/URI (media_id, kind, blob): runs "
        "the multimodal curation phase (header decode -> resolution/"
        "duration gates -> media_meta + media_curated)",
    )
    ap.add_argument("--min-width", type=int, default=64)
    ap.add_argument("--min-height", type=int, default=64)
    ap.add_argument("--max-duration-ms", type=int, default=60_000)
    ap.add_argument(
        "--vacuum",
        action="store_true",
        help="after the run, delete parquet files left by crashed "
        "streaming attempts on the triples and pages_text tables "
        "(they are already invisible to consistent reads; this "
        "reclaims the bytes — the expire-snapshots half of the "
        "Iceberg emulation)",
    )
    ap.add_argument(
        "--vacuum-grace-seconds",
        type=float,
        default=3600.0,
        help="files younger than this are never vacuumed — the "
        "liveness hedge that keeps a vacuum running concurrently "
        "with an active stream from deleting a mid-flight attempt's "
        "rows before its marker lands; keep it well above the "
        "stream's trigger interval (0 only when no stream is active)",
    )
    ap.add_argument(
        "--dedup-embeddings",
        default=None,
        metavar="PATH",
        help="parquet of (vec_id, embedding array<float>): run trained "
        "k-means-blocked embedding near-dup and write the pair list "
        "to the embedding_pairs table under --out",
    )
    ap.add_argument(
        "--fit-fraction",
        type=float,
        default=1.0,
        help="k-means trains on this md5-gated deterministic sample "
        "fraction (fit-on-sample / assign-on-corpus — the 100 TB IVF "
        "recipe); 1.0 fits on everything",
    )
    ap.add_argument("--embedding-threshold", type=float, default=0.4)
    ap.add_argument("--embedding-cells", type=int, default=8)
    ap.add_argument(
        "--delete-url",
        action="append",
        default=[],
        metavar="URL",
        help="delete this page url from the durable corpus tables "
        "before the run (repeatable; see also --delete-urls-file). "
        "Part-granular rewrite of only the url-hash partitions the "
        "pages live in; the run's canonicalize phase then heals the "
        "derived tables incrementally (right-to-be-forgotten)",
    )
    ap.add_argument(
        "--delete-urls-file",
        default=None,
        metavar="PATH",
        help="text file with one url per line to delete (bulk "
        "takedown batches), combined with any --delete-url flags",
    )
    ap.add_argument(
        "--compact-manifest",
        action="store_true",
        help="after the run, rewrite the append-only _manifest to its "
        "latest-state rows in one file (Iceberg rewrite_manifests "
        "emulation) — bounds the per-run driver collect and the "
        "small-file count as run history grows; do not combine with "
        "a concurrently active stream",
    )
    args = ap.parse_args()

    from spinneret_spark import pipeline

    spark = SparkSession.builder.appName(
        f"spinneret-kg-{args.run_id}"
    ).getOrCreate()
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")

    delete_urls = list(args.delete_url)
    if args.delete_urls_file:
        with open(args.delete_urls_file) as fh:
            delete_urls.extend(
                line.strip() for line in fh if line.strip()
            )
    del_stats = None
    if delete_urls:
        # purge first: the canonicalize phase inside the run below
        # then heals edges/entities/triples_canonical incrementally
        del_stats = pipeline.delete_pages(
            spark, args.out, delete_urls, args.run_id,
            buckets=args.buckets,
        )

    pages = spark.read.parquet(args.pages)
    stats = pipeline.run(
        spark,
        pages,
        args.out,
        args.run_id,
        buckets=args.buckets,
        canonicalize=not args.no_canonicalize,
        jaccard_threshold=args.jaccard_threshold,
    )
    if del_stats is not None:
        stats["deletion"] = del_stats
    if args.curate:
        stats["curation"] = pipeline.run_curation_phase(
            spark,
            args.out,
            args.run_id,
            buckets=args.buckets,
            sample_fraction=args.sample_fraction,
            pack_budget=args.pack_budget,
        )
    if args.media:
        stats["media"] = pipeline.run_media_phase(
            spark,
            spark.read.parquet(args.media),
            args.out,
            args.run_id,
            buckets=args.buckets,
            min_width=args.min_width,
            min_height=args.min_height,
            max_duration_ms=args.max_duration_ms,
        )
    if args.dedup_embeddings:
        from pyspark.sql import functions as F

        from spinneret_spark.operators.dedup import (
            blocked_embedding_near_dup_pairs,
        )
        from spinneret_spark.sinks import tables as sinks

        pairs = blocked_embedding_near_dup_pairs(
            spark.read.parquet(args.dedup_embeddings),
            threshold=args.embedding_threshold,
            k=args.embedding_cells,
            fit_fraction=args.fit_fraction,
        ).withColumn(
            "part_id",
            F.pmod(F.xxhash64("id_a"), F.lit(args.buckets)).cast("int"),
        )
        sinks.write_partitioned(
            pairs, args.out, "embedding_pairs", full_overwrite=True
        )
        n_pairs = (
            spark.read.parquet(f"{args.out}/embedding_pairs").count()
            if os.path.isdir(f"{args.out}/embedding_pairs")
            else 0
        )
        stats["embedding_pairs"] = n_pairs
    if args.vacuum:
        from spinneret_spark.sinks import tables as sinks

        # both streamed tables: pages_text is the fatter one (full
        # extracted text + norms vs triple rows), so leaking only its
        # orphans would defeat the point of the vacuum
        stats["vacuumed_files"] = sum(
            sinks.vacuum_streamed(
                spark, args.out, t,
                grace_seconds=args.vacuum_grace_seconds,
            )
            for t in ("triples", "pages_text")
        )
    if args.compact_manifest:
        from spinneret_spark.sinks import tables as sinks

        stats["manifest_compaction"] = sinks.compact_manifest(
            spark, args.out
        )
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
