"""The materialization knob: `persist` mode must be a pure strategy
swap — identical results to the default localCheckpoint mode on every
path that uses the seam (LSH, canonicalize, media)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spinneret_spark.materialize import materialize


def test_unknown_mode_raises(spark):
    df = spark.range(3)
    with pytest.raises(ValueError, match="SPINNERET_MATERIALIZE"):
        materialize(df, mode="bogus")


def test_persist_mode_matches_local_end_to_end(
    spark, tmp_path_factory, monkeypatch
):
    from spinneret_spark import pipeline
    from spinneret_spark.sinks import tables as sinks
    from spinneret_spark.sources.corpusgen import generate_pages

    pages = generate_pages(
        spark, 60, include_reference_eml=False, near_dup_fraction=0.25
    ).cache()

    root_local = str(tmp_path_factory.mktemp("mat_local"))
    stats_local = pipeline.run(spark, pages, root_local, "r1", buckets=4)

    monkeypatch.setenv("SPINNERET_MATERIALIZE", "persist")
    root_persist = str(tmp_path_factory.mktemp("mat_persist"))
    stats_persist = pipeline.run(spark, pages, root_persist, "r1", buckets=4)
    monkeypatch.delenv("SPINNERET_MATERIALIZE")

    for k in ("n_entities", "n_edges", "n_canonical_triples"):
        assert stats_local["canonicalize"][k] == stats_persist["canonicalize"][k]
    a = sorted(
        r["det_id"]
        for r in sinks.read_table(spark, root_local, "triples_canonical")
        .select("det_id").collect()
    )
    b = sorted(
        r["det_id"]
        for r in sinks.read_table(spark, root_persist, "triples_canonical")
        .select("det_id").collect()
    )
    assert a == b and a
    pages.unpersist()


def test_persist_mode_matches_local_ngram_pairs(spark, monkeypatch):
    """The n-gram dedup queries under ``persist``: LSH candidate pairs
    over MinHash signatures, whose signature relation is the one they
    materialize."""
    from spinneret_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")

    def pairs():
        sigs = minhash_signatures(docs)
        return sorted(
            tuple(r) for r in lsh_candidate_pairs(sigs, max_bucket=None).collect()
        )

    want = pairs()
    monkeypatch.setenv("SPINNERET_MATERIALIZE", "persist")
    got = pairs()
    assert got == want and got
