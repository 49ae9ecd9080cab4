"""Canonicalization property tests: planted duplicate clusters must
merge; unrelated documents must not (SURVEY.md §5.2-4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spinneret_spark.operators.canonicalize import (
    canonical_entities,
    dedup_canonical_triples,
    entity_table,
    near_dup_edges,
    rewrite_triples_raw,
)
from spinneret_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_signatures,
    simhash_fingerprints,
    embedding_near_dup_pairs,
)


def _mk_docs(spark):
    # long enough that a 1-term substitution keeps shingle-Jaccard
    # ≈0.97 — LSH banding then finds the pair for any reasonable hash
    base = " ".join(
        f"w{i} spark query engine reads the parquet table segment {i}"
        for i in range(12)
    )
    near = base.replace("segment 7", "chunk 7")
    other = (
        "completely different words about forest ecology survey sites "
        "with annual species records observed near coastal stations today"
    )
    rows = [
        (1, base),
        (2, base),          # exact dup of 1
        (3, near),          # near dup of 1
        (4, other),
        (5, "tiny doc"),    # shorter than shingle width
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def docs(spark):
    return _mk_docs(spark)


def test_minhash_lsh_finds_planted_dups(spark, docs):
    sigs = minhash_signatures(docs)
    pairs = lsh_candidate_pairs(sigs)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert (4, 5) not in got and (1, 4) not in got


def test_near_dup_edges_verified(spark, docs):
    edges = near_dup_edges(docs, jaccard_threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in edges.collect()}
    assert got[(1, 2)] == 1.0
    assert (1, 3) in got or (2, 3) in got  # near-dup passes at 0.5
    assert all(k[0] != 4 and k[1] != 4 for k in got)


def test_canonical_assignment_and_entities(spark, docs):
    edges = near_dup_edges(docs, jaccard_threshold=0.5)
    assign = canonical_entities(docs, edges)
    got = {r["doc_id"]: r["canonical_id"] for r in assign.collect()}
    assert got[1] == got[2] == got[3] == 1
    assert got[4] == 4 and got[5] == 5
    ents = entity_table(assign).orderBy("canonical_id").collect()
    by_id = {r["canonical_id"]: r for r in ents}
    assert by_id[1]["n_members"] == 3
    assert by_id[1]["members"] == [1, 2, 3]


def test_rewrite_triples_merges_duplicates(spark, docs):
    triples = spark.createDataFrame(
        [
            ("doc://1", "mentions", "spark"),
            ("doc://2", "mentions", "spark"),   # same after rewrite
            ("doc://3", "mentions", "stream"),
            ("doc://4", "mentions", "forest"),
        ],
        "subj string, pred string, obj string",
    )
    edges = near_dup_edges(docs, jaccard_threshold=0.5)
    assign = canonical_entities(docs, edges)
    raw = rewrite_triples_raw(triples, assign)
    out = dedup_canonical_triples(raw).collect()
    rows = {(r["subj"], r["obj"]) for r in out}
    assert rows == {
        ("doc://1", "spark"),
        ("doc://1", "stream"),
        ("doc://4", "forest"),
    }


def test_simhash_identical_docs_equal_fingerprint(spark, docs):
    fp = simhash_fingerprints(docs)
    got = {r["id"]: r["simhash"] for r in fp.collect()}
    assert got[1] == got[2]
    assert got[1] != got[4]


def test_embedding_near_dup_pairs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),   # near dup of 1
        (3, [0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = embedding_near_dup_pairs(emb, threshold=0.99)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(1, 2)}


def test_asymmetric_band_join_matches_filtered_self_join(spark):
    """lsh_candidate_pairs_against(probe, all) must produce EXACTLY
    the self-join pairs touching a probe id — the delta path swaps
    one for the other, so any divergence is a wrong canonical graph."""
    from pyspark.sql import functions as F

    from spinneret_spark.operators.dedup import (
        lsh_candidate_pairs_against,
        minhash_signatures,
    )
    from spinneret_spark.sources.corpusgen import generate_pages

    docs = generate_pages(
        spark, 120, near_dup_fraction=0.4, include_reference_eml=False
    ).select(F.col("url").alias("doc_id"), "text")
    sigs = minhash_signatures(docs).localCheckpoint()
    probe = sigs.where(F.xxhash64("id") % 5 == 0)
    assert 0 < probe.count() < sigs.count()

    full = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(sigs, materialize=False).collect()
    }
    probe_ids = {r["id"] for r in probe.select("id").collect()}
    want = {
        p for p in full if p[0] in probe_ids or p[1] in probe_ids
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs_against(probe, sigs).collect()
    }
    assert got == want and want  # nonempty and exactly equal
