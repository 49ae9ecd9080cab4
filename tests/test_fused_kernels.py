"""Round-6 fused-kernel twins must be result-identical to the
expression plans they replaced: distinct/counting mentions (vs
posexplode + broadcast join + distinct/agg) and the sequential-fold
cosine scorer (vs the Catalyst aggregate HOF, bit-for-bit doubles)."""

from pyspark.sql import functions as F


def test_distinct_mentions_matches_join_plan(spark):
    from spinneret_spark.operators.mentions import (
        _fused_mentions,
        detect_mentions,
        distinct_mentions,
    )
    from spinneret_spark.sources.vocab import default_vocab

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    vocab = default_vocab(spark)
    want = sorted(
        tuple(r)
        for r in detect_mentions(docs, vocab)
        .select("doc_id", "subject_id", F.col("surface").alias("term"))
        .distinct()
        .collect()
    )
    got = sorted(
        tuple(r)
        for r in _fused_mentions(
            docs, vocab, "text", "doc_id", counts=False
        ).collect()
    )
    # join plan at 500 docs (below _KERNEL_MIN_DOCS)
    auto = sorted(tuple(r) for r in distinct_mentions(docs, vocab).collect())
    assert auto == want
    assert got == want and got


def test_mention_doc_counts_matches_occurrence_agg(spark):
    from spinneret_spark.operators.mentions import (
        _fused_mentions,
        detect_mentions,
        mention_doc_counts,
    )
    from spinneret_spark.sources.vocab import default_vocab

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    vocab = default_vocab(spark)
    want = sorted(
        tuple(r)
        for r in detect_mentions(docs, vocab)
        .groupBy("subject_id", F.col("surface").alias("term"))
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_mentions"),
        )
        .collect()
    )
    def rollup(m):
        return sorted(
            tuple(r)
            for r in m.groupBy("subject_id", "term")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_occ").alias("n_mentions"),
            )
            .collect()
        )

    got = rollup(_fused_mentions(docs, vocab, "text", "doc_id", counts=True))
    auto = rollup(mention_doc_counts(docs, vocab))  # join impl at 500 docs
    assert got == want and got
    assert auto == want


def test_fused_mentions_count_a_duplicated_vocab_row_once(spark):
    """A vocabulary row listed twice must not emit a mention twice
    (the join plan's ``.distinct()`` removes that duplicate) nor count
    its occurrences twice."""
    from conftest import TESTDATA_SF

    from spinneret_spark.operators.mentions import _fused_mentions, detect_mentions
    from spinneret_spark.sources.vocab import default_vocab

    docs = spark.read.parquet(f"{TESTDATA_SF}/documents.parquet")
    vocab = default_vocab(spark).distinct()
    dup = vocab.unionByName(vocab)
    term = F.col("surface").alias("term")
    want = sorted(
        tuple(r)
        for r in detect_mentions(docs, dup)
        .select("doc_id", "subject_id", term)
        .distinct()
        .collect()
    )
    got = sorted(
        tuple(r)
        for r in _fused_mentions(docs, dup, "text", "doc_id", counts=False).collect()
    )
    assert got == want and got
    true_counts = sorted(
        tuple(r)
        for r in detect_mentions(docs, vocab)
        .groupBy("doc_id", "subject_id", term)
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .collect()
    )
    counted = sorted(
        tuple(r)
        for r in _fused_mentions(docs, dup, "text", "doc_id", counts=True).collect()
    )
    assert counted == true_counts


def test_cosine_kernel_bit_identical(spark):
    from reference_impls import brute_force_topk_expr

    from spinneret_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    want = sorted(
        tuple(r) for r in brute_force_topk_expr(emb, queries, k=10).collect()
    )
    got = sorted(
        tuple(r)
        for r in brute_force_topk(emb, queries, k=10).collect()
    )
    # cos compared as raw floats: the kernel's fold must be
    # BIT-identical, not approximately equal
    assert got == want and got
