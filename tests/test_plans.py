"""Physical-plan audits (SURVEY.md §4.2): the scale-critical plan
properties are asserted, not eyeballed — pushdown reaches the scan,
the dictionary join broadcasts, the hot path has zero shuffles, and
Python crossings match the fused-UDF design."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spinneret_spark import pipeline
from spinneret_spark.operators.mentions import detect_mentions
from spinneret_spark.plans import (
    count_exchanges,
    count_python_crossings,
    has_broadcast_join,
    pushed_filters,
)
from spinneret_spark.sources.vocab import default_vocab

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_filter_pushdown_reaches_scan(spark, docs):
    df = docs.filter(F.col("lang") == "en").select("doc_id", "text")
    assert any("lang" in f for f in pushed_filters(df))


def test_mention_join_is_broadcast(spark, docs):
    m = detect_mentions(docs, default_vocab(spark))
    assert has_broadcast_join(m)
    # narrow + broadcast: zero shuffle exchanges before aggregation
    assert count_exchanges(m) == 0


def test_hot_path_single_python_crossing(spark):
    """extract+detect is ONE fused mapInPandas kernel: exactly one
    JVM↔Python crossing on the hot path (SURVEY.md §3.1)."""
    pages = spark.createDataFrame(
        [(1, "u1", None, bytearray(b"<p>spark table</p>"), "", "en")],
        "page_id long, url string, warc_ts timestamp, html binary, "
        "text string, lang string",
    )
    triples = pipeline.pages_to_triples(pipeline.with_part_id(pages))
    assert count_python_crossings(triples) == 1


def test_fill_text_single_crossing(spark):
    pages = spark.createDataFrame(
        [(1, "u1", None, bytearray(b"<p>hello</p>"), "", "en")],
        "page_id long, url string, warc_ts timestamp, html binary, "
        "text string, lang string",
    )
    assert count_python_crossings(pipeline.fill_text(pages)) == 1


def test_column_pruning_reaches_scan(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey")
    from spinneret_spark.plans import formatted_plan

    plan = formatted_plan(df)
    assert "l_orderkey" in plan
    # the fat columns are pruned from ReadSchema
    read_schema = [
        line for line in plan.splitlines() if "ReadSchema" in line
    ][0]
    assert "l_extendedprice" not in read_schema


def test_extract_phase_triples_derivation_is_jvm_only(spark, tmp_path):
    """After the fused kernel materializes pages_text (text + norms),
    the triples table must derive by pure-JVM explode — zero extra
    Python crossings on the second half of the phase."""
    from spinneret_spark.sources.corpusgen import generate_pages
    from spinneret_spark.sinks import tables as sinks

    root = str(tmp_path / "kg")
    pages = generate_pages(spark, 20, include_reference_eml=False)
    enriched = pipeline._fused_extract_detect_full(
        pipeline.with_part_id(pages, 4), ["spark", "table"]
    )
    sinks.write_partitioned(enriched, root, "pages_text", shuffle=False)
    text_tbl = sinks.read_table(spark, root, "pages_text")
    triples = pipeline._triples_projection(text_tbl)
    assert count_python_crossings(triples) == 0
    assert count_exchanges(triples) == 0


def test_topk_plans_have_no_window(spark):
    """brute_force_topk / ivf_topk rank via two-phase partition-local
    merge: a Window.partitionBy(q_id) would sort a whole query's score
    set in ONE task (per-query straggler at corpus N). Assert the
    executed plans carry no Window node."""
    from spinneret_spark.operators.similarity import (
        assign_cells,
        brute_force_topk,
        ivf_topk,
        kmeans_fit,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    import re

    def n_windows(df):
        # count Window NODES ("Window [...]"), not the benign
        # WindowGroupLimit pushdown nodes Catalyst adds around one
        plan = df._jdf.queryExecution().executedPlan().toString()
        return len(re.findall(r"\bWindow \[", plan))

    bf = brute_force_topk(emb, queries, k=5)
    assert n_windows(bf) == 0

    cents = kmeans_fit(emb, k=4, iters=1).localCheckpoint()
    from spinneret_spark.operators.similarity import assign_cells_multi

    am = assign_cells_multi(emb, cents, nprobe=2)
    assert n_windows(am) == 0

    # the only allowed Window is the tiny query→cell routing (|Q| rows);
    # corpus-side ranking must be windowless
    ivf = ivf_topk(emb, queries, cents, k=5, nprobe=2)
    assert n_windows(ivf) <= 1


def test_curation_flags_plan_is_jvm_only(spark, docs):
    """The curation funnel (dedup winner join + quality + sample
    gates) must never cross into Python — all gates are built-in
    expressions."""
    d = docs.select(
        F.lit(0).alias("part_id"),
        F.col("doc_id").cast("string").alias("url"),
        "lang",
        "text",
    )
    flagged = pipeline._curation_flags(d, 5, 0.98, 0.8)
    assert count_python_crossings(flagged) == 0


def test_media_meta_single_python_crossing(spark):
    """The media phase's only Python pass is the header-decode kernel:
    one mapInPandas crossing; every gate afterwards is a JVM filter."""
    from spinneret_spark.operators.multimodal import extract_media_meta
    from spinneret_spark.sources.mediagen import generate_media

    media = generate_media(spark, 20, num_partitions=2)
    meta = extract_media_meta(media).withColumn(
        "part_id", F.pmod(F.xxhash64("media_id"), F.lit(4)).cast("int")
    )
    gated = meta.where(
        F.col("width").isNotNull() & (F.col("width") >= 64)
    )
    # generate_media itself is one crossing; decode adds exactly one
    assert count_python_crossings(gated) == 2
    assert count_exchanges(gated) == 0
