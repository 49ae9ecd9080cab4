"""Reference implementations the production operators are pinned
against: the plans they replaced, kept here in their original
expression/join form (every step has a direct DuckDB twin), plus a
pure-Python model of the crc32 shingle kernel."""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spinneret_spark.functions.hashing import (
    MERSENNE_P,
    MINHASH_K,
    md5_int,
    minhash_value,
)
from spinneret_spark.functions.text import shingles_from_tokens, tokens
from spinneret_spark.functions.vectors import cosine
from spinneret_spark.operators.similarity import _topk_per_query


def doc_shingles(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingle) rows. Two-step projection: tokens materialized as
    a real column BEFORE the shingle window — an inline tokens()
    expression would be re-evaluated per shingle position
    (O(tokens²) per doc, see functions/text.shingles_from_tokens)."""
    toks = docs.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks")
    )
    return toks.select(
        "id", F.explode(shingles_from_tokens(F.col("toks"), n)).alias("shingle")
    )


def jaccard_pairs_join(
    docs: DataFrame,
    threshold: float,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact n-gram Jaccard pairs via the inverted-index plan: explode
    distinct md5-hashed shingles → self-equi-join on shingle →
    per-pair common count → |A∪B| from per-doc sizes. The plan shape
    of the DuckDB oracle ``Q_DEDUP_JACCARD_SQL``."""
    sh = doc_shingles(docs, id_col, text_col, n).select(
        "id", md5_int(F.col("shingle")).alias("shingle")
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, "shingle")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("common"))
    )
    return (
        common.join(sizes.withColumnsRenamed({"id": "id_a", "n_sh": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n_sh": "n_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures_expr(
    docs: DataFrame,
    k: int = MINHASH_K,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, mh0..mh{k-1}) as one explode + one grouped aggregation of
    ``min(minhash_value(md5_int(shingle), i))`` — the oracle-shaped
    MinHash over md5 shingles."""
    hashed = doc_shingles(docs, id_col, text_col, n).select(
        "id", md5_int(F.col("shingle")).alias("h")
    )
    aggs = [
        F.min(minhash_value(F.col("h"), i)).alias(f"mh{i}") for i in range(k)
    ]
    return hashed.groupBy("id").agg(*aggs)


def brute_force_topk_expr(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Exact cosine top-k scored by the ``cosine`` expression over a
    broadcast cross join, ranked by the production two-phase top-k."""
    pairs = embeddings.crossJoin(F.broadcast(queries)).where(
        F.col(id_col) != F.col(q_id_col)
    )
    scored = pairs.select(
        q_id_col, id_col, cosine(F.col(q_vec_col), F.col(vec_col)).alias("cos")
    )
    return _topk_per_query(scored, q_id_col, id_col, k)


def crc32_shingle_set(text: str | None, n: int = 3) -> list[int] | None:
    """The crc32 family of the shingle kernel in plain Python ints:
    crc32 per token mod p, the rolling ``w·31 + t`` window mod p,
    distinct values sorted; None for docs with fewer than n tokens."""
    toks = [t for t in text.split(" ") if t] if text else []
    if len(toks) < n:
        return None
    th = [zlib.crc32(t.encode("utf-8")) % MERSENNE_P for t in toks]
    out = set()
    for i in range(len(th) - n + 1):
        w = 0
        for t in th[i : i + n]:
            w = w * 31 + t
        out.add(w % MERSENNE_P)
    return sorted(out)
