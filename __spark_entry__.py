"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG query (documents → mentions →
linked triples) at sf0.001. ``queries()`` maps each implemented
operator from SURVEY.md §2 to a (spark, sf_dir) → DataFrame callable;
``oracle_sql()`` carries the exactly-equivalent DuckDB SQL. Every
computed column is aliased identically on both sides, and every
expression is engine-portable (exact integer/decimal arithmetic, md5
hashing, left-to-right float64 folds) so the driver's value-hash
comparison passes bit-for-bit — see spinneret_spark/functions/*.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# make the sibling package importable no matter where the driver's
# interpreter was launched from
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spinneret_spark.functions.hashing import (
    MINHASH_K,
    det_id_sql,
    md5_int_sql,
    minhash_value_sql,
)
from spinneret_spark.functions.text import STOPWORDS, tokens_sql
from spinneret_spark.functions.vectors import cosine, cosine_sql
from spinneret_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
)
from spinneret_spark.operators.linking import (
    MENTIONS_PRED,
    MENTIONS_PRED_LABEL,
)
from spinneret_spark.operators.mentions import (
    distinct_mentions,
    mention_doc_counts,
)
from spinneret_spark.operators.components import components_with_isolated
from spinneret_spark.operators.similarity import brute_force_topk
from spinneret_spark.operators.textstats import (
    fingerprint,
    langid_heuristic,
    quality_score,
    token_stats,
)
from spinneret_spark.sources.vocab import default_vocab, vocab_values_sql

DEFAULT_SF = "/root/testdata/sf0.001"

JACCARD_THRESHOLD = 0.5
CC_CHAR_GAP = 50
SESSION_GAP_US = 1800 * 1_000_000


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dec(col, p=18, s=2):
    return F.col(col).cast(f"decimal({p},{s})")


# ---------------------------------------------------------------- TPC-H-ish


def q_pricing_summary(spark, sf):
    """A1/A-agg + P-filter: exact decimal sums cast to double."""
    li = _t(spark, sf, "lineitem").filter(F.col("l_discount") <= 0.05)
    disc_price = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(18,2)") - _dec("l_discount")
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.col("sum_qty") / F.col("count_order"))
    )


Q_PRICING_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS sum_disc_price,
       COUNT(*) AS count_order,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
FROM lineitem WHERE l_discount <= 0.05
GROUP BY l_returnflag, l_linestatus
"""


def q_segment_top_orders(spark, sf):
    """J-joins + agg + deterministic top-k (broadcast dim)."""
    cust = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    revenue = F.sum(
        _dec("l_extendedprice")
        * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    ).cast("double")
    # selective side first: the BUILDING-segment filter keeps ~1/5 of
    # customers, so orders ⋈ broadcast(cust) shrinks orders below the
    # broadcast threshold and lineitem — the big side — is never
    # shuffled at all (was: SMJ li⋈orders with two corpus exchanges,
    # then the filter). Inner joins + exact decimal sums, so the
    # reorder cannot change a single output value.
    sel_orders = orders.join(
        F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]
    ).select("o_orderkey", "o_orderpriority")
    return (
        li.join(
            F.broadcast(sel_orders), li["l_orderkey"] == sel_orders["o_orderkey"]
        )
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(revenue.alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


Q_SEGMENT_SQL = """
SELECT o_orderkey, o_orderpriority,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def q_nation_revenue(spark, sf):
    """5-way star join: region→nation→customer→orders→lineitem."""
    region = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf, "nation")
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    revenue = F.sum(
        _dec("l_extendedprice")
        * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    ).cast("double")
    dims = (
        cust.join(
            F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"]
        ).join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    )
    # same reorder as q_segment_top_orders: ASIA keeps ~1/5 of
    # customers, so orders ⋈ broadcast(dims) first, then broadcast the
    # shrunken orders to lineitem — the big side is never shuffled
    sel_orders = orders.join(
        F.broadcast(dims), orders["o_custkey"] == dims["c_custkey"]
    ).select("o_orderkey", "n_name")
    return (
        li.join(
            F.broadcast(sel_orders), li["l_orderkey"] == sel_orders["o_orderkey"]
        )
        .groupBy("n_name")
        .agg(revenue.alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


Q_NATION_SQL = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


def q_topk_per_priority(spark, sf):
    """W3 window top-k per group with total ordering."""
    orders = _t(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rn")
    )


Q_TOPK_SQL = """
SELECT o_orderpriority, o_orderkey, o_totalprice, rn
FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders)
WHERE rn <= 3
"""


def q_distinct_users(spark, sf):
    """A2/A3 distinct aggregates."""
    ev = _t(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
        F.min("user_id").alias("min_user"),
        F.max("user_id").alias("max_user"),
    )


Q_DISTINCT_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events,
       MIN(user_id) AS min_user, MAX(user_id) AS max_user
FROM events GROUP BY event_type
"""


def q_customers_without_orders(spark, sf):
    """SO2 set difference via anti join (customers with no URGENT
    order — the unfiltered variant is empty in this corpus)."""
    cust = _t(spark, sf, "customer").select("c_custkey").distinct()
    urgent = (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return cust.join(urgent, "c_custkey", "left_anti")


Q_NO_ORDERS_SQL = """
SELECT DISTINCT c_custkey FROM customer
EXCEPT
SELECT DISTINCT o_custkey AS c_custkey FROM orders
WHERE o_orderpriority = '1-URGENT'
"""


def q_events_json(spark, sf):
    """F9 JSON extraction + exact integer aggregation."""
    ev = _t(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.count(k).alias("n_with_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


Q_JSON_SQL = """
SELECT event_type,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       COUNT(CAST(json_extract(props, '$.k') AS BIGINT)) AS n_with_k,
       MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type
"""


def q_sessionize(spark, sf):
    """Gap-based sessionization (batch form of stateful streaming)."""
    ev = _t(spark, sf, "events")
    # interval arithmetic works on TIMESTAMP and TIMESTAMP_NTZ alike
    # and is timezone-free, so both engines see identical gaps
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(F.col("ts")).over(w)
    is_new = F.when(
        prev.isNull()
        | (F.col("ts") > prev + F.expr("INTERVAL 1800 SECONDS")),
        1,
    ).otherwise(0)
    s = ev.withColumn("session_seq", F.sum(is_new).over(w))
    per_session = s.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n")
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n").alias("n_events"),
        F.max("n").alias("max_session_events"),
    )


Q_SESSION_SQL = """
WITH lagged AS (
  SELECT user_id, event_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), marked AS (
  SELECT user_id, event_id, ts,
         CASE WHEN prev_ts IS NULL
                   OR ts > prev_ts + INTERVAL 1800 SECONDS
              THEN 1 ELSE 0 END AS is_new
  FROM lagged
), sessions AS (
  SELECT user_id,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM marked
), per_session AS (
  SELECT user_id, session_seq, COUNT(*) AS n
  FROM sessions GROUP BY user_id, session_seq
)
SELECT user_id, COUNT(*) AS n_sessions, CAST(SUM(n) AS BIGINT) AS n_events,
       MAX(n) AS max_session_events
FROM per_session GROUP BY user_id
"""


# ------------------------------------------------------------------- KG core

_TOKS = tokens_sql("text")
_UNNEST_TOKENS = (
    f"SELECT doc_id, unnest({_TOKS}) AS tok FROM documents"
)


def q_kg_mentions(spark, sf):
    """E7 mention detection — fused distinct-mention kernel (one Arrow
    crossing; per-doc dedup IS the global distinct because doc_id is
    part of the key, so the posexplode/broadcast-join/distinct-shuffle
    plan collapses; results identical, pytest-pinned)."""
    docs = _t(spark, sf, "documents")
    vocab = default_vocab(spark)
    return distinct_mentions(docs, vocab)


Q_KG_MENTIONS_SQL = f"""
SELECT DISTINCT t.doc_id, v.subject_id, t.tok AS term
FROM ({_UNNEST_TOKENS}) t
JOIN {vocab_values_sql()} v ON t.tok = v.subject_label
"""


def q_kg_triples(spark, sf):
    """J1 linking → (subj, pred, obj) triples with deterministic ids."""
    docs = _t(spark, sf, "documents")
    vocab = default_vocab(spark)
    m = distinct_mentions(docs, vocab)
    subj = F.concat(F.lit("doc://"), F.col("doc_id").cast("string"))
    return m.select(
        subj.alias("subj"),
        F.lit(MENTIONS_PRED_LABEL).alias("pred"),
        F.col("term").alias("obj"),
        F.lit(MENTIONS_PRED).alias("pred_id"),
        F.col("subject_id").alias("obj_id"),
        F.sha2(
            F.concat_ws("#", subj, F.lit(MENTIONS_PRED), F.col("subject_id")),
            256,
        ).alias("det_id"),
    )


Q_KG_TRIPLES_SQL = f"""
SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS subj,
       '{MENTIONS_PRED_LABEL}' AS pred,
       term AS obj,
       '{MENTIONS_PRED}' AS pred_id,
       subject_id AS obj_id,
       {det_id_sql("'doc://' || CAST(doc_id AS VARCHAR)", f"'{MENTIONS_PRED}'", "subject_id")} AS det_id
FROM (
  SELECT DISTINCT t.doc_id, v.subject_id, t.tok AS term
  FROM ({_UNNEST_TOKENS}) t
  JOIN {vocab_values_sql()} v ON t.tok = v.subject_label
)
"""


#: Multi-word vocabulary for the trie-matcher checked query. Terms are
#: TOKEN-DISJOINT by construction (no token appears in two terms, no
#: term self-overlaps), so leftmost-longest greedy matching emits
#: exactly the set of positional occurrences — which is what the plain
#: token-window join in the DuckDB oracle computes. Width 2 and 3 both
#: exercised.
MULTIWORD_TERMS = ["table scan", "hash join", "window agg", "key order sort"]


def q_kg_mentions_multiword(spark, sf):
    """E7/U3 multi-word mention detection with character offsets:
    detect_mentions_trie (iterator pandas UDF, DictMatcher built once
    per worker) over the documents table."""
    from spinneret_spark.operators.mentions import detect_mentions_trie

    docs = _t(spark, sf, "documents")
    m = detect_mentions_trie(docs, MULTIWORD_TERMS)
    return m.select("doc_id", F.explode("mentions").alias("mn")).select(
        "doc_id",
        F.col("mn.norm").alias("norm"),
        F.col("mn.start").alias("start_pos"),
        F.col("mn.end").alias("end_pos"),
    )


_MW2 = ", ".join(
    f"'{t}'" for t in MULTIWORD_TERMS if len(t.split()) == 2
)
_MW3 = ", ".join(
    f"'{t}'" for t in MULTIWORD_TERMS if len(t.split()) == 3
)

# char offsets from token positions: documents.text is strictly
# single-space-joined [a-z0-9]+ tokens (verified corpus-wide), so
# token start = running_sum(len + 1) - len - 1
Q_KG_MENTIONS_MULTIWORD_SQL = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), p AS (
  SELECT doc_id, unnest(toks) AS tok, unnest(range(len(toks))) AS idx
  FROM t
), pos AS (
  SELECT doc_id, tok, idx,
         CAST(SUM(length(tok) + 1) OVER (PARTITION BY doc_id ORDER BY idx
              ROWS UNBOUNDED PRECEDING) - length(tok) - 1 AS INTEGER) AS start
  FROM p
), m2 AS (
  SELECT a.doc_id, a.tok || ' ' || b.tok AS norm,
         a.start AS start_pos,
         b.start + CAST(length(b.tok) AS INTEGER) AS end_pos
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.idx = a.idx + 1
  WHERE a.tok || ' ' || b.tok IN ({_MW2})
), m3 AS (
  SELECT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS norm,
         a.start AS start_pos,
         c.start + CAST(length(c.tok) AS INTEGER) AS end_pos
  FROM pos a
  JOIN pos b ON a.doc_id = b.doc_id AND b.idx = a.idx + 1
  JOIN pos c ON a.doc_id = c.doc_id AND c.idx = a.idx + 2
  WHERE a.tok || ' ' || b.tok || ' ' || c.tok IN ({_MW3})
)
SELECT doc_id, norm, start_pos, end_pos FROM m2
UNION ALL
SELECT doc_id, norm, start_pos, end_pos FROM m3
"""


def q_kg_entity_degree(spark, sf):
    """A-agg over mention occurrences: entity degrees."""
    docs = _t(spark, sf, "documents")
    vocab = default_vocab(spark)
    # fused per-doc partial aggregate: one (doc, term) row with its
    # occurrence count crosses the shuffle instead of one row per
    # token occurrence; count(*)/sum(n_occ) over doc-rows equals
    # countDistinct(doc_id)/count(*) over occurrence rows exactly
    m = mention_doc_counts(docs, vocab)
    return m.groupBy("subject_id", "term").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_occ").alias("n_mentions"),
    )


Q_KG_DEGREE_SQL = f"""
SELECT v.subject_id, t.tok AS term,
       COUNT(DISTINCT t.doc_id) AS n_docs, COUNT(*) AS n_mentions
FROM ({_UNNEST_TOKENS}) t
JOIN {vocab_values_sql()} v ON t.tok = v.subject_label
GROUP BY v.subject_id, t.tok
"""


def q_kg_entity_rollup(spark, sf):
    """Capped entity-member rollup via the SALTED two-phase top-k
    (functions/skew.py salted_topk_rollup — the canonicalize
    entity_table path). Assignment is synthesized skewed on purpose:
    ~60% of docs land in canonical_id 0 (the boilerplate mega-cluster
    shape); the salted plan must still produce the exact count and the
    8 smallest member ids per cluster."""
    from spinneret_spark.functions.skew import salted_topk_rollup

    docs = _t(spark, sf, "documents")
    assign = docs.select(
        F.when(F.col("doc_id") % 5 < 3, F.lit(0))
        .otherwise(F.col("doc_id") % 37)
        .cast("long")
        .alias("canonical_id"),
        "doc_id",
    )
    rolled = salted_topk_rollup(
        assign,
        key="canonical_id",
        val_col="doc_id",
        k=8,
        count_name="n_members",
        list_name="members",
    )
    # The driver's oracle harness canonicalizes results via pandas
    # sort_values, which cannot hash list-typed cells — every checked
    # query must return SCALAR columns only (array form stays available
    # to internal callers through salted_topk_rollup itself).
    return rolled.select(
        "canonical_id",
        "n_members",
        F.concat_ws(",", F.col("members").cast("array<string>")).alias("members"),
    )


Q_KG_ENTITY_ROLLUP_SQL = """
WITH assign AS (
  SELECT CASE WHEN doc_id % 5 < 3 THEN 0 ELSE doc_id % 37 END AS canonical_id,
         doc_id
  FROM documents
)
SELECT canonical_id, COUNT(*) AS n_members,
       array_to_string((list_sort(list(doc_id)))[1:8], ',') AS members
FROM assign
GROUP BY canonical_id
"""


# ------------------------------------------------------------- text analysis


def q_token_stats(spark, sf):
    return token_stats(_t(spark, sf, "documents"))


Q_TOKEN_STATS_SQL = f"""
SELECT doc_id,
       len({_TOKS}) AS n_tokens,
       len(list_distinct({_TOKS})) AS n_distinct,
       CAST(list_aggregate(list_transform({_TOKS}, t -> length(t)), 'sum')
            AS BIGINT) AS total_len,
       CAST(list_aggregate(list_transform({_TOKS}, t -> length(t)), 'sum')
            AS BIGINT) / len({_TOKS}) AS avg_token_len
FROM documents
"""

_STOP_LIST = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"
_STOP_COUNT = f"len(list_filter({_TOKS}, t -> list_contains({_STOP_LIST}, t)))"


def q_quality(spark, sf):
    return quality_score(_t(spark, sf, "documents"))


Q_QUALITY_SQL = f"""
SELECT doc_id,
       length(text) AS n_chars_txt,
       len({_TOKS}) AS n_tokens,
       {_STOP_COUNT} AS n_stopwords,
       {_STOP_COUNT} / len({_TOKS}) AS stop_ratio,
       1.0::DOUBLE - len(list_distinct({_TOKS})) / len({_TOKS}) AS rep_ratio
FROM documents
"""


def q_langid(spark, sf):
    return langid_heuristic(_t(spark, sf, "documents"))


Q_LANGID_SQL = f"""
SELECT doc_id, lang,
       {_STOP_COUNT} / len({_TOKS}) AS en_score,
       CASE WHEN {_STOP_COUNT} / len({_TOKS}) >= 0.05
            THEN 'en' ELSE 'other' END AS predicted,
       (CASE WHEN {_STOP_COUNT} / len({_TOKS}) >= 0.05
             THEN 'en' ELSE 'other' END) = lang AS is_match
FROM documents
"""


def q_fingerprint(spark, sf):
    return fingerprint(_t(spark, sf, "documents"))


Q_FINGERPRINT_SQL = f"""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct({_TOKS})), ' '))
         AS fingerprint
FROM documents
"""


def q_multimodal_meta(spark, sf):
    """Binary-column plumbing: byte length, checksum, stub feature."""
    docs = _t(spark, sf, "documents")
    blob = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.octet_length("text").alias("n_bytes"),
        F.md5(blob).alias("checksum"),
        F.pmod(F.octet_length("text"), F.lit(251)).alias("stub_feature"),
    )


Q_MULTIMODAL_SQL = """
SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS checksum,
       octet_length(encode(text)) % 251 AS stub_feature
FROM documents
"""


# -------------------------------------------------------------------- dedup


def q_dedup_exact(spark, sf):
    return exact_dedup(_t(spark, sf, "documents"))


Q_DEDUP_EXACT_SQL = """
SELECT md5(text) AS fingerprint, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
FROM documents GROUP BY md5(text)
"""

from spinneret_spark.functions.text import shingles_sql

_SHINGLES = shingles_sql("text", 3)
_SH_TABLE = f"SELECT doc_id AS id, unnest({_SHINGLES}) AS shingle FROM documents"


def q_dedup_ngram_jaccard(spark, sf):
    """Jaccard over portable md5 shingle hashes, never shingle
    strings — the oracle hashes the same strings to the same longs in
    its inverted-index join, so results are identical."""
    return ngram_jaccard_pairs(
        _t(spark, sf, "documents"), threshold=JACCARD_THRESHOLD
    )


Q_DEDUP_JACCARD_SQL = f"""
WITH sh_str AS ({_SH_TABLE}),
sh AS (SELECT id, {md5_int_sql("shingle")} AS shingle FROM sh_str),
sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS common
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b, common / (sa.n_sh + sb.n_sh - common) AS jaccard
FROM common
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE common / (sa.n_sh + sb.n_sh - common) >= {JACCARD_THRESHOLD}
"""


def q_dedup_minhash_lsh(spark, sf):
    sigs = minhash_signatures(_t(spark, sf, "documents"))
    return lsh_candidate_pairs(sigs, bands=4, rows_per_band=4, max_bucket=None)


def _minhash_sig_sql() -> str:
    tok_int = md5_int_sql("shingle")
    mins = ", ".join(
        f"MIN({minhash_value_sql(tok_int, i)}) AS mh{i}" for i in range(MINHASH_K)
    )
    return f"SELECT id, {mins} FROM sh GROUP BY id"


def _band_sql(band: int, rows_per_band: int = 4) -> str:
    parts = " || ':' || ".join(
        f"CAST(mh{band * rows_per_band + r} AS VARCHAR)"
        for r in range(rows_per_band)
    )
    return (
        f"SELECT id, {band} AS band, md5({parts}) AS key FROM sig"
    )


Q_DEDUP_MINHASH_SQL = f"""
WITH sh AS ({_SH_TABLE}),
sig AS ({_minhash_sig_sql()}),
bands AS ({" UNION ALL ".join(_band_sql(b) for b in range(4))})
SELECT DISTINCT a.id AS id_a, b.id AS id_b
FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
WHERE a.id < b.id
"""


def q_dedup_simhash(spark, sf):
    from spinneret_spark.operators.dedup import simhash_near_dup_pairs

    return simhash_near_dup_pairs(_t(spark, sf, "documents"), max_hamming=3)


def _simhash_sql() -> str:
    tok_int = md5_int_sql("token")
    bit_sums = ", ".join(
        f"SUM(CASE WHEN ({tok_int} >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(16)
    )
    fp = " + ".join(f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(16))
    return f"""
WITH tok AS (SELECT doc_id AS id, unnest({_TOKS}) AS token FROM documents),
sums AS (SELECT id, {bit_sums} FROM tok GROUP BY id),
fp AS (SELECT id, CAST({fp} AS BIGINT) AS simhash FROM sums),
bands AS (
  SELECT id, simhash, band, (simhash >> (band * 4)) & 15 AS key
  FROM fp, (VALUES (0), (1), (2), (3)) b(band)
)
SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
WHERE a.id < b.id AND bit_count(xor(a.simhash, b.simhash)) <= 3
"""


Q_DEDUP_SIMHASH_SQL = _simhash_sql()


def q_dedup_minhash_est(spark, sf):
    """Sketch-side Jaccard estimate on LSH candidate pairs."""
    from spinneret_spark.operators.dedup import minhash_estimate_pairs

    sigs = minhash_signatures(_t(spark, sf, "documents"))
    cands = lsh_candidate_pairs(sigs, bands=4, rows_per_band=4, max_bucket=None)
    return minhash_estimate_pairs(sigs, cands)


_EST = " + ".join(
    f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)" for i in range(MINHASH_K)
)

Q_DEDUP_MINHASH_EST_SQL = f"""
WITH sh AS ({_SH_TABLE}),
sig AS ({_minhash_sig_sql()}),
bands AS ({" UNION ALL ".join(_band_sql(b) for b in range(4))}),
cands AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.id < b.id
)
SELECT c.id_a, c.id_b, ({_EST}) / {MINHASH_K} AS est_jaccard
FROM cands c
JOIN sig sa ON sa.id = c.id_a
JOIN sig sb ON sb.id = c.id_b
"""


def q_rollup_event_stats(spark, sf):
    """Grouping-set aggregation (rollup) with order-independent stats."""
    ev = _t(spark, sf, "events")
    return ev.rollup("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


Q_ROLLUP_SQL = """
SELECT event_type, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
       MIN(value) AS min_value, MAX(value) AS max_value
FROM events GROUP BY ROLLUP(event_type)
"""


def q_intersect_customers(spark, sf):
    """SO set intersection: customers with both URGENT and 5-LOW orders."""
    orders = _t(spark, sf, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    ).distinct()
    low = orders.filter(F.col("o_orderpriority") == "5-LOW").select(
        "o_custkey"
    ).distinct()
    return urgent.intersect(low)


Q_INTERSECT_SQL = """
SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
INTERSECT
SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
"""


# --------------------------------------------------------------- similarity


def q_ann_topk(spark, sf):
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return brute_force_topk(emb, queries, k=10)


Q_ANN_TOPK_SQL = f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
           WHERE vec_id < 5),
scored AS (
  SELECT q.q_id, e.vec_id, {cosine_sql("q.q_vec", "e.embedding")} AS cos
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.q_id
)
SELECT q_id, vec_id, rank, cos FROM (
  SELECT q_id, vec_id, cos,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC)
           AS rank
  FROM scored
) WHERE rank <= 10
"""


def q_link_rerank(spark, sf):
    """North-rule "embedding-similarity rerank" of the entity-linking
    stage (linking.rerank_candidates, reference workbook.py:52-61's
    curator slots closed mechanically): 8 ambiguous mentions each get
    a BLOCKED candidate set (same pmod bucket — the dictionary-side
    blocking a trie link join emits), and one max_by aggregation keeps
    the best candidate per mention by cosine, ties to the higher id.
    Single hash aggregation, no window over the corpus."""
    from spinneret_spark.operators.linking import rerank_candidates

    emb = _t(spark, sf, "embeddings")
    mentions = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("m_id"),
        F.col("embedding").alias("mention_vec"),
    )
    cands = emb.select(
        F.col("vec_id").alias("subject_id"),
        F.col("embedding").alias("cand_vec"),
    )
    pairs = mentions.join(
        cands,
        F.pmod(F.col("m_id"), F.lit(4)) == F.pmod(F.col("subject_id"), F.lit(4)),
    ).where(F.col("m_id") != F.col("subject_id"))
    return rerank_candidates(pairs, ["m_id"])


Q_LINK_RERANK_SQL = f"""
WITH m AS (SELECT vec_id AS m_id, embedding AS m_vec FROM embeddings
           WHERE vec_id < 8),
c AS (SELECT vec_id AS subject_id, embedding AS cand_vec FROM embeddings),
scored AS (
  SELECT m_id, subject_id, {cosine_sql("m_vec", "cand_vec")} AS score
  FROM m JOIN c ON m_id % 4 = subject_id % 4 AND m_id <> subject_id
)
SELECT m_id, subject_id, score FROM (
  SELECT m_id, subject_id, score,
         row_number() OVER (PARTITION BY m_id
                            ORDER BY score DESC, subject_id DESC) AS rn
  FROM scored
) WHERE rn = 1
"""


def q_dedup_embedding(spark, sf):
    """Embedding-cosine near-dup pairs — brute-force cross-join
    BASELINE, fixture scales only; the scale path is
    ``dedup_embedding_blocked`` below (equi-join inside k-means
    cells, no cartesian anywhere)."""
    from spinneret_spark.operators.dedup import embedding_near_dup_pairs

    return embedding_near_dup_pairs(
        _t(spark, sf, "embeddings"), threshold=0.4
    )


Q_DEDUP_EMBEDDING_SQL = f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
s AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {cosine_sql("a.embedding", "b.embedding")} AS c
  FROM e a, e b WHERE a.vec_id < b.vec_id
)
SELECT id_a, id_b, ROUND(c, 6) AS cos FROM s WHERE c >= 0.4
"""


KMEANS_K = 8
KMEANS_ITERS = 2


def _kmeans_sql(k: int = KMEANS_K, iters: int = KMEANS_ITERS) -> str:
    """CTE chain c0..c{iters}: DuckDB twin of similarity.kmeans_fit —
    same init (k lowest ids), same lower-cell tiebreak, same
    left-to-right id-ordered float64 mean folds → bit-identical
    centroids (asserted in tests/test_similarity.py)."""
    ctes = [
        f"""c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell_id,
         list_transform(embedding, x -> x::DOUBLE) AS cell_vec
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {k}))"""
    ]
    for i in range(iters):
        ctes.append(
            f"""a{i} AS (
  SELECT vec_id, cell_id, embedding FROM (
    SELECT e.vec_id, c.cell_id, e.embedding,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {cosine_sql("e.embedding", "c.cell_vec")} DESC,
                                       c.cell_id ASC) AS rn
    FROM embeddings e CROSS JOIN c{i} c) WHERE rn = 1)"""
        )
        ctes.append(
            f"""x{i} AS (
  SELECT cell_id, vec_id, unnest(list_transform(embedding, v -> v::DOUBLE)) AS val,
         unnest(range(len(embedding))) AS pos FROM a{i})"""
        )
        ctes.append(
            f"""s{i} AS (
  SELECT cell_id, pos,
         list_reduce(list_prepend(0.0::DOUBLE, list(val ORDER BY vec_id)),
                     (acc, v) -> acc + v) / COUNT(*) AS mean
  FROM x{i} GROUP BY cell_id, pos)"""
        )
        ctes.append(
            f"""c{i + 1} AS (
  SELECT cell_id, list(mean ORDER BY pos) AS cell_vec FROM s{i} GROUP BY cell_id)"""
        )
    return ",\n".join(ctes)


def q_ann_ivf(spark, sf):
    """IVF approximate top-k over TRAINED centroids (deterministic
    k-means, k=8, 2 Lloyd iterations), probe 2."""
    from spinneret_spark.operators.similarity import ivf_topk, kmeans_fit

    emb = _t(spark, sf, "embeddings")
    centroids = kmeans_fit(emb, k=KMEANS_K, iters=KMEANS_ITERS)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return ivf_topk(emb, queries, centroids, k=5, nprobe=2)


Q_ANN_IVF_SQL = f"""
WITH {_kmeans_sql()},
centroids AS (
  SELECT cell_id, cell_vec FROM c{KMEANS_ITERS}
), assigned AS (
  SELECT vec_id, cell_id, embedding FROM (
    SELECT e.vec_id, c.cell_id, e.embedding,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {cosine_sql("e.embedding", "c.cell_vec")} DESC,
                      c.cell_id ASC) AS rn
    FROM embeddings e CROSS JOIN centroids c
  ) WHERE rn = 1
), q AS (
  SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5
), q_cells AS (
  SELECT q_id, q_vec, cell_id FROM (
    SELECT q.q_id, q.q_vec, c.cell_id,
           row_number() OVER (
             PARTITION BY q.q_id
             ORDER BY {cosine_sql("q.q_vec", "c.cell_vec")} DESC,
                      c.cell_id ASC) AS nth
    FROM q CROSS JOIN centroids c
  ) WHERE nth <= 2
), scored AS (
  SELECT qc.q_id, a.vec_id,
         {cosine_sql("qc.q_vec", "a.embedding")} AS cos
  FROM assigned a JOIN q_cells qc ON a.cell_id = qc.cell_id
  WHERE a.vec_id <> qc.q_id
)
SELECT q_id, vec_id, rank, cos FROM (
  SELECT q_id, vec_id, cos,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


def q_dedup_embedding_blocked(spark, sf):
    """Embedding near-dup at scale: block by trained k-means cell,
    equi-join inside blocks — zero cartesian products anywhere in the
    plan (asserted in tests/test_plans.py). Recall < 1 by design
    (cross-cell near-dups are missed; raise k-means k / add multi-
    probe to trade cost for recall)."""
    from spinneret_spark.operators.dedup import embedding_near_dup_pairs
    from spinneret_spark.operators.similarity import assign_cells, kmeans_fit

    emb = _t(spark, sf, "embeddings")
    centroids = kmeans_fit(emb, k=KMEANS_K, iters=KMEANS_ITERS)
    blocked = assign_cells(emb, centroids).join(emb, "vec_id")
    return embedding_near_dup_pairs(blocked, threshold=0.4, block_col="cell_id")


Q_DEDUP_EMBEDDING_BLOCKED_SQL = f"""
WITH {_kmeans_sql()},
assigned AS (
  SELECT vec_id, cell_id, embedding FROM (
    SELECT e.vec_id, c.cell_id, e.embedding,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {cosine_sql("e.embedding", "c.cell_vec")} DESC,
                                       c.cell_id ASC) AS rn
    FROM embeddings e CROSS JOIN c{KMEANS_ITERS} c
  ) WHERE rn = 1
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {cosine_sql("a.embedding", "b.embedding")} AS c
  FROM assigned a JOIN assigned b
    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, ROUND(c, 6) AS cos FROM pairs WHERE c >= 0.4
"""


def q_dedup_embedding_multiprobe(spark, sf):
    """Multi-probe blocked near-dup (nprobe=2): each vector is indexed
    under its 2 nearest k-means cells, so pairs that straddle one cell
    boundary are recovered while the join stays an equi-join. The
    recall/cost dial between `dedup_embedding_blocked` (nprobe=1) and
    the quadratic baseline."""
    from spinneret_spark.operators.dedup import embedding_near_dup_pairs
    from spinneret_spark.operators.similarity import (
        assign_cells_multi,
        kmeans_fit,
    )

    emb = _t(spark, sf, "embeddings")
    centroids = kmeans_fit(emb, k=KMEANS_K, iters=KMEANS_ITERS)
    assigned = assign_cells_multi(emb, centroids, nprobe=2).join(emb, "vec_id")
    return embedding_near_dup_pairs(
        assigned, threshold=0.4, block_col="cell_id"
    ).distinct()


Q_DEDUP_EMBEDDING_MULTIPROBE_SQL = f"""
WITH {_kmeans_sql()},
assigned AS (
  SELECT vec_id, cell_id, embedding FROM (
    SELECT e.vec_id, c.cell_id, e.embedding,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {cosine_sql("e.embedding", "c.cell_vec")} DESC,
                                       c.cell_id ASC) AS nth
    FROM embeddings e CROSS JOIN c{KMEANS_ITERS} c
  ) WHERE nth <= 2
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {cosine_sql("a.embedding", "b.embedding")} AS c
  FROM assigned a JOIN assigned b
    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
)
SELECT DISTINCT id_a, id_b, ROUND(c, 6) AS cos FROM pairs WHERE c >= 0.4
"""


# ---------------------------------------------------- connected components


def q_cc_components(spark, sf):
    """J4 iterative CC over deterministic chain edges."""
    docs = _t(spark, sf, "documents")
    w = Window.partitionBy("source", "lang").orderBy("doc_id")
    ordered = docs.select(
        "doc_id",
        "n_chars",
        F.lag("doc_id").over(w).alias("prev_id"),
        F.lag("n_chars").over(w).alias("prev_nc"),
    )
    edges = ordered.filter(
        F.col("prev_id").isNotNull()
        & (F.abs(F.col("n_chars") - F.col("prev_nc")) <= CC_CHAR_GAP)
    ).select(F.col("prev_id").alias("src"), F.col("doc_id").alias("dst"))
    return components_with_isolated(
        docs.select("doc_id"), edges, node_col="doc_id"
    ).withColumnsRenamed({"node": "doc_id"})


Q_CC_SQL = f"""
WITH RECURSIVE ord AS (
  SELECT doc_id, n_chars,
         lag(doc_id) OVER w AS prev_id,
         lag(n_chars) OVER w AS prev_nc
  FROM documents
  WINDOW w AS (PARTITION BY source, lang ORDER BY doc_id)
), edges AS (
  SELECT prev_id AS src, doc_id AS dst
  FROM ord
  WHERE prev_id IS NOT NULL AND abs(n_chars - prev_nc) <= {CC_CHAR_GAP}
), reach(s, n) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.s, e.dst FROM reach r JOIN edges e ON e.src = r.n
)
SELECT n AS doc_id, MIN(s) AS component FROM reach GROUP BY n
"""


# ----------------------------------------------------------- workbook (REF)

_EML_DIR = "/root/reference/src/spinneret/data/eml"
_EML_BASE = "https://portal.edirepository.org/nis/metadataviewer?packageid="


def q_workbook_eml(spark, sf):
    """The reference's flagship operator (workbook.create) over its own
    3-document corpus, shaped as the mandated pages table. The oracle is
    the reference's own golden TSV
    (/root/reference/tests/annotation_workbook.tsv) read by DuckDB —
    the XML extraction itself is not SQL-expressible, but its expected
    OUTPUT is a flat file, so the driver can hash-compare against it.
    det_id is recomputed by the oracle (sha256 over url#xpath#element),
    so the deterministic-id contract is checked too; only the uuid4
    element_id is excluded, exactly as the reference's own test does
    (tests/test_workbook.py:29). Strict per-cell parity additionally
    lives in tests/test_workbook_golden.py."""
    import datetime
    import os

    from spinneret_spark.operators.workbook import create_workbook

    rows = []
    for name in sorted(os.listdir(_EML_DIR)):
        with open(os.path.join(_EML_DIR, name), "rb") as fh:
            rows.append(
                (
                    "file://" + name,
                    datetime.datetime(2024, 1, 1),
                    bytearray(fh.read()),
                    "",
                    "en",
                )
            )
    pages = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    return create_workbook(
        pages,
        ["dataset", "dataTable", "otherEntity", "attribute"],
        _EML_BASE,
    ).drop("element_id")  # uuid4 column: nondeterministic by contract


Q_WORKBOOK_EML_SQL = """
SELECT package_id, url, element, element_xpath,
       COALESCE(context,'') AS context, COALESCE(subject,'') AS subject,
       COALESCE(predicate,'') AS predicate,
       COALESCE(predicate_id,'') AS predicate_id,
       COALESCE("object",'') AS object, COALESCE(object_id,'') AS object_id,
       COALESCE(author,'') AS author, COALESCE("date",'') AS "date",
       COALESCE(comment,'') AS comment,
       sha256(concat_ws('#', url, element_xpath, element)) AS det_id
FROM read_csv('/root/reference/tests/annotation_workbook.tsv',
              delim='\t', header=true, all_varchar=true)
"""


# ----------------------------------------------------------------- curation


def q_curate_sample(spark, sf):
    """Deterministic stratified downsampling (operators/curation.py):
    cap over-represented 'en' at 20%, everything else at 50% — every
    keep/drop decision a pure function of doc_id via the portable md5
    bridge, so Spark and DuckDB select the same rows."""
    from spinneret_spark.operators.curation import deterministic_sample

    docs = _t(spark, sf, "documents")
    return deterministic_sample(
        docs.select("doc_id", "lang", "n_chars"),
        key_col="doc_id",
        fraction=0.5,
        strata_col="lang",
        strata_fractions={"en": 0.2},
    )


Q_CURATE_SAMPLE_SQL = f"""
SELECT doc_id, lang, n_chars
FROM documents
WHERE {md5_int_sql("CAST(doc_id AS VARCHAR)")} % 1000000
      < CASE WHEN lang = 'en' THEN 200000 ELSE 500000 END
"""


def q_curate_pack(spark, sf):
    """Concat-and-chunk sequence packing at a 2048-char budget
    (operators/curation.py): global start offset via the two-phase
    distributed prefix sum; the oracle is the single-window SQL the
    distributed plan must reproduce exactly."""
    from spinneret_spark.operators.curation import pack_sequences

    docs = _t(spark, sf, "documents")
    return pack_sequences(docs, budget=2048, cost_col="n_chars")


Q_CURATE_PACK_SQL = """
WITH laid AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS cost,
         CAST(COALESCE(SUM(n_chars) OVER (
             ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
             AND 1 PRECEDING), 0) AS BIGINT) AS start_off
  FROM documents
)
SELECT doc_id, cost, start_off,
       start_off // 2048 AS chunk_id,
       (start_off + GREATEST(cost, 1) - 1) // 2048
         - start_off // 2048 + 1 AS n_chunks
FROM laid
"""


def q_vocab_topk(spark, sf):
    """Corpus vocabulary: global top-50 token frequencies, ties to the
    smaller token (operators/curation.py — TakeOrdered partial top-k,
    never a global sort)."""
    from spinneret_spark.operators.curation import vocab_topk

    return vocab_topk(_t(spark, sf, "documents"), k=50)


Q_VOCAB_TOPK_SQL = """
SELECT token, COUNT(*) AS n
FROM (
  SELECT unnest(regexp_split_to_array(lower(text), ' +')) AS token
  FROM documents
)
WHERE token <> ''
GROUP BY token
ORDER BY n DESC, token ASC
LIMIT 50
"""


# ------------------------------------------------------------------ contract


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: documents → mention detection → linked triples."""
    return q_kg_triples(spark, DEFAULT_SF)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q_pricing_summary": q_pricing_summary,
        "q_segment_top_orders": q_segment_top_orders,
        "q_nation_revenue": q_nation_revenue,
        "q_topk_per_priority": q_topk_per_priority,
        "q_distinct_users": q_distinct_users,
        "q_customers_without_orders": q_customers_without_orders,
        "q_events_json": q_events_json,
        "q_sessionize": q_sessionize,
        "kg_mentions": q_kg_mentions,
        "kg_mentions_multiword": q_kg_mentions_multiword,
        "kg_triples": q_kg_triples,
        "kg_entity_degree": q_kg_entity_degree,
        "kg_entity_rollup": q_kg_entity_rollup,
        "text_token_stats": q_token_stats,
        "text_quality": q_quality,
        "text_langid": q_langid,
        "text_fingerprint": q_fingerprint,
        "multimodal_meta": q_multimodal_meta,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_minhash_est": q_dedup_minhash_est,
        "dedup_simhash": q_dedup_simhash,
        "dedup_embedding_cosine": q_dedup_embedding,
        "dedup_embedding_blocked": q_dedup_embedding_blocked,
        "dedup_embedding_multiprobe": q_dedup_embedding_multiprobe,
        "ann_topk_cosine": q_ann_topk,
        "ann_ivf": q_ann_ivf,
        "kg_link_rerank": q_link_rerank,
        "cc_components": q_cc_components,
        "q_rollup_event_stats": q_rollup_event_stats,
        "q_intersect_customers": q_intersect_customers,
        "curate_sample_stratified": q_curate_sample,
        "curate_pack_sequences": q_curate_pack,
        "vocab_topk_tokens": q_vocab_topk,
        # oracle = the reference's own golden TSV via DuckDB read_csv
        "workbook_eml": q_workbook_eml,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "q_pricing_summary": Q_PRICING_SQL,
        "q_segment_top_orders": Q_SEGMENT_SQL,
        "q_nation_revenue": Q_NATION_SQL,
        "q_topk_per_priority": Q_TOPK_SQL,
        "q_distinct_users": Q_DISTINCT_SQL,
        "q_customers_without_orders": Q_NO_ORDERS_SQL,
        "q_events_json": Q_JSON_SQL,
        "q_sessionize": Q_SESSION_SQL,
        "kg_mentions": Q_KG_MENTIONS_SQL,
        "kg_mentions_multiword": Q_KG_MENTIONS_MULTIWORD_SQL,
        "kg_triples": Q_KG_TRIPLES_SQL,
        "kg_entity_degree": Q_KG_DEGREE_SQL,
        "kg_entity_rollup": Q_KG_ENTITY_ROLLUP_SQL,
        "text_token_stats": Q_TOKEN_STATS_SQL,
        "text_quality": Q_QUALITY_SQL,
        "text_langid": Q_LANGID_SQL,
        "text_fingerprint": Q_FINGERPRINT_SQL,
        "multimodal_meta": Q_MULTIMODAL_SQL,
        "dedup_exact": Q_DEDUP_EXACT_SQL,
        "dedup_ngram_jaccard": Q_DEDUP_JACCARD_SQL,
        "dedup_minhash_lsh": Q_DEDUP_MINHASH_SQL,
        "dedup_minhash_est": Q_DEDUP_MINHASH_EST_SQL,
        "dedup_simhash": Q_DEDUP_SIMHASH_SQL,
        "dedup_embedding_cosine": Q_DEDUP_EMBEDDING_SQL,
        "dedup_embedding_blocked": Q_DEDUP_EMBEDDING_BLOCKED_SQL,
        "dedup_embedding_multiprobe": Q_DEDUP_EMBEDDING_MULTIPROBE_SQL,
        "ann_topk_cosine": Q_ANN_TOPK_SQL,
        "ann_ivf": Q_ANN_IVF_SQL,
        "kg_link_rerank": Q_LINK_RERANK_SQL,
        "cc_components": Q_CC_SQL,
        "q_rollup_event_stats": Q_ROLLUP_SQL,
        "q_intersect_customers": Q_INTERSECT_SQL,
        "curate_sample_stratified": Q_CURATE_SAMPLE_SQL,
        "curate_pack_sequences": Q_CURATE_PACK_SQL,
        "vocab_topk_tokens": Q_VOCAB_TOPK_SQL,
        "workbook_eml": Q_WORKBOOK_EML_SQL,
    }
