"""Entity linking + triple emission (SURVEY.md J1, W3; north rule
"entity linking against ... controlled vocabularies", "emitting
(subj, pred, obj) triples").

The reference's workbook reserves (subject, predicate, predicate_id,
object, object_id) slots for curators (workbook.py:52-61, filled ""
at :135-141) and its SSSOM module supplies the (subject_id,
subject_label) dictionary those slots are keyed by (sssom.py:52-55).
This module closes that loop mechanically: mentions are linked to the
dictionary via broadcast hash join, candidate sets are reranked by
embedding cosine. The pipeline emits the triples with deterministic
ids (``pipeline._triples_projection``); this module keeps the
predicate constants they carry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spinneret_spark.functions.vectors import cosine

MENTIONS_PRED = "http://example.org/kg/mentions"
MENTIONS_PRED_LABEL = "mentions"


def link_mentions(mentions: DataFrame, vocab: DataFrame,
                  surface_col: str = "surface") -> DataFrame:
    """Attach vocabulary ids to detected mentions.

    Broadcast hash join on the normalized surface form — the corpus
    side is never shuffled (vocab ≪ corpus by construction; raise
    autoBroadcastJoinThreshold for ~100 MB dictionaries, SURVEY.md
    §4.2).
    """
    return mentions.join(
        F.broadcast(vocab),
        F.lower(F.col(surface_col)) == F.lower(vocab["subject_label"]),
        "left",
    )


def rerank_candidates(
    candidates: DataFrame,
    mention_key: list[str],
    query_vec: str = "mention_vec",
    cand_vec: str = "cand_vec",
) -> DataFrame:
    """Keep the best-scoring candidate per mention.

    Uses ``max_by`` (single hash aggregation, no full sort — SURVEY.md
    W3 scale note) over the cosine score; ties broken by candidate id
    to stay deterministic.
    """
    scored = candidates.withColumn(
        "score", cosine(F.col(query_vec), F.col(cand_vec))
    )
    return scored.groupBy(*mention_key).agg(
        F.max_by(
            F.struct("subject_id", "score"),
            F.struct(F.col("score"), F.col("subject_id")),
        ).alias("best")
    ).select(*mention_key, "best.subject_id", "best.score")

