"""Entity canonicalization: MinHash-LSH blocking → exact-Jaccard
verification → connected components → canonical id rewrite
(north rule: "MinHash-LSH blocking plus GraphFrames-style connected
components over salted, AQE-skew-hedged shuffles to merge duplicate
entities").

Pipeline shape and its scale rationale:

1. blocking (lsh_candidate_pairs) — the only stage that could go
   quadratic; band buckets are capped and the band join runs under
   AQE skew splitting. Candidates ≈ near-dups only.
2. verify (ngram Jaccard on the candidate subset) — joins the
   candidate pair list back to the shingle index; cost is linear in
   candidates, not in corpus².
3. connected components — iterative min-label with lineage
   truncation (operators/components.py).
4. rewrite — canonical_id = component min; triples re-keyed by a
   broadcast-or-shuffle join on the (small) entity map;
   dropDuplicates on (subj, pred, obj) completes the merge
   (SURVEY.md SO3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spinneret_spark.materialize import materialize as _materialize
from spinneret_spark.functions.hashing import det_id as _det_id
from spinneret_spark.operators.components import components_with_isolated
from spinneret_spark.operators.dedup import lsh_candidate_pairs, shingle_sets


def near_dup_edges(
    docs: DataFrame,
    jaccard_threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    max_bucket: int | None = 500,
) -> DataFrame:
    """Verified near-duplicate edges (id_a, id_b, jaccard).

    LSH proposes, exact Jaccard disposes — in that order. Verification
    cost is linear in the *candidate* count: each candidate pair joins
    to the two documents' shingle arrays and computes
    |A∩B| / (|A|+|B|-|A∩B|) with array intersection, never touching
    the quadratic shingle-index self-join (which
    operators.dedup.ngram_jaccard_pairs provides for exhaustive-exact
    use cases).
    """

    from spinneret_spark.operators.dedup import minhash_signatures_pandas

    sigs = minhash_signatures_pandas(
        docs, n=shingle_n, id_col=id_col, text_col=text_col
    )
    candidates = _materialize(
        lsh_candidate_pairs(sigs, max_bucket=max_bucket)
    )
    return verify_candidate_pairs(
        docs,
        candidates,
        jaccard_threshold,
        id_col=id_col,
        text_col=text_col,
        shingle_n=shingle_n,
    )


def verify_candidate_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    jaccard_threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact-Jaccard verification of a candidate pair list →
    (id_a, id_b, jaccard) edges at or above the threshold.

    The verify half of :func:`near_dup_edges`, split out so the
    incremental canonicalization path can feed it a FILTERED candidate
    set (pairs touching changed parts only) while reusing persisted
    signatures for the unchanged corpus — verification cost stays
    linear in the candidates actually passed in, and only docs
    appearing in some pair are re-shingled (semi-join prune before the
    Arrow kernel).

    ``candidates`` feeds three consumers (both join sides and the id
    pruning), so pass it pinned (``materialize``) or its lineage
    recomputes three times."""
    cand_ids = (
        candidates.select(F.col("id_a").alias("id"))
        .union(candidates.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # shingle arrays only for docs that actually appear in a candidate
    # pair — the semi-join runs BEFORE the shingle projection, so the
    # (typically tiny) near-dup subset is the only part re-tokenized
    docs_small = docs.join(
        cand_ids, docs[id_col] == cand_ids["id"], "left_semi"
    )
    # crc32 shingle-hash sets from the same kernel as the signatures:
    # long-array intersection is ~10x cheaper than string shingles,
    # and Catalyst cannot re-inline a Python stage the way it
    # re-inlines expression trees (the O(tokens²) HOF trap). Docs
    # with fewer than shingle_n tokens have no set, and no signature,
    # so they are never candidates. BOTH pair sides read the sets:
    # checkpoint them or the semi-join + re-shingling kernel executes
    # twice inside the one verify query (measured 2x the prep cost at
    # 400k pages)
    sets = _materialize(
        shingle_sets(docs_small, shingle_n, "crc32", id_col, text_col)
    )
    a = sets.select(
        F.col("id").alias("id_a"), F.col("arr").alias("sh_a"),
        F.col("n_sh").alias("n_a"),
    )
    b = sets.select(
        F.col("id").alias("id_b"), F.col("arr").alias("sh_b"),
        F.col("n_sh").alias("n_b"),
    )
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", common / (F.col("n_a") + F.col("n_b") - common))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def canonical_entities(
    docs: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """(entity_id, canonical_id) assignment + member rollup.

    canonical_id = min member id per component (stable, deterministic).
    """
    assign = components_with_isolated(
        docs.select(F.col(id_col).alias("node")),
        edges,
        node_col="node",
        src="id_a",
        dst="id_b",
    )
    return assign.select(
        F.col("node").alias(id_col), F.col("component").alias("canonical_id")
    )


def entity_table(
    assignment: DataFrame,
    id_col: str = "doc_id",
    max_members: int | None = None,
) -> DataFrame:
    """(canonical_id, n_members, members) rollup — FIXTURES.md §4.

    ``max_members`` bounds the materialized member list (the count
    stays exact): a web-scale boilerplate cluster can hold millions of
    pages, and an unbounded ``collect_list`` makes that one row larger
    than an executor. The capped path is a SALTED two-phase rollup
    (functions.skew.salted_topk_rollup): a mega-component's rows shard
    across ``n_salts`` reducers in phase one instead of funneling
    through a single Window/collect_list task — the hot-entity-degree
    straggler AQE cannot fix, because it lives inside one group, not
    one partition. Semantics are unchanged: members = the
    ``max_members`` smallest ids (top-k is associative). The full
    membership stays recoverable from the assignment table — the
    rollup is a browsing surface, not the source of truth.
    """
    if max_members is None:
        return assignment.groupBy("canonical_id").agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sort_array(F.collect_list(id_col)).alias("members"),
        )
    from spinneret_spark.functions.skew import salted_topk_rollup

    return salted_topk_rollup(
        assignment,
        key="canonical_id",
        val_col=id_col,
        k=max_members,
        count_name="n_members",
        list_name="members",
    )


def rewrite_triples_raw(
    triples: DataFrame,
    assignment: DataFrame,
    subj_prefix: str = "doc://",
    id_col: str = "doc_id",
    src_col: str = "src_id",
) -> DataFrame:
    """Re-key triple subjects to canonical entities WITHOUT the merge:
    one output row per input row, carrying the pre-rewrite subject
    under ``src_col``. This is the provenance relation incremental
    view maintenance needs — removing a changed document's
    contribution from a merged output is only possible while each
    row still names its source.

    The assignment table is corpus-cardinality but narrow (two ids);
    broadcast when it fits, else it's one equi-join shuffle on subj.
    """
    canon = assignment.select(
        F.concat(F.lit(subj_prefix), F.col(id_col).cast("string")).alias("subj"),
        F.concat(F.lit(subj_prefix), F.col("canonical_id").cast("string")).alias(
            "canonical_subj"
        ),
    )
    out = (
        triples.join(canon, "subj", "left")
        .withColumn(src_col, F.col("subj"))
        .withColumn("subj", F.coalesce("canonical_subj", F.col("subj")))
        .drop("canonical_subj")
    )
    if {"det_id", "pred_id", "obj_id"} <= set(triples.columns):
        # recompute the deterministic id from the CANONICAL subject
        # BEFORE dedup: otherwise merged rows keep an arbitrary
        # survivor's pre-rewrite det_id, breaking the P6 idempotency
        # contract det_id == f(subj, pred_id, obj_id)
        out = out.withColumn(
            "det_id", _det_id(F.col("subj"), F.col("pred_id"), F.col("obj_id"))
        )
    return out


def dedup_canonical_triples(
    raw: DataFrame, src_col: str = "src_id"
) -> DataFrame:
    """Merge duplicate (subj, pred, obj) rows with a DETERMINISTIC
    survivor: the lexicographic minimum over the remaining columns
    (``dropDuplicates`` keeps an arbitrary row, so a column that
    varies across merged sources — e.g. ``lang`` — would differ run
    to run, and an incremental rewrite could never be proven equal to
    the from-scratch one). One hash aggregation, map-side partial.

    A ``part_id`` column (the canonical subject's hash partition, a
    function of ``subj``) joins the grouping keys without changing the
    groups, so a frame already hash-partitioned by ``part_id`` dedups
    with no shuffle and lands one file per partition.
    """
    keys = ["subj", "pred", "obj"] + (
        ["part_id"] if "part_id" in raw.columns else []
    )
    rest = [c for c in raw.columns if c not in keys and c != src_col]
    if not rest:
        return raw.drop(src_col).dropDuplicates(keys)
    packed = raw.groupBy(*keys).agg(
        F.min(F.struct(*[F.col(c) for c in rest])).alias("_survivor")
    )
    return packed.select(
        *keys, *[F.col(f"_survivor.{c}").alias(c) for c in rest]
    ).select(*[c for c in raw.columns if c != src_col])

