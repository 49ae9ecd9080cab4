"""Similarity search over embedding columns (array<float>).

* :func:`brute_force_topk` — exact cosine top-k: the correctness
  baseline. Query side is broadcast (queries ≪ corpus); per-query
  top-k via two-phase partition-local merge (no per-query sort task).
  Cost O(|Q|·N·d) — fine for reranking shortlists, not for N=10^12.
* :func:`ivf_topk` — the scale path: coarse quantization into cells
  (deterministic seed centroids = embeddings of the lexicographically
  first ids per label-stratum), probe the ``nprobe`` nearest cells,
  brute-force only inside them. Recall < 1 by design; the plan is the
  point — candidate generation becomes an equi-join on cell_id, so
  the corpus shuffles once on a short key instead of crossing with
  every query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spinneret_spark.functions.vectors import cosine


def _topk_per_query(
    scored: DataFrame, q_id_col: str, id_col: str, k: int
) -> DataFrame:
    """(q_id, id, cos) → exact top-k per query as (q_id, id, rank, cos)
    via two-phase partition-local merge. Phase one reduces each input
    partition to ≤ k candidates per query map-side; phase two merges
    ≤ partitions·k rows per query — no single task ever sorts a whole
    query's score set. Ordering key (−cos, id) ascending ≡ (cos desc,
    id asc); the id tiebreak keeps ranks deterministic."""
    key = F.struct(
        (-F.col("cos")).alias("nc"), F.col(id_col).alias("i"), F.col("cos")
    )
    local = scored.groupBy(q_id_col, F.spark_partition_id().alias("_p")).agg(
        F.slice(F.sort_array(F.collect_list(key)), 1, k).alias("_top")
    )
    merged = local.groupBy(q_id_col).agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("_top"))), 1, k).alias(
            "_top"
        )
    )
    return merged.select(
        q_id_col, F.posexplode("_top").alias("_r", "_s")
    ).select(
        q_id_col,
        F.col("_s.i").alias(id_col),
        (F.col("_r") + 1).alias("rank"),
        F.col("_s.cos").alias("cos"),
    )


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Exact top-k by cosine: (q_id, vec_id, rank, cos).

    Two-phase top-k, not a Window: Window.partitionBy(q_id) funnels
    all N scored rows of a query through ONE task's sort — a per-query
    straggler at corpus N (scores are produced map-side, so phase one
    never shuffles raw scores). Exact: global top-k = top-k of
    per-shard top-k's.

    Scores come from a numpy kernel instead of the interpreted
    Catalyst HOF fold — bit-identical doubles: the fold is vectorized
    ACROSS corpus rows but stays strictly sequential over vector
    dimensions (``acc += prods[:, d]`` for d in order), which is
    exactly the left-to-right float64 fold the ``cosine`` expression
    and the DuckDB oracle perform (the expression scorer is the test
    reference). The query side is collected (queries ≪ corpus by
    contract) and shipped in the closure."""
    scored = _cosine_scores_kernel(
        embeddings, queries, id_col, vec_col, q_id_col, q_vec_col
    )
    return _topk_per_query(scored, q_id_col, id_col, k)


def _cosine_scores_kernel(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    q_id_col: str,
    q_vec_col: str,
) -> DataFrame:
    """(q_id, id, cos) scored rows for every (query, corpus) pair with
    id ≠ q_id — numpy, bit-identical to the ``cosine`` expression (see
    brute_force_topk)."""
    import numpy as np
    import pandas as pd

    q_rows = [
        (r[q_id_col], np.asarray(r[q_vec_col], dtype=np.float32))
        for r in queries.collect()
    ]
    id_type = embeddings.schema[id_col].dataType.simpleString()
    qid_type = queries.schema[q_id_col].dataType.simpleString()
    schema = f"{q_id_col} {qid_type}, {id_col} {id_type}, cos double"

    def _seq_fold(mat: "np.ndarray") -> "np.ndarray":
        # strict left-to-right float64 fold over dims, vectorized over rows
        acc = np.zeros(mat.shape[0], dtype=np.float64)
        for d in range(mat.shape[1]):
            acc += mat[:, d]
        return acc

    def kernel(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            if len(ids) == 0:
                continue
            mat = np.stack(
                [np.asarray(v, dtype=np.float32) for v in pdf[vec_col]]
            ).astype(np.float64)
            sq = mat * mat
            norms = np.sqrt(_seq_fold(sq))
            out_q, out_i, out_c = [], [], []
            for q_id, q_vec in q_rows:
                q_d = q_vec.astype(np.float64)
                q_norm = np.sqrt(
                    _seq_fold((q_d * q_d)[None, :])[0]
                )
                dots = _seq_fold(mat * q_d[None, :])
                cos = dots / (q_norm * norms)
                keep = ids != q_id
                out_q.extend([q_id] * int(keep.sum()))
                out_i.extend(ids[keep])
                out_c.extend(cos[keep])
            yield pd.DataFrame(
                {
                    q_id_col: pd.Series(out_q, dtype=object),
                    id_col: pd.Series(out_i, dtype=object),
                    "cos": pd.Series(out_c, dtype="float64"),
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(
        kernel, schema=schema
    )


def assign_cells(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id: str = "cell_id",
    cent_vec: str = "cell_vec",
) -> DataFrame:
    """IVF assignment: nearest centroid per vector (broadcast argmax,
    no shuffle — max_by aggregation happens after an explode of the
    small centroid set)."""
    scored = embeddings.crossJoin(F.broadcast(centroids)).withColumn(
        "sim", cosine(F.col(vec_col), F.col(cent_vec))
    )
    return scored.groupBy(id_col).agg(
        F.max_by(F.col(cent_id), F.struct(F.col("sim"), -F.col(cent_id))).alias(
            "cell_id"
        )
    )


def assign_cells_multi(
    embeddings: DataFrame,
    centroids: DataFrame,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id: str = "cell_id",
    cent_vec: str = "cell_vec",
) -> DataFrame:
    """Multi-probe IVF assignment: each vector lands in its ``nprobe``
    nearest cells (one output row per (vector, cell)). Blocking near-
    dup search on this assignment catches pairs that straddle a single
    cell boundary — the standard recall/cost dial: candidate volume
    grows ~nprobe², recall approaches the exhaustive join.

    Grouped top-nprobe, not a Window: a Window.partitionBy(id) would
    shuffle all corpus×k scored rows; the hash aggregation reduces each
    vector's k rows to ONE partial map-side (the broadcast cross emits
    a vector's k scores contiguously in the same partition), so only
    corpus×1 partials cross the wire — k/1 shuffle-volume savings at
    k=256 cells. Ties break to the lower cell_id, matching
    :func:`assign_cells` and the DuckDB oracle."""
    scored = embeddings.crossJoin(F.broadcast(centroids)).withColumn(
        "sim", cosine(F.col(vec_col), F.col(cent_vec))
    )
    key = F.struct((-F.col("sim")).alias("ns"), F.col(cent_id).alias("c"))
    top = scored.groupBy(id_col).agg(
        F.slice(F.sort_array(F.collect_list(key)), 1, nprobe).alias("_top")
    )
    return top.select(
        id_col, F.explode("_top").alias("_s")
    ).select(id_col, F.col("_s.c").alias(cent_id))


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact_fold: bool = True,
    fit_fraction: float = 1.0,
) -> DataFrame:
    """Deterministic Lloyd's k-means → (cell_id, cell_vec) centroids.

    Determinism contract (what makes this oracle-exact vs DuckDB):
    * init = the ``k`` lowest-id vectors, cell_id = rank by id;
    * assignment ties break to the LOWER cell_id;
    * per-dimension means are LEFT-TO-RIGHT float64 folds over members
      sorted by id, then one double/int division — addition order is
      pinned, so both engines produce bit-identical centroids.

    ``exact_fold=True`` is the oracle path: the ordered fold costs a
    collect_list per (cell, dim) — a giant cell materializes its whole
    membership in one row, the same hazard as an uncapped entity
    rollup, so it is a FIXTURE device. ``exact_fold=False`` is the
    corpus-scale path: plain ``avg(val)`` (commutative partial
    aggregation map-side, no list ever exists) — same plan shape,
    centroids equal up to float reassociation (assignments agree on
    non-degenerate data; asserted in tests). Iteration count is fixed
    (no convergence probe → no extra driver actions). Cells that lose
    all members drop out on both engines alike.

    ``fit_fraction < 1`` trains on a deterministic md5-gated sample
    (same keyed-hash gate as ``curation.deterministic_sample`` — a
    pure function of the id, reproducible across runs and engines,
    pushed down to the scan as one filter). This is the 100 TB path:
    Lloyd's iterates over the SAMPLE only, so each iteration's
    broadcast-assign + mean shuffles fraction·N rows instead of N,
    while :func:`assign_cells`/:func:`ivf_topk` still assign the FULL
    corpus to the resulting centroids. Standard IVF practice — coarse
    quantizers are fit on a sliver of the corpus; centroid quality
    degrades only marginally (recall floor asserted in tests). The
    oracle path keeps the default full fit (bit-exactness needs both
    engines to fold the same rows).
    """
    fit_rows = embeddings
    if fit_fraction < 1.0:
        from spinneret_spark.operators.curation import sample_gate

        fit_rows = embeddings.where(
            sample_gate(F.col(id_col).cast("string"), fit_fraction)
        )
    # global window is safe here: it ranks the k rows surviving
    # .limit(k), never the corpus — not a single-reducer hazard
    w_init = Window.orderBy(id_col)
    cents = (
        fit_rows.orderBy(id_col)
        .limit(k)
        .select(F.row_number().over(w_init).alias("rn"), F.col(vec_col))
        .select(
            (F.col("rn") - 1).alias("cell_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
                "cell_vec"
            ),
        )
    )
    for _ in range(iters):
        assigned = assign_cells(fit_rows, cents, id_col, vec_col).join(
            fit_rows, id_col
        )
        ex = assigned.select(
            "cell_id",
            F.col(id_col).alias("i"),
            F.posexplode(
                F.transform(F.col(vec_col), lambda x: x.cast("double"))
            ).alias("pos", "val"),
        )
        if exact_fold:
            # materialize the sorted member list as a real column before
            # folding (inline agg expressions re-inline per access)
            vals = ex.groupBy("cell_id", "pos").agg(
                F.sort_array(
                    F.collect_list(F.struct(F.col("i"), F.col("val")))
                ).alias("vals")
            )
            sums = vals.select(
                "cell_id",
                "pos",
                (
                    F.aggregate(
                        "vals", F.lit(0.0), lambda acc, s: acc + s["val"]
                    )
                    / F.size("vals")
                ).alias("mean"),
            )
        else:
            sums = ex.groupBy("cell_id", "pos").agg(
                F.avg("val").alias("mean")
            )
        cents = (
            sums.groupBy("cell_id")
            .agg(F.sort_array(F.collect_list(F.struct("pos", "mean"))).alias("pm"))
            .select(
                "cell_id",
                F.transform("pm", lambda s: s["mean"]).alias("cell_vec"),
            )
        )
    return cents


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Approximate top-k: probe the nprobe nearest cells per query.

    Plan: corpus→cell assignment (broadcast argmax) once; queries→
    nprobe cells (broadcast, row_number over tiny set); candidates =
    equi-join on cell_id; exact rerank inside. The only corpus
    shuffle is the cell_id equi-join, and AQE handles cell-size skew.
    """
    assigned = assign_cells(embeddings, centroids, id_col, vec_col).join(
        embeddings, id_col
    )
    q_cells = (
        queries.crossJoin(F.broadcast(centroids))
        .withColumn("sim", cosine(F.col(q_vec_col), F.col("cell_vec")))
        .withColumn(
            "nth",
            F.row_number().over(
                Window.partitionBy(q_id_col).orderBy(
                    F.desc("sim"), F.asc("cell_id")
                )
            ),
        )
        .filter(F.col("nth") <= nprobe)
        .select(q_id_col, q_vec_col, "cell_id")
    )
    cands = assigned.join(q_cells, "cell_id").where(
        F.col(id_col) != F.col(q_id_col)
    )
    scored = cands.select(
        q_id_col, id_col, cosine(F.col(q_vec_col), F.col(vec_col)).alias("cos")
    )
    # two-phase top-k: no per-query sort task even when a probed cell
    # is hot
    return _topk_per_query(scored, q_id_col, id_col, k)
