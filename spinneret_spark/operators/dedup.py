"""Deduplication family over document corpora.

Four tiers, cheapest to richest (north-rule canonicalization +
training-data-pipeline dedup):

* exact          — md5 fingerprint group-by (one shuffle on a short key)
* ngram-jaccard  — exact word-shingle Jaccard over per-doc shingle-hash
                   sets, counted by block-pair numpy kernels
* minhash-lsh    — k-permutation MinHash signatures + banded join
                   (the blocking stage: candidate generation at scale)
* simhash        — near-dup via Hamming-close fingerprints with banded
                   blocking

Every shingle-based tier reads one kernel,
:func:`_shingle_kernel`: a doc's distinct word n-gram shingles
hashed to longs, built in one Arrow crossing per batch
(``mapInPandas``) under a hash family:

* ``"md5"``  — the portable md5 long of each shingle string
  (functions.hashing.md5_int), so the oracle-checked queries
  (n-gram Jaccard, MinHash) have bit-exact DuckDB twins;
* ``"crc32"`` — crc32 per token with a rolling window, cheaper; the
  canonicalize pipeline's signatures and verification, whose persisted
  ``canon_signatures`` depend on these exact values.

Exact dedup, the 16-bit SimHash and the LSH banding are built-in
expressions with DuckDB twins. At 100 TB the shuffle keys here are the
scale story: shingle/band buckets are power-law hot, so candidate
joins cap bucket sizes (DF filter, logged) and run under AQE skew
splitting — see lsh_candidate_pairs.
"""

from __future__ import annotations

import hashlib
import math
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spinneret_spark.materialize import materialize as _materialize
from spinneret_spark.functions.hashing import (
    MERSENNE_P,
    MINHASH_K,
    MINHASH_PARAMS,
    md5_int,
)
from spinneret_spark.functions.text import tokens

#: docs per block of the blocked Jaccard plan — measured best at sf1.0
#: (50k docs): 6.2 s vs 7.7 (4096) / 13.1 (8192, tasks too coarse) /
#: 12.7 (1024, B×corpus replication dominates)
_JACCARD_BLOCK_DOCS = 2048

_PERM_A = np.array([a for a, _ in MINHASH_PARAMS], dtype=np.int64)[:, None]
_PERM_B = np.array([b for _, b in MINHASH_PARAMS], dtype=np.int64)[:, None]


def exact_dedup(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(fingerprint, keep_id, n_dups): canonical = min id per md5."""
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


def _shingle_kernel(n: int, family: str):
    """The shingle kernel: a function ``(ids, texts, memo) -> (ids,
    sets)`` giving, for the docs of one batch with at least ``n``
    tokens, each doc's distinct word n-gram shingle hashes as an int64
    array. Tokenization matches ``functions.text.tokens`` (split on
    single space, drop empties).

    ``family="crc32"``: crc32 per token mod p, the rolling
    ``w·31 + t`` window mod p, distinct values (sorted).
    ``family="md5"``: string-distinct shingles (first-occurrence
    order), each hashed to ``int(md5 hex[:15], 16)`` — the integer
    ``md5_int`` gives in Spark and DuckDB.

    ``memo`` is the caller's per-task cache (token → crc32, shingle →
    md5): web/templated corpora repeat heavily (df ~94 on the bench
    corpus), so hashing costs ~vocabulary, not corpus tokens; the
    values are identical.

    A closure, so cloudpickle ships it inside the task: a module-level
    function would make every new Python worker import this module —
    compiled from source when bytecode caching is off, ~20 ms a worker,
    measured +0.5 s on a delta canonicalize of 8 pages."""
    if family not in ("crc32", "md5"):
        raise ValueError(f"hash family {family!r} not in crc32|md5")
    crc32 = family == "crc32"

    def batch_sets(ids, texts, memo: dict):
        out_ids, out_sets = [], []
        for doc_id, text in zip(ids, texts):
            toks = [t for t in text.split(" ") if t] if text else []
            if len(toks) < n:
                continue
            w = len(toks) - n + 1
            if crc32:
                th = []
                for t in toks:
                    h = memo.get(t)
                    if h is None:
                        h = memo[t] = zlib.crc32(t.encode("utf-8"))
                    th.append(h)
                th = np.array(th, dtype=np.int64) % MERSENNE_P
                win = th[:w]
                for j in range(1, n):
                    win = win * 31 + th[j : w + j]
                sh_set = np.unique(win % MERSENNE_P)
            else:
                hs = []
                shs = (" ".join(toks[i : i + n]) for i in range(w))
                for sh in dict.fromkeys(shs):
                    h = memo.get(sh)
                    if h is None:
                        h = memo[sh] = int(
                            hashlib.md5(sh.encode("utf-8")).hexdigest()[:15],
                            16,
                        )
                    hs.append(h)
                sh_set = np.array(hs, dtype=np.int64)
            out_ids.append(doc_id)
            out_sets.append(sh_set)
        return out_ids, out_sets

    return batch_sets


def _spread(docs: DataFrame, id_col: str, text_col: str, n_rows: int):
    """``docs``' (id, text) columns hash-repartitioned for a Python
    kernel: corpora this small arrive as one scan split, which would
    serialize the kernel. Partition count scales with the corpus
    (≥~512 docs per task — below that the worker/batch fixed costs
    dominate, measured +0.5-0.7 s per query at 5k docs with 64 tasks),
    capped at 2× the cluster parallelism."""
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    n_parts = max(4, min(2 * parallelism, math.ceil(n_rows / 512)))
    return docs.select(id_col, text_col).repartition(n_parts, F.col(id_col))


def shingle_sets(
    docs: DataFrame,
    n: int,
    family: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, arr array<long>, n_sh int): each doc's distinct shingle-hash
    set under hash ``family`` (see :func:`_shingle_kernel`), one
    ``mapInPandas`` over ``docs`` as partitioned. Docs with fewer than
    ``n`` tokens emit no row."""
    id_type = docs.schema[id_col].dataType.simpleString()
    batch_sets = _shingle_kernel(n, family)

    def kernel(batches):
        memo: dict = {}
        for pdf in batches:
            ids, sets = batch_sets(pdf[id_col], pdf[text_col], memo)
            # explicit dtypes: an empty batch would otherwise produce
            # float64 columns Arrow cannot cast to list<long>/string
            yield pd.DataFrame(
                {
                    "id": pd.Series(ids, dtype=object),
                    "arr": pd.Series(sets, dtype=object),
                    "n_sh": pd.Series([len(s) for s in sets], dtype="int32"),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(
        kernel, schema=f"id {id_type}, arr array<long>, n_sh int"
    )


def _signatures(
    docs: DataFrame, k: int, n: int, family: str, id_col: str, text_col: str
) -> DataFrame:
    """(id, mh0..mh{k-1}): the shingle kernel plus per-doc MinHash in
    one ``mapInPandas`` over ``docs`` as partitioned.

    A doc's MinHash is min over its set of (a·(x mod p) + b) mod p for
    the k permutations — the integers of
    ``functions.hashing.minhash_value`` (a, x < 2³¹, so int64 never
    overflows). Per doc, so memory stays k × |set|: a k × (batch
    shingles) matrix would reach GBs on 10 KB pages."""
    id_type = docs.schema[id_col].dataType.simpleString()
    fields = ", ".join(f"mh{i} long" for i in range(k))
    a, b = _PERM_A[:k], _PERM_B[:k]
    batch_sets = _shingle_kernel(n, family)

    def kernel(batches):
        memo: dict = {}
        for pdf in batches:
            ids, sets = batch_sets(pdf[id_col], pdf[text_col], memo)
            sig = np.array(
                [((a * (x % MERSENNE_P) + b) % MERSENNE_P).min(axis=1)
                 for x in sets],
                dtype=np.int64,
            ).reshape(len(sets), k)
            data = {"id": pd.Series(ids, dtype=object)}
            for i in range(k):
                data[f"mh{i}"] = sig[:, i]
            yield pd.DataFrame(data)

    return docs.select(id_col, text_col).mapInPandas(
        kernel, schema=f"id {id_type}, {fields}"
    )


def minhash_signatures_pandas(
    docs: DataFrame,
    k: int = MINHASH_K,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash signatures over crc32 shingle sets — the canonicalize
    pipeline's signatures, computed where the docs live (no
    repartition, no count). Each doc is one numpy pass (~0.3 ms per
    10 KB page); the expression plan it replaced evaluated Catalyst
    higher-order functions per shingle, outside whole-stage codegen.
    Docs with fewer than n tokens emit no signature."""
    return _signatures(docs, k, n, "crc32", id_col, text_col)


def minhash_signatures(
    docs: DataFrame,
    k: int = MINHASH_K,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash signatures over md5 shingle sets: the same kernel and
    permutations as :func:`minhash_signatures_pandas`, in the hash
    family the DuckDB oracle reproduces (``MIN(minhash_value_sql(
    md5_int(shingle), i))``). The corpus is spread over the cluster
    first (one count). Docs with fewer than n tokens emit no
    signature."""
    return _signatures(
        _spread(docs, id_col, text_col, docs.count()),
        k, n, "md5", id_col, text_col,
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs (id_a < id_b, jaccard ≥
    threshold) over md5 shingle sets, so the DuckDB oracle's
    inverted-index join on ``md5_int(shingle)`` gives the same rows.

    The per-doc sets feed block-pair counting kernels
    (:func:`_jaccard_pairs_blocked`). The only exchange is the
    block-pair replication of the set arrays — O(B × corpus sets),
    ~8 bytes/shingle — instead of the inverted-index self-join's
    Σ_s df(s)² row explosion. Measured at sf1.0 (50k docs, avg
    shingle df 94): Σ df² = 257M join rows, 210 s for the join plan
    vs ~8 s blocked — the same pair touches, inside numpy at memory
    bandwidth. Prefix filtering was measured first and rejected: this
    corpus's shingle vocabulary is small and uniformly hot (27.9k
    shingles), so the t=0.5 prefix index still yields Σ pdf² = 111M.

    Jaccard = common/(|A|+|B|-common) is a ratio of exact ints
    (IEEE double division, like the oracle), so the filter is
    engine-stable."""
    n_docs = docs.count()
    per_doc = shingle_sets(
        _spread(docs, id_col, text_col, n_docs), n, "md5", id_col, text_col
    )
    id_type = docs.schema[id_col].dataType.simpleString()
    return _jaccard_pairs_blocked(per_doc, threshold, id_type, n_docs)


def _jaccard_blocks(n_docs: int, parallelism: int) -> int:
    """Block count for the blocked Jaccard plan, scale-adaptive: B
    grows with corpus size (bounds per-kernel memory to
    ~_JACCARD_BLOCK_DOCS docs per block) with a floor that keeps
    B(B+1)/2 tasks ≥ the cluster's parallelism on small inputs —
    never a constant tuned to one box."""
    b = max(1, math.ceil(n_docs / _JACCARD_BLOCK_DOCS))
    # parallelism floor: B(B+1)/2 >= parallelism, but never blocks
    # smaller than ~512 docs (kernel setup would dominate)
    floor = min(
        math.ceil(n_docs / 512),
        math.ceil(math.sqrt(2 * max(1, parallelism))),
    )
    return max(1, min(256, max(b, floor)))


def _index_dtype(n_rows: int, n_post: int, total: int):
    """Index dtype for the block-pair kernel: int32 (twice the memory
    bandwidth in the hot repeat/gather/sort passes) only when every
    value it holds fits — pair keys below n_rows², posting positions
    up to n_post and pair-touch offsets up to total. ``total`` passes
    2³¹ long before n_rows does: ~4k templated pages sharing ~300
    boilerplate shingles already make 4096²/2 × 300 ≈ 2.5·10⁹."""
    fits = max(n_rows * n_rows, n_post, total) <= np.iinfo(np.int32).max
    return np.int32 if fits else np.int64


_EMPTY_PAIRS = {
    "id_a": pd.Series([], dtype=object),
    "id_b": pd.Series([], dtype=object),
    "jaccard": pd.Series([], dtype="float64"),
}


def _block_pair_jaccard(
    pdf: pd.DataFrame, threshold: float, cross: bool
) -> pd.DataFrame:
    """(id_a, id_b, jaccard) pairs at or above ``threshold`` among the
    set rows (id, arr, n_sh, bk) of one block pair; ``cross`` keeps
    only pairs whose rows sit in different blocks.

    Pure numpy: radix-sort the postings, expand per-shingle doc-index
    cross-products (Σ m² vectorized ops, no Python loop over rows),
    count pairs with one sort + run-length pass, then filter
    common/(n_a+n_b-common) ≥ threshold."""
    n_rows = len(pdf)
    if n_rows < 2:
        return pd.DataFrame(_EMPTY_PAIRS)
    ids = pdf["id"].to_numpy()
    nsh = pdf["n_sh"].to_numpy().astype(np.int64)
    blk = pdf["bk"].to_numpy()
    cols = np.concatenate([np.asarray(a, dtype=np.int64) for a in pdf["arr"]])
    n_post = len(cols)
    pdt = _index_dtype(n_rows, n_post, 0)
    # postings: (row index, shingle) exploded from the arrays
    row_of = np.repeat(np.arange(n_rows, dtype=pdt), nsh)
    # stable sort by shingle value: postings of one shingle form a
    # run, and WITHIN the run row indices stay ascending — so
    # position order is row order and the upper triangle can be
    # generated positionally
    order = np.argsort(cols, kind="stable")
    sc, sr = cols[order], row_of[order]
    new_grp = np.empty(n_post, dtype=bool)
    new_grp[0] = True
    np.not_equal(sc[1:], sc[:-1], out=new_grp[1:])
    gid = np.cumsum(new_grp, dtype=pdt) - 1
    m = np.bincount(gid).astype(pdt)
    offs = np.zeros(len(m), dtype=pdt)
    np.cumsum(m[:-1], out=offs[1:])
    # pairs contributed by each posting as the 'a' side: the
    # members AFTER it in its run (upper triangle, a_row < b_row)
    local = np.arange(n_post, dtype=pdt) - offs[gid]
    m_r = m[gid] - 1 - local
    total = int(m_r.sum(dtype=np.int64))
    if total == 0:
        return pd.DataFrame(_EMPTY_PAIRS)
    idt = _index_dtype(n_rows, n_post, total)
    a_rows = np.repeat(sr, m_r)
    row_starts = np.zeros(n_post, dtype=np.int64)
    np.cumsum(m_r[:-1], out=row_starts[1:])
    k = np.arange(total, dtype=idt) - np.repeat(row_starts, m_r).astype(idt)
    b_rows = sr[np.repeat(np.arange(1, n_post + 1, dtype=idt), m_r) + k]
    # common-shingle count per pair: radix sort + run-length pass
    pair_key = np.sort(a_rows.astype(idt) * idt(n_rows) + b_rows, kind="stable")
    bounds = np.empty(total, dtype=bool)
    bounds[0] = True
    np.not_equal(pair_key[1:], pair_key[:-1], out=bounds[1:])
    upairs = pair_key[bounds]
    common = np.diff(np.append(np.flatnonzero(bounds), total))
    ar = upairs // n_rows
    br = upairs - ar * n_rows
    if cross:
        # within-block pairs belong to this group's diagonal twins
        sel = blk[ar] != blk[br]
        ar, br, common = ar[sel], br[sel], common[sel]
    # integer pre-filter (epsilon-loose) before the exact-division
    # check: jac >= t  <=>  common*(1+t) >= t*(na+nb)
    na, nb = nsh[ar], nsh[br]
    cand = common * (1.0 + threshold) >= threshold * (na + nb) - 1e-9
    ar, br = ar[cand], br[cand]
    common, na, nb = common[cand], na[cand], nb[cand]
    jac = common / (na + nb - common)
    sel = (jac >= threshold) & (ids[ar] != ids[br])
    ar, br, jac = ar[sel], br[sel], jac[sel]
    ia, ib = ids[ar], ids[br]
    return pd.DataFrame(
        {"id_a": np.minimum(ia, ib), "id_b": np.maximum(ia, ib), "jaccard": jac}
    )


def _jaccard_pairs_blocked(
    per_doc: DataFrame,
    threshold: float,
    id_type: str,
    n_docs_hint: int,
) -> DataFrame:
    """Exact Jaccard pairs from a per-doc shingle-hash-set relation
    (id, arr array<long>, n_sh int) via block-pair counting kernels
    (see ngram_jaccard_pairs).

    Each doc's set row is replicated to its B block-pair groups, and
    every group's kernel (:func:`_block_pair_jaccard`) counts |A∩B|
    for all co-shingle pairs it owns: an unordered pair (a, b) lands
    in exactly one group ({block(a), block(b)}), cross-block groups
    keep only cross-block pairs, so no pair is emitted twice. The
    explicit repartition on the group key keeps one kernel task per
    block pair: without it AQE coalesces the ~5 MB groups into a
    handful of fat partitions and the kernels run nearly serial."""
    spark = per_doc.sparkSession
    n_blocks = _jaccard_blocks(
        n_docs_hint, spark.sparkContext.defaultParallelism
    )
    rep = per_doc.withColumn(
        "bk", F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).cast("int")
    )
    pair_structs = [
        F.struct(
            F.least(F.col("bk"), F.lit(j)).alias("bi"),
            F.greatest(F.col("bk"), F.lit(j)).alias("bj"),
        )
        for j in range(n_blocks)
    ]
    rep = rep.select(
        "id",
        "arr",
        "n_sh",
        "bk",
        F.explode(F.array(*pair_structs)).alias("bp"),
    ).select("id", "arr", "n_sh", "bk", "bp.bi", "bp.bj")

    def kernel(key, pdf):
        bi, bj = key
        return _block_pair_jaccard(pdf, threshold, bi != bj)

    n_groups = n_blocks * (n_blocks + 1) // 2
    rep = rep.repartition(min(n_groups, 2048), "bi", "bj")
    return rep.groupBy("bi", "bj").applyInPandas(
        kernel, schema=f"id_a {id_type}, id_b {id_type}, jaccard double"
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket: int | None = 500,
    materialize: bool = True,
) -> DataFrame:
    """Banded LSH blocking: distinct candidate pairs (id_a < id_b).

    Each signature is folded into ``bands`` bucket keys
    (md5 of the ':'-joined band rows), exploded to (band, key) and
    self-joined on equality. Hot buckets (near-identical boilerplate
    at web scale) are capped at ``max_bucket`` docs — beyond that the
    bucket is dropped (its members are still found via other bands or
    the verify stage); AQE skew-join splits what remains.

    ``materialize`` (default) checkpoints the signature relation
    first: the self-join's sides and the hot-bucket scan otherwise
    each replay the upstream signature computation (the MinHash
    aggregation / Arrow kernel). Signatures are k longs per doc —
    tiny next to their build cost. Measured at sf0.1: 4.5s → 2.2s
    cold, warm within noise (exchange reuse covers part of it).
    """
    if materialize:
        signatures = _materialize(signatures)
    exploded = _band_buckets(signatures, bands, rows_per_band, max_bucket)
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(b, ["band", "key"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def _band_buckets(
    signatures: DataFrame,
    bands: int,
    rows_per_band: int,
    max_bucket: int | None,
) -> DataFrame:
    """(id, band, key) bucket rows for banded LSH, hot buckets
    dropped — the shared half of the symmetric and asymmetric pair
    joins."""
    band_cols = []
    for bnd in range(bands):
        cols = [
            F.col(f"mh{bnd * rows_per_band + r}").cast("string")
            for r in range(rows_per_band)
        ]
        band_cols.append(
            F.struct(
                F.lit(bnd).alias("band"),
                F.md5(F.concat_ws(":", *cols)).alias("key"),
            )
        )
    exploded = signatures.select(
        "id", F.explode(F.array(*band_cols)).alias("bk")
    ).select("id", "bk.band", "bk.key")
    if max_bucket is not None:
        hot = (
            exploded.groupBy("band", "key")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > max_bucket)
            .select("band", "key")
        )
        exploded = exploded.join(F.broadcast(hot), ["band", "key"], "left_anti")
    return exploded


def lsh_candidate_pairs_against(
    probe_signatures: DataFrame,
    signatures: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket: int | None = 500,
    materialize: bool = True,
    stats_out: dict | None = None,
) -> DataFrame:
    """Asymmetric banded LSH: candidate pairs where at least one
    endpoint comes from ``probe_signatures`` (a subset of
    ``signatures``, same schema).

    ``stats_out`` (optional dict) receives ``{"capped_buckets": n}`` —
    how many probe-touched buckets exceeded ``max_bucket`` and were
    dropped. Zero certifies the candidate set is exactly what an
    uncapped run would produce for these probes, which is the
    precondition for monotone-merge shortcuts downstream (a capped
    bucket can silently retire candidate pairs, so component merges
    are no longer provably append-only). Costs one tiny aggregation
    over the (materialized, probe-touched) bucket relation.

    The incremental-canonicalization primitive: a delta run only needs
    pairs touching a re-signed document, so instead of the corpus×
    bands SELF-join, the tiny probe side is BROADCAST against the
    full bucket relation. EVERY post-scan step is map-side or over
    probe-touched rows only: the bucket relation is first semi-joined
    to the probe's (band, key) set (broadcast), so even the
    hot-bucket count — a full-corpus shuffle in the symmetric join —
    aggregates only probe-touched buckets, and its hot rows are
    collected once. Semi-joined rows retain a
    bucket's ENTIRE population, so the counts (and therefore the caps
    and the kept candidate set) match the symmetric join's exactly.
    """
    exploded = _band_buckets(signatures, bands, rows_per_band, None)
    probe = _band_buckets(probe_signatures, bands, rows_per_band, None).select(
        F.col("id").alias("probe_id"), "band", "key"
    )
    # no distinct: a semi-join ignores duplicate keys, and a distinct
    # would cost a shuffle job
    probe_keys = probe.select("band", "key")
    touched = exploded.join(
        F.broadcast(probe_keys), ["band", "key"], "left_semi"
    )
    if materialize:
        # the semi-join embeds the full-corpus band expansion; its
        # consumers (hot-bucket count, anti-join, final probe join)
        # would each replay that scan — pin the (small, probe-touched)
        # result once instead
        touched = _materialize(touched)
    if max_bucket is not None:
        from spinneret_spark.sinks.tables import local_frame

        # the hot rows are collected ONCE: their count is the stat, and
        # the anti-join reads them back as a local relation instead of
        # re-running the aggregation
        hot = (
            touched.groupBy("band", "key")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > max_bucket)
            .select("band", "key")
            .collect()
        )
        if stats_out is not None:
            stats_out["capped_buckets"] = len(hot)
        hot_df = local_frame(
            touched.sparkSession,
            [tuple(r) for r in hot],
            "band int, key string",
        )
        touched = touched.join(
            F.broadcast(hot_df), ["band", "key"], "left_anti"
        )
    elif stats_out is not None:
        stats_out["capped_buckets"] = 0
    return (
        touched.join(F.broadcast(probe), ["band", "key"])
        .where(F.col("id") != F.col("probe_id"))
        .select(
            F.least("id", "probe_id").alias("id_a"),
            F.greatest("id", "probe_id").alias("id_b"),
        )
        .distinct()
    )


def simhash_fingerprints(
    docs: DataFrame,
    bits: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document SimHash fingerprint from token md5 bits.

    bit j of the fingerprint = sign of Σ_tokens (±1 per token's md5
    bit j). Small bit width keeps the oracle SQL tractable; widen for
    production (the plan shape is identical).
    """
    tok = docs.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )
    h = md5_int(F.col("token"))
    sums = tok.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(bits)
        ]
    )
    fp = None
    for j in range(bits):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return sums.select("id", fp.alias("simhash"))


def simhash_fingerprints_pandas(
    docs: DataFrame,
    bits: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    md5_compat: bool = False,
) -> DataFrame:
    """SimHash fingerprints via a vectorized Arrow kernel — the
    production path (sibling of :func:`minhash_signatures_pandas`,
    same rationale: the expression path explodes every token and
    shuffles a ``bits``-column conditional aggregate, all outside
    whole-stage codegen).

    Per document: one token-hash gather (memoized across the batch —
    web text repeats tokens heavily), then a single numpy
    (tokens × bits) sign accumulation; no shuffle at all — the
    fingerprint is computed where the document lives. Default token
    hash is blake2b-64 (full 64-bit fingerprints); ``md5_compat=True``
    switches to the 60-bit portable md5 hash so the kernel reproduces
    :func:`simhash_fingerprints` bit-for-bit at ``bits<=16`` (the
    agreement pytest). Tokenization matches ``functions.text.tokens``.
    Docs with no tokens emit fingerprint 0, like the expression path
    emits no row — callers treat absent/0 alike (empty docs dedup via
    the exact tier anyway).
    """
    import hashlib

    import numpy as np

    id_type = docs.schema[id_col].dataType.simpleString()
    schema = f"id {id_type}, simhash long"
    shifts = np.arange(bits, dtype=np.uint64)

    if md5_compat:
        def _hash(tok: str) -> int:
            return int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:15], 16)
    else:
        def _hash(tok: str) -> int:
            return int.from_bytes(
                hashlib.blake2b(tok.encode("utf-8"), digest_size=8).digest(),
                "big",
            )

    def kernel(batches):
        cache: dict[str, int] = {}
        for pdf in batches:
            ids, fps = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = [t for t in text.split(" ") if t] if text else []
                if not toks:
                    ids.append(doc_id)
                    fps.append(0)
                    continue
                hs = np.empty(len(toks), dtype=np.uint64)
                for i, t in enumerate(toks):
                    h = cache.get(t)
                    if h is None:
                        h = _hash(t)
                        cache[t] = h
                    hs[i] = h
                # (tokens × bits) ±1 accumulation, fully vectorized
                bitmat = (hs[:, None] >> shifts) & np.uint64(1)
                sums = (2 * bitmat.astype(np.int64) - 1).sum(axis=0)
                fp = int(((sums > 0).astype(np.uint64) << shifts).sum())
                if fp >= 1 << 63:
                    fp -= 1 << 64  # two's-complement into signed long
                ids.append(doc_id)
                fps.append(fp)
            yield pd.DataFrame(
                {"id": ids, "simhash": pd.array(fps, dtype="int64")}
            )

    return docs.select(id_col, text_col).mapInPandas(kernel, schema=schema)


def simhash_pairs_from_fingerprints(
    fp: DataFrame,
    max_hamming: int = 3,
    bits: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Hamming-close pairs from a (id, simhash) table via banded
    blocking: by pigeonhole, two fingerprints within
    ``max_hamming < bands`` bit flips agree on at least one of
    ``bands`` bit-slices, so the candidate join is an equi-join on
    (band, slice-value) — never a cross join. Exact Hamming distance
    (bit_count of xor) filters the candidates."""
    width = bits // bands
    mask = (1 << width) - 1
    slices = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * width)
                .bitwiseAND(F.lit(mask))
                .alias("key"),
            )
            for b in range(bands)
        ]
    )
    exploded = fp.select("id", "simhash", F.explode(slices).alias("bk")).select(
        "id", "simhash", "bk.band", "bk.key"
    )
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(b, ["band", "key"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_near_dup_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bits: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Hamming-close SimHash pairs via banded blocking over the
    expression fingerprints (:func:`simhash_fingerprints`, the exact
    DuckDB-oracle twin). For 64-bit production fingerprints compose
    :func:`simhash_fingerprints_pandas` with
    :func:`simhash_pairs_from_fingerprints`."""
    fp = simhash_fingerprints(docs, bits=bits, id_col=id_col, text_col=text_col)
    return simhash_pairs_from_fingerprints(
        fp, max_hamming=max_hamming, bits=bits, bands=bands
    )


def minhash_estimate_pairs(
    signatures: DataFrame,
    candidates: DataFrame,
    k: int = MINHASH_K,
) -> DataFrame:
    """Estimated Jaccard for candidate pairs: fraction of agreeing
    MinHash components (the cheap sketch-side estimate that decides
    which pairs earn exact verification)."""
    a = signatures.select(
        F.col("id").alias("id_a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(k)]
    )
    b = signatures.select(
        F.col("id").alias("id_b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(k)]
    )
    matches = None
    for i in range(k):
        term = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        matches = term if matches is None else matches + term
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", (matches / F.lit(k)).alias("est_jaccard"))
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold.

    Brute-force within blocks: with ``block_col`` (e.g. an LSH bucket
    or IVF cell) the self-join is an equi-join on the block; without,
    it's a full cross pair-join — correct baseline, quadratic, for
    fixture scales only.
    """
    from spinneret_spark.functions.vectors import cosine

    a = embeddings.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        *([F.col(block_col)] if block_col else []),
    )
    b = embeddings.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        *([F.col(block_col)] if block_col else []),
    )
    joined = a.join(b, on=[block_col] if block_col else None, how="inner") \
        if block_col else a.crossJoin(b)
    return (
        joined.where(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cosine(F.col("vec_a"), F.col("vec_b")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


def blocked_embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    k: int = 8,
    iters: int = 5,
    fit_fraction: float = 1.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The production embedding near-dup composition: trained k-means
    blocking → within-cell cosine pairs — one call for the deployment
    surface (``jobs/run_pipeline.py --dedup-embeddings``).

    ``fit_fraction < 1`` is the 100 TB knob: Lloyd's iterations train
    on a deterministic md5-gated sample (``similarity.kmeans_fit``),
    while cell ASSIGNMENT still covers the whole corpus — the
    fit-on-sample / assign-on-corpus recipe every large-scale IVF
    build uses. The pair join stays an equi-join on ``cell_id``
    (never cartesian) regardless of the fraction.

    The assigned relation is materialized before the pair self-join:
    assignment costs a corpus×k broadcast argmax plus a join back for
    the vector payload, and the self-join would otherwise replay that
    build once per side.
    """
    from spinneret_spark.materialize import materialize
    from spinneret_spark.operators.similarity import assign_cells, kmeans_fit

    centroids = kmeans_fit(
        embeddings,
        k=k,
        iters=iters,
        id_col=id_col,
        vec_col=vec_col,
        fit_fraction=fit_fraction,
    )
    # assign_cells reduces to (id, cell_id); join the vector payload
    # back on the id before the within-cell pair join
    blocked = materialize(
        assign_cells(
            embeddings, centroids, id_col=id_col, vec_col=vec_col
        ).join(embeddings, id_col)
    )
    return embedding_near_dup_pairs(
        blocked,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        block_col="cell_id",
    )
