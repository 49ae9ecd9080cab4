"""Connected components via alternating large-star/small-star
(SURVEY.md J4/A4; north rule "GraphFrames-style connected components"
— GraphFrames itself is absent in-sandbox, and this alternating
algorithm is exactly what GraphFrames runs internally).

Why not plain min-label propagation: min-label needs O(diameter)
rounds, each a shuffle join plus a driver action — a 10^12-page
corpus with long near-dup chains serializes the whole canonicalize
phase behind it (measured: the round-1 bench missed the >=0.8 scaling
target exactly here). The alternating algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", 2014) converges in
O(log d) rounds by rewiring every node toward its neighborhood
minimum from both directions:

* large-star: for each node u, let m = min(N(u) ∪ {u}); connect every
  STRICTLY LARGER neighbor v > u directly to m.
* small-star: on edges oriented large→small, for each node u connect
  all of its (smaller) neighbors and u itself to m = min(N(u) ∪ {u}).

Both steps preserve connectivity and the invariant that every edge
(a, b) satisfies a > b; the fixpoint is a forest of stars whose roots
are the component minima. Each round is two shuffles + one
``localCheckpoint`` (lineage truncation, mandatory for iterative
plans) + one checksum aggregate for fixpoint detection.

Edge lists at or under ``small_graph_threshold`` (default 100k) skip
the loop entirely: ~10 driver-synchronized rounds of fixed latency
lose to one bounded collect + union-find down there (both paths are
equivalence-tested; set the threshold to 0 to force the loop).

Skew: a giant component's minimum accumulates the whole component as
direct neighbors, so the join of per-node minima back onto the edge
list has one mega-hot key per giant component. ``hot_threshold``
routes edge rows whose group key exceeds it through a broadcast join
of the (tiny) hot-key minima — functions.skew's split-hot-keys
pattern fused into the same aggregation — while AQE skew splitting
handles the residual moderate skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spinneret_spark.sinks import tables as sinks


def _orient(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Canonical directed edge set: (a, b) with a > b, no self-loops."""
    return (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("a"),
            F.least(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _join_mins(side: DataFrame, mins: DataFrame, hot_threshold: int) -> DataFrame:
    """side(a, b) ⋈ mins(a, m, deg) — with the hot group keys (deg >
    hot_threshold: giant-component minima) joined via broadcast so no
    single reducer receives a whole component's edges."""
    hot_mins = mins.where(F.col("deg") > hot_threshold).select("a", "m")
    cold = side.join(
        F.broadcast(hot_mins.select("a")), "a", "left_anti"
    ).join(mins.select("a", "m"), "a")
    hot = side.join(F.broadcast(hot_mins), "a")
    return cold.unionByName(hot)


def _large_star(edges: DataFrame, hot_threshold: int) -> DataFrame:
    """edges (a, b) any orientation → (v, m) for v ∈ N(u), v > u."""
    sym = edges.select("a", "b").unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    mins = sym.groupBy("a").agg(
        F.min("b").alias("mn"), F.count(F.lit(1)).alias("deg")
    ).select("a", F.least("a", "mn").alias("m"), "deg")
    return (
        _join_mins(sym, mins, hot_threshold)
        .where(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .distinct()
    )


def _small_star(edges: DataFrame, hot_threshold: int) -> DataFrame:
    """edges oriented (a > b) → (v, m) for v ∈ N(u) ∪ {u}, v ≠ m."""
    mins = edges.groupBy("a").agg(
        F.min("b").alias("m"), F.count(F.lit(1)).alias("deg")
    ).select("a", "m", "deg")
    rewired = (
        _join_mins(edges, mins, hot_threshold)
        .where(F.col("b") != F.col("m"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )
    self_edges = mins.select("a", F.col("m").alias("b"))
    return rewired.unionByName(self_edges).distinct()


def _checksum(edges: DataFrame) -> tuple[int, object]:
    """(row count, exact hash-sum) — two equal consecutive checksums
    mean the edge set reached fixpoint (decimal sum: exact, overflow-
    free under ANSI mode, collision odds ~2^-64 per round)."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
    ).first()
    return (row["n"], row["h"])


def _driver_union_find(cur: DataFrame) -> DataFrame:
    """Small-graph fast path: collect the (already oriented, deduped)
    edge list, run union-find with path halving on the driver, map
    every root to its component MINIMUM, and parallelize the
    assignment back out.

    Why this exists alongside the distributed loop: each large-star/
    small-star round costs two shuffles plus two driver-synchronized
    jobs (checkpoint + fixpoint checksum) — ~10 rounds of fixed
    latency that dominate wall-time when the edge list is small. A
    bounded collect (the caller gates on edge count) does the same
    work in one job each way and O(E α(E)) driver CPU. The
    distributed loop remains the only path above the gate.
    """
    pairs = [(r["a"], r["b"]) for r in cur.collect()]
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for node in parent:
        r = find(node)
        m = comp_min.get(r)
        if m is None or node < m:
            comp_min[r] = node
    t = cur.schema["a"].dataType.simpleString()
    return sinks.local_frame(
        cur.sparkSession,
        [(n, comp_min[find(n)]) for n in parent],
        f"node {t}, component {t}",
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    hot_threshold: int = 1_000_000,
    small_graph_threshold: int = 100_000,
) -> DataFrame:
    """edges(src, dst) → (node, component) with component = min node
    id in the component. Nodes appear iff they touch an edge; callers
    union isolated nodes afterwards (see :func:`components_with_isolated`).

    Edge lists at or under ``small_graph_threshold`` take the driver
    union-find fast path (see :func:`_driver_union_find` — round-trip
    latency beats shuffles down there; both paths are equivalence-
    tested). Set it to 0 to force the distributed loop.

    Raises ``RuntimeError`` if ``max_iter`` rounds pass without
    reaching fixpoint — a silently-split giant component flowing into
    canonical_entities would be a correctness bug, not a perf wart.
    """
    cur = _orient(edges, src, dst).localCheckpoint()
    n_edges = cur.count()
    if n_edges == 0:
        # no edges → every node is its own component; skip the loop
        return cur.select(
            F.col("a").alias("node"), F.col("a").alias("component")
        )
    if n_edges <= small_graph_threshold:
        return _driver_union_find(cur)
    # node universe is fixed up front: the star rewiring drops
    # interior nodes from later edge sets once they point at the root
    nodes = (
        cur.select(F.col("a").alias("node"))
        .unionByName(cur.select(F.col("b").alias("node")))
        .distinct()
        .localCheckpoint()
    )

    prev_sig = _checksum(cur)
    converged = False
    for _ in range(max_iter):
        cur = _small_star(
            _large_star(cur, hot_threshold), hot_threshold
        ).localCheckpoint()
        sig = _checksum(cur)
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "large-star/small-star rounds — graph is adversarial or "
            "max_iter is too low (O(log diameter) rounds expected)"
        )
    # fixpoint edge set is a star forest: (member, root) one row each;
    # roots (and only roots) never appear on the a-side
    star = cur.groupBy(F.col("a").alias("node")).agg(
        F.min("b").alias("component")
    )
    return nodes.join(star, "node", "left").select(
        "node", F.coalesce("component", F.col("node")).alias("component")
    )


def components_with_isolated(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    hot_threshold: int = 1_000_000,
    small_graph_threshold: int = 100_000,
) -> DataFrame:
    """CC over the full node set: isolated nodes get their own id."""
    cc = connected_components(
        edges, src, dst, max_iter, hot_threshold, small_graph_threshold
    )
    return (
        nodes.select(F.col(node_col).alias("node"))
        .join(cc, "node", "left")
        .select(
            "node", F.coalesce("component", F.col("node")).alias("component")
        )
    )
