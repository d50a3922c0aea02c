"""Graph operators expressed as keyed DataFrame programs.

Connected components live in ``pipelines/dedup.connected_components``
(pointer-jumping, used by the dedup clusters); this module holds the
rank-propagation side.  Everything is deterministic: DECIMAL
contribution sums (shuffle-order-independent) and fixed iteration
counts, so a SQL oracle can unroll the same program.
"""

from __future__ import annotations

from collections.abc import Sequence  # noqa: F401  (kept for sig parity)

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from ..plans.materialize import release

# Edge count under which the INTEGER-EXACT fixed-round kernels (BFS,
# k-core peel, label propagation) solve on the driver from one bounded
# collect: each distributed round costs 2-3 jobs of pure choreography,
# and the event-derived graphs these kernels run on are a tiny
# fraction of the corpus (the connected_components precedent,
# pipelines/dedup._DRIVER_CC_MAX_EDGES).  The distributed loops are
# untouched above the gate and remain the 100 TB path.  Only integral
# node types take the driver path — min/tie-break semantics on longs
# are engine-identical by construction; anything else falls through.
# PageRank/HITS stay distributed at every size: their DECIMAL
# contribution sums are plan-shaped, not worth re-proving driver-side.
_DRIVER_GRAPH_MAX_EDGES = 200_000

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def pagerank_fixed(
    edges: DataFrame,
    nodes: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank (power iteration unrolled ``iters``
    times from the uniform vector): ``pr' = (1-d)/N + d·Σ_in pr/outdeg``.
    Multi-edges contribute once each (weight = multiplicity via the
    edge list itself).  Callers must ensure every node has ≥1
    out-edge (no dangling-mass redistribution here — the caller's
    graph construction owns that contract).

    Scale shape per iteration: one src-keyed join (edge list × rank
    vector, co-partitioned on the node key at scale), one dst-keyed
    DECIMAL-sum aggregation, one left join back to the node list for
    zero-in-degree nodes.  Rank magnitudes are O(1/N); DECIMAL(38,18)
    sums keep the aggregation order-independent so the unrolled SQL
    oracle matches bit-for-bit after 6dp rounding of ``pr·N``.
    """
    n_nodes = nodes.count()  # bounded: one scalar, the only collect
    outdeg = edges.groupBy(src_col).agg(F.count(F.lit(1)).alias("_deg"))
    pr = nodes.select(
        F.col(node_col), F.lit(1.0 / n_nodes).alias("_pr")
    )
    base = (1.0 - damping) / n_nodes
    for _ in range(iters):
        contrib = (
            edges.join(pr, edges[src_col] == pr[node_col])
            .join(outdeg, src_col)
            .select(
                F.col(dst_col).alias("_to"),
                (F.col("_pr") / F.col("_deg")).alias("_c"),
            )
        )
        summed = contrib.groupBy("_to").agg(
            F.sum(F.col("_c").cast("decimal(38,18)")).cast("double").alias("_in")
        )
        pr = nodes.join(
            summed, nodes[node_col] == summed["_to"], "left"
        ).select(
            F.col(node_col),
            (base + damping * F.coalesce(F.col("_in"), F.lit(0.0))).alias("_pr"),
        )
    return pr.select(F.col(node_col), F.col("_pr").alias("pagerank"))


def triangle_participation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts over an undirected simple graph given
    as a (possibly duplicated, possibly bidirectional) edge list.

    Canonical compact-forward algorithm: orient every edge low→high
    id after dedup, enumerate wedges a<b<c by joining the oriented
    list with itself on the middle node, then close each wedge with a
    semi-check join against the oriented list on (a, c) — each
    triangle materializes exactly once, no post-hoc /3 or /6 division,
    no dedup shuffle.  Per-node participation = explode the three
    corners and count.

    Scale shape: three equi-joins on node keys — the join-based form
    of Suri & Vassilvitskii's MR triangle counting (WWW 2011).  The
    wedge join's cost is Σ deg(v)² on the JOIN KEY side; production
    graphs with power-law degrees orient by (degree, id) instead of
    raw id so every wedge pivots on its LOWEST-degree corner, bounding
    the blowup — same algorithm, one extra degree join, documented
    here as the knob (the catalog's bounded-degree generator graph
    does not need it).

    Output: (node, n_triangles) for EVERY node of the edge list,
    zero-participation rows included.
    """
    und = (
        edges.filter(F.col(src_col) != F.col(dst_col))
        .select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .distinct()
    )
    ab = und.select(F.col("u").alias("a"), F.col("v").alias("b"))
    bc = und.select(F.col("u").alias("b"), F.col("v").alias("c"))
    ac = und.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    corners = tri.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    )
    counts = corners.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    nodes = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .distinct()
    )
    return nodes.join(counts, "node", "left").select(
        "node",
        F.coalesce(F.col("n_triangles"), F.lit(0))
        .cast("bigint")
        .alias("n_triangles"),
    )


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    max_hops: int = 4,
) -> DataFrame:
    """Multi-source BFS: minimum hop distance from any source node,
    bounded at ``max_hops`` (nodes further away are absent from the
    output).  The bounded-frontier form of label propagation — the
    building block for k-hop neighborhoods, blast-radius queries, and
    graph-distance features at 100 TB.

    Each round expands ONLY the current frontier (nodes whose distance
    equals the round number minus one): one node-keyed join edge-list ×
    frontier plus one min-combine groupBy — two shuffles per round,
    both on the node key, so at scale both sides co-partition.  Rounds
    are fixed (``max_hops``), lineage is flattened per round with
    ``localCheckpoint`` (the iterative-DataFrame rule: an unflattened
    loop grows the plan exponentially).  Deterministic: min() combine,
    no RNG — a recursive-CTE SQL oracle walks the same fixpoint.

    Size-gated driver solve (``_DRIVER_GRAPH_MAX_EDGES``): BFS hops are
    a pure integer min-fixpoint, so below the gate the same bounded
    walk runs driver-side.  The size gate runs only after the cheap
    type checks pass, as one bounded agg that also detects NULL
    endpoints engine-side, so no Arrow collect is paid unless the
    graph is both small and NULL-free.  The edge projection is
    ``persist``-ed (not ``localCheckpoint``-ed), materialized once by
    the gate agg and read back by every later consumer — persist keeps
    LINEAGE so a lost executor recomputes blocks instead of failing
    the job, and MEMORY_AND_DISK spills a data-sized edge list instead
    of pinning it.
    """
    spark = edges.sparkSession
    node_dt = sources.schema[node_col].dataType
    # cheap type gate FIRST (no job): the driver walk needs integral,
    # exactly-matching node types on BOTH edge endpoints — a mixed-type
    # edge list (e.g. string src, long dst) would silently diverge from
    # the distributed join's implicit-cast semantics, and type equality
    # keeps the driver path's output schema identical to the
    # distributed union's coercion result
    type_ok = (
        isinstance(node_dt, _INTEGRAL)
        and edges.schema[src_col].dataType == node_dt
        and edges.schema[dst_col].dataType == node_dt
    )
    # persist(), not localCheckpoint: the edge lineage here typically
    # contains a corpus scan + distinct shuffle, so it is materialized
    # exactly ONCE (by the gate agg below) and every later consumer —
    # the driver fetch or the per-round loop joins — reads the cache.
    # persist keeps LINEAGE (a lost executor recomputes blocks instead
    # of failing the job) and MEMORY_AND_DISK spills a data-sized edge
    # list instead of pinning it; re-running the lineage per pass was
    # measured 1.5-2x worse (the distinct shuffle re-runs), and the
    # old eager localCheckpoint was the fault-tolerance hazard.
    edges = edges.select(src_col, dst_col).persist(StorageLevel.MEMORY_AND_DISK)
    src_frame = dist = None
    try:
        small = False
        if type_ok:
            # one bounded agg job materializes the cache, sizes the graph
            # AND detects NULLs engine-side (count(col) skips NULLs; NULL
            # endpoints have engine-specific join semantics, so those
            # graphs stay distributed) — no Arrow collect is paid unless
            # the graph is both small and NULL-free
            row = edges.agg(
                F.count(F.lit(1)).alias("n"),
                F.count(src_col).alias("ns"),
                F.count(dst_col).alias("nd"),
            ).first()
            small = (
                row["n"] <= _DRIVER_GRAPH_MAX_EDGES
                and row["ns"] == row["n"]
                and row["nd"] == row["n"]
            )
        if small:
            src_frame = (
                sources.select(node_col)
                .distinct()
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            srow = src_frame.agg(
                F.count(F.lit(1)).alias("n"), F.count(node_col).alias("nn")
            ).first()
            small = srow["n"] <= _DRIVER_GRAPH_MAX_EDGES and srow["nn"] == srow["n"]
        if small:
            epdf = edges.toPandas()
            spdf = src_frame.toPandas()
            adj: dict = {}
            for s, d in zip(epdf[src_col].tolist(), epdf[dst_col].tolist()):
                adj.setdefault(s, []).append(d)
            seen = {n: 0 for n in spdf[node_col].tolist()}
            frontier = set(seen)
            for h in range(1, max_hops + 1):
                nxt = set()
                for u in frontier:
                    for v in adj.get(u, ()):
                        if v not in seen:
                            seen[v] = h
                            nxt.add(v)
                if not nxt:
                    break
                frontier = nxt
            schema = T.StructType(
                [
                    T.StructField(node_col, node_dt),
                    T.StructField("hops", T.IntegerType()),
                ]
            )
            return spark.createDataFrame(sorted(seen.items()), schema)
        dist = sources.select(
            F.col(node_col), F.lit(0).alias("hops")
        ).distinct().localCheckpoint(eager=True)
        for h in range(1, max_hops + 1):
            frontier = dist.filter(F.col("hops") == h - 1).select(
                F.col(node_col).alias("_fnode")
            )
            reached = (
                edges.join(frontier, edges[src_col] == F.col("_fnode"))
                .select(F.col(dst_col).alias(node_col), F.lit(h).alias("hops"))
            )
            nxt = (
                dist.unionByName(reached)
                .groupBy(node_col)
                .agg(F.min("hops").alias("hops"))
                .localCheckpoint(eager=True)
            )
            release(dist)
            dist = nxt
        return dist
    except BaseException:
        if dist is not None:
            release(dist)
        raise
    finally:
        # every returned frame is driver-built or eagerly checkpointed,
        # so none of them reads these projections
        edges.unpersist(False)
        if src_frame is not None:
            src_frame.unpersist(False)


def kcore_peel(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Bounded-round k-core peeling over an undirected simple graph:
    each round drops every node whose CURRENT degree is below ``k``
    and the edges touching it, then recomputes degrees.  After enough
    rounds the survivor set is THE k-core (the unique maximal subgraph
    with min degree ≥ k — Seidman 1983; uniqueness is what makes the
    operator oracle-able).  Rounds are FIXED, not run-to-fixpoint, so
    both engines compute the identical bounded peel whether or not it
    has converged — callers that need the true core assert convergence
    (see ``tests/test_operators.py``: round R equals round R-1 on the
    catalog graph).

    Scale shape per round: one degree aggregation + two semi-joins on
    node keys (edges × survivor set, both endpoints) — the
    peeling-by-rounds form of distributed k-core (the O(rounds) upper
    bound is the graph's degeneracy ordering depth, small for the
    bounded-degree catalog graph; production power-law graphs take
    O(log n) rounds in practice).  Lineage flattens per round with
    ``localCheckpoint`` (the iterative-DataFrame rule).

    Output: (node, core_deg) for every node surviving round
    ``rounds``, with its degree inside the surviving subgraph.
    """
    # persist(), not localCheckpoint: the simple-edge lineage contains
    # a corpus scan + distinct shuffle, materialized exactly ONCE (by
    # the gate count) and read back by the driver fetch or round 1's
    # three consumers (degree agg + two semi-joins).  persist keeps
    # LINEAGE (lost executors recompute instead of failing) and
    # MEMORY_AND_DISK spills a data-sized edge set instead of pinning
    # it.  (NULL endpoints are impossible here: the src != dst filter
    # drops NULL comparisons.)
    und = (
        edges.filter(F.col(src_col) != F.col(dst_col))
        .select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # size-gated driver solve: the peel is pure integer degree counting
    # on the simple-edge set — below the gate, iterate the SAME fixed
    # rounds driver-side instead of paying ~3 jobs per round.  The
    # cheap type check runs FIRST so non-integral graphs never pay the
    # count job.
    cur = None
    try:
        u_dt = und.schema["u"].dataType
        if isinstance(u_dt, _INTEGRAL) and und.count() <= _DRIVER_GRAPH_MAX_EDGES:
            spark = edges.sparkSession
            updf = und.toPandas()  # Arrow transfer, bounded by the gate
            cur_pairs = set(zip(updf["u"].tolist(), updf["v"].tolist()))
            for _ in range(rounds):
                deg: dict = {}
                for u, v in cur_pairs:
                    deg[u] = deg.get(u, 0) + 1
                    deg[v] = deg.get(v, 0) + 1
                keep = {n for n, d in deg.items() if d >= k}
                cur_pairs = {
                    (u, v) for (u, v) in cur_pairs if u in keep and v in keep
                }
            core_deg: dict = {}
            for u, v in cur_pairs:
                core_deg[u] = core_deg.get(u, 0) + 1
                core_deg[v] = core_deg.get(v, 0) + 1
            schema = T.StructType(
                [
                    T.StructField("node", u_dt),
                    T.StructField("core_deg", T.LongType()),
                ]
            )
            return spark.createDataFrame(sorted(core_deg.items()), schema)
        cur = und
        for _ in range(rounds):
            deg = (
                cur.select(F.col("u").alias("node"))
                .unionByName(cur.select(F.col("v").alias("node")))
                .groupBy("node")
                .agg(F.count(F.lit(1)).alias("deg"))
            )
            keep = deg.filter(F.col("deg") >= k).select("node")
            nxt = (
                cur.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
                .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
                .select("u", "v")
                .localCheckpoint(eager=True)
            )
            release(cur)
            cur = nxt
        return (
            cur.select(F.col("u").alias("node"))
            .unionByName(cur.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("bigint").alias("core_deg"))
        )
    except BaseException:
        if cur is not None:
            release(cur)
        raise
    finally:
        # the returned frame only reads the simple-edge set when
        # rounds == 0, and persist kept lineage, so this is safe even then
        und.unpersist(False)


def label_propagation(
    edges: DataFrame,
    rounds: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007, the near-linear-time community baseline; GraphFrames
    ships the same synchronous variant as ``labelPropagation``): every
    node starts as its own label, and each round every node adopts the
    most frequent label among its neighbors, ties broken by the
    SMALLEST label — the determinism knob that makes the operator
    value-reproducible (the classic formulation breaks ties randomly;
    any fixed total order works and changes nothing structural).

    Edges are treated as DIRECTED here; symmetrize upstream for the
    undirected form.  Rounds are FIXED, not run to convergence:
    synchronous LPA can 2-cycle on bipartite structures, so production
    deployments cap rounds (GraphFrames requires maxIter) — and a
    fixed round count is also what keeps the SQL oracle an unrolled
    finite program.

    Per round: one node-keyed join (edge list × labels), one
    (node, label) count agg, one per-node argmax window — three
    exchanges all hashed on the node key, so at scale they
    co-partition; lineage is flattened per round with
    ``localCheckpoint`` (the iterative-DataFrame rule).  A node adopts
    labels from its OUT-neighbors (src collects dst labels); a node
    with no out-edges keeps its previous label.  Symmetrized input
    makes both statements the undirected neighbor rule.

    Output: (node, label) after ``rounds`` synchronous updates.
    """
    from pyspark.sql import Window

    # size-gated driver solve: the synchronous update is integer label
    # counting with a (count DESC, label ASC) argmax — engine-identical
    # on integral labels, so below the gate the SAME fixed rounds run
    # driver-side (each distributed round costs a join + agg + window
    # + checkpoint of pure choreography on a KB-scale graph).  The
    # cheap type gate runs FIRST (no job); the size gate is one
    # bounded agg that also detects NULL endpoints engine-side, so no
    # Arrow collect is paid unless the graph is both small and
    # NULL-free.  The projection is persist()-ed, not
    # localCheckpoint-ed — materialized once by the gate agg, read
    # back by the driver fetch or the per-round loop joins; persist
    # keeps LINEAGE (lost executors recompute instead of failing) with
    # MEMORY_AND_DISK spill for data-sized graphs.  Duplicate
    # (src, dst) rows keep their multiplicity exactly as the
    # distributed count does.
    src_dt = edges.schema[src_col].dataType
    type_ok = (
        isinstance(src_dt, _INTEGRAL)
        and edges.schema[dst_col].dataType == src_dt
    )
    edges = edges.select(src_col, dst_col).persist(StorageLevel.MEMORY_AND_DISK)
    labels = None
    try:
        small = False
        if type_ok:
            row = edges.agg(
                F.count(F.lit(1)).alias("n"),
                F.count(src_col).alias("ns"),
                F.count(dst_col).alias("nd"),
            ).first()
            small = (
                row["n"] <= _DRIVER_GRAPH_MAX_EDGES
                and row["ns"] == row["n"]
                and row["nd"] == row["n"]
            )
        if small:
            epdf = edges.toPandas()
            spark = edges.sparkSession
            out_adj: dict = {}
            node_set: set = set()
            for s, d in zip(epdf[src_col].tolist(), epdf[dst_col].tolist()):
                out_adj.setdefault(s, []).append(d)
                node_set.add(s)
                node_set.add(d)
            lab = {n: n for n in node_set}
            for _ in range(rounds):
                new_lab = dict(lab)
                for n, outs in out_adj.items():
                    cnt: dict = {}
                    for d in outs:
                        dl = lab[d]
                        cnt[dl] = cnt.get(dl, 0) + 1
                    new_lab[n] = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
                lab = new_lab
            schema = T.StructType(
                [
                    T.StructField("node", src_dt),
                    T.StructField("label", src_dt),
                ]
            )
            return spark.createDataFrame(sorted(lab.items()), schema)
        nodes = (
            edges.select(F.col(src_col).alias("node"))
            .unionByName(edges.select(F.col(dst_col).alias("node")))
            .distinct()
        )
        labels = nodes.select("node", F.col("node").alias("label")).localCheckpoint(
            eager=True
        )
        for _ in range(rounds):
            neigh = edges.join(
                labels.withColumnRenamed("node", "_ln"),
                F.col(dst_col) == F.col("_ln"),
            ).select(F.col(src_col).alias("node"), "label")
            counts = neigh.groupBy("node", "label").agg(
                F.count(F.lit(1)).alias("c")
            )
            w = Window.partitionBy("node").orderBy(
                F.col("c").desc(), F.col("label").asc()
            )
            best = (
                counts.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") == 1)
                .select("node", "label")
            )
            # nodes with no in-edges keep their current label
            nxt = (
                labels.join(best.withColumnRenamed("label", "_new"), "node", "left")
                .select(
                    "node",
                    F.coalesce(F.col("_new"), F.col("label")).alias("label"),
                )
                .localCheckpoint(eager=True)
            )
            release(labels)
            labels = nxt
        return labels
    except BaseException:
        if labels is not None:
            release(labels)
        raise
    finally:
        # every returned frame is driver-built or eagerly checkpointed,
        # so none of them reads the edge projection
        edges.unpersist(False)


def hits_fixed(
    edges: DataFrame,
    nodes: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    iters: int = 3,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999) unrolled ``iters`` times
    from the all-ones hub vector, L1-normalized after every half-step:
    ``a'(v) = Σ_{u→v} h(u) / Σ a'``, ``h'(u) = Σ_{u→v} a'(v) / Σ h'``.
    Multi-edges contribute once each, like :func:`pagerank_fixed`.

    Scale shape per half-step: one node-keyed join (edge list ×
    score vector), one DECIMAL(38,18)-sum aggregation (shuffle-order-
    independent, so an unrolled SQL oracle matches bit-for-bit), one
    left join back to the node list for zero-degree sides, and a
    1-row L1 total broadcast back for the normalization — the same
    Pregel-style propagation as PageRank with the transpose edge
    direction alternating.
    """

    def _half(score: DataFrame, from_col: str, to_col: str) -> DataFrame:
        raw = (
            edges.join(score, edges[from_col] == score[node_col])
            .groupBy(F.col(to_col).alias("_to"))
            .agg(
                F.sum(F.col("_s").cast("decimal(38,18)"))
                .cast("double")
                .alias("_m")
            )
        )
        filled = (
            nodes.join(raw, nodes[node_col] == raw["_to"], "left")
            .select(
                F.col(node_col),
                F.coalesce(F.col("_m"), F.lit(0.0)).alias("_m"),
            )
            # node-cardinality frame feeding BOTH the L1 total and the
            # normalized output: without this checkpoint the diamond
            # doubles the re-executed lineage at every half-step
            # (2^6 recomputes over 3 iterations — measured 566
            # exchanges before, ~30 after)
            .localCheckpoint(eager=True)
        )
        total = filled.agg(
            F.sum(F.col("_m").cast("decimal(38,18)")).cast("double").alias("_t")
        )
        return filled.crossJoin(F.broadcast(total)).select(
            F.col(node_col), (F.col("_m") / F.col("_t")).alias("_s")
        )

    h = nodes.select(F.col(node_col), F.lit(1.0).alias("_s"))
    a = None
    for _ in range(iters):
        a = _half(h, src_col, dst_col)
        h = _half(a, dst_col, src_col)
    return (
        a.select(F.col(node_col), F.col("_s").alias("authority"))
        .join(
            h.select(F.col(node_col), F.col("_s").alias("hub")), node_col
        )
    )
