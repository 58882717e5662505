"""Distributed connected components — the clustering step of a dedup
pipeline (beyond-reference: after exact/MinHash/SimHash/embedding passes
emit near-duplicate PAIRS, components turn pairs into duplicate GROUPS so
one canonical document per group survives).

Algorithm: iterative min-label propagation with pointer-jumping
(short-cutting), the standard scheme of the published large-scale CC
literature (Rastogi et al., "Finding Connected Components in Map-Reduce in
Logarithmic Rounds"; Kiveris et al. "Connected Components in MapReduce and
Beyond"). Each round is a few shuffles (neighbour join + label-chain join +
groupBy-min) entirely in DataFrame ops; rounds needed = O(log(diameter)),
and near-dup graphs have tiny diameters anyway (similarity-threshold pairs
form near-cliques), so 2-4 rounds is typical.

Scale notes:
- State per round is one (node, label) table — no driver-side graph.
- Convergence check is a 1-row aggregate (sum of label changes).
- Each round re-partitions on the join key only; AQE handles skew from
  high-degree nodes (a viral duplicate) via skew-join splitting.
- Every round's labels are checkpointed: each round reads the previous
  labels three times (neighbours, jump, own label), so an uncut lineage
  grows about fourfold per round and exhausts JVM memory within a few.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pylluminator_spark.plans.checkpoint import stable_checkpoint


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    num_partitions: int | None = None,
) -> DataFrame:
    """Label every node of the undirected graph ``edges`` with the MINIMUM
    node id reachable from it (its component id).

    Returns (node, component). Nodes must be orderable (numeric or string);
    isolated nodes only appear if present as self-edges or in both columns.
    Raises after ``max_iter`` rounds without convergence (pathological
    diameter — raise the cap for chain-shaped graphs).

    ``num_partitions`` sizes the per-round shuffles: the iterative state is
    (node, label) — usually orders of magnitude smaller than the corpus the
    edges came from, so running each round at the session's full shuffle
    width is pure task-scheduling overhead. Set it to roughly
    ``n_nodes / 5M`` (AQE coalescing handles the rest); at driver-default
    None the session's shuffle width is used.
    """
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    ).distinct()
    if num_partitions:
        sym = sym.repartition(num_partitions, "b")
    # persist AFTER any repartition so the exit-path unpersist() targets the
    # exact cached plan (persisting earlier would leak the cache: the
    # repartitioned frame is a different plan and unpersist would miss it).
    # Re-read EVERY round: without the cache the upstream edge pipeline
    # (which may itself be a join/similarity computation) re-executes once
    # per iteration.
    sym = sym.persist()
    # initial label: min neighbour (including self)
    labels = (
        sym.unionByName(sym.select(F.col("a"), F.col("a").alias("b")))
        .groupBy("a")
        .agg(F.min("b").alias("lab"))
        .select(F.col("a").alias("node"), "lab")
        .persist()  # consumed three times by the first round
    )
    initial = labels
    for _ in range(max_iter):
        # propagate: each node adopts min(own, neighbours', and its label's
        # label). The third term is pointer-jumping (short-cutting): label
        # chains halve every round, giving O(log diameter) convergence even
        # on path-shaped graphs (neighbour propagation alone is O(diameter)).
        nbr = (
            sym.join(labels, sym["b"] == labels["node"])
            .select(sym["a"].alias("node"), F.col("lab"))
        )
        l1, l2 = labels.alias("l1"), labels.alias("l2")
        jump = l1.join(l2, F.col("l1.lab") == F.col("l2.node")).select(
            F.col("l1.node").alias("node"), F.col("l2.lab").alias("lab")
        )
        # Tag the node's own previous label through the union so the
        # convergence signal (did any min() beat the old label?) falls out
        # of the SAME aggregation — no separate old-vs-new join pass.
        merged = (
            labels.select("node", "lab", F.lit(True).alias("_self"))
            .unionByName(nbr.withColumn("_self", F.lit(False)))
            .unionByName(jump.withColumn("_self", F.lit(False)))
        )
        if num_partitions:
            merged = merged.repartition(num_partitions, "node")
        # the eager checkpoint materializes this round's labels for the
        # next round's three reads and cuts the lineage every round, so
        # the plan stays one round deep
        agg = stable_checkpoint(
            merged.groupBy("node").agg(
                F.min("lab").alias("lab"),
                F.min(F.when(F.col("_self"), F.col("lab"))).alias("_prev"),
            )
        )
        initial.unpersist()
        labels = agg.select("node", "lab")
        # convergence signal off the same aggregation
        changed = agg.filter(F.col("lab") < F.col("_prev")).count()
        if changed == 0:
            sym.unpersist()
            return labels.select("node", F.col("lab").alias("component"))
    sym.unpersist()
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def dedup_components(
    pairs: DataFrame,
    all_ids: DataFrame | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
    id_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Duplicate groups from near-duplicate pairs: every document keyed by
    the minimum reachable id of its duplicate cluster. Documents with no
    duplicate partner (absent from ``pairs``) keep themselves as component
    when ``all_ids`` is given.

    The canonical-document rule downstream is then one groupBy: keep
    ``min(id)`` (or max quality score) per component.
    """
    comp = connected_components(pairs, id_a, id_b, num_partitions=num_partitions)
    comp = comp.select(F.col("node").alias(id_col), "component")
    if all_ids is not None:
        comp = (
            all_ids.select(id_col)
            .distinct()
            .join(comp, id_col, "left")
            .withColumn("component", F.coalesce("component", F.col(id_col)))
        )
    return comp


def triangles(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    num_partitions: int | None = None,
) -> DataFrame:
    """Enumerate every triangle of the undirected graph once, as
    (a, b, c) with a < b < c.

    Degree-ordered orientation (the classic O(m^1.5)-work scheme behind
    every large-scale triangle counter): each undirected edge is directed
    from its lower-(degree, id) endpoint to the higher one, so every
    node's out-degree is O(sqrt(m)); wedges are pairs of out-neighbours
    (one self-join keyed on the center), closed by one equi-join back to
    the canonical edge set. All joins are hash equi-joins on node keys —
    no cartesian — and AQE's skew handling splits any residual hot center.

    ``num_partitions`` sizes the persisted canonical edge table that the
    three downstream branches re-read (same knob as
    ``connected_components``): roughly ``m / 5M`` edges per partition —
    at toy scale the session's shuffle width just multiplies per-branch
    task-scheduling overhead; at cluster scale leave None.
    """
    und = _canonical(edges, src, dst)
    if num_partitions:
        und = und.repartition(num_partitions)
    return _triangles_from(und.persist())


def _canonical(edges: DataFrame, src: str, dst: str) -> DataFrame:
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _triangles_from(und: DataFrame) -> DataFrame:
    """Core oriented enumeration over an already-canonical (and ideally
    persisted — three downstream branches re-read it) edge table."""
    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e = (
        und.join(deg.withColumnRenamed("node", "u"), "u")
        .withColumnRenamed("deg", "du")
        .join(
            deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")),
            "v",
        )
    )
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = e.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("d"),
    )
    o1 = o.select(F.col("s"), F.col("d").alias("b"))
    o2 = o.select(F.col("s"), F.col("d").alias("c"))
    wedges = o1.join(o2, "s").where(F.col("b") < F.col("c"))
    closed = wedges.join(
        und, (F.col("b") == F.col("u")) & (F.col("c") == F.col("v"))
    )
    # relabel each triangle to sorted (a, b, c): center s may sit anywhere
    arr = F.array_sort(F.array("s", "b", "c"))
    return closed.select(
        arr[0].alias("a"), arr[1].alias("b"), arr[2].alias("c")
    )


def triangle_stats(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    num_partitions: int | None = None,
) -> DataFrame:
    """One-row graph summary: (n_nodes, n_edges, n_triangles) over the
    undirected simple graph. The canonical edge table is persisted once
    and shared by two branches: ONE endpoint-explode pass folds the node
    and edge counts together (each canonical edge contributes exactly two
    endpoint rows, so n_edges = rows/2), cross-joined with the triangle
    count — two jobs over the persisted table, not three.
    ``num_partitions`` as in ``triangles``."""
    und = _canonical(edges, src, dst)
    if num_partitions:
        und = und.repartition(num_partitions)
    und = und.persist()
    tri = _triangles_from(und)
    node_edge = und.select(
        F.explode(F.array("u", "v")).alias("n")
    ).agg(
        F.count_distinct(F.col("n")).alias("n_nodes"),
        (F.count(F.lit(1)) / 2).cast("long").alias("n_edges"),
    )
    return node_edge.crossJoin(
        tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def pagerank(
    edges: DataFrame,
    *,
    iters: int = 3,
    damping_pct: int = 85,
    scale: int = 10**12,
    src: str = "src",
    dst: str = "dst",
    assume_distinct: bool = False,
    num_partitions: int | None = None,
    broadcast_ranks_below: int = 2_000_000,
) -> DataFrame:
    """Fixed-point PageRank: ``iters`` synchronous power iterations with
    ALL arithmetic in scaled integers (ranks are multiples of 1/scale), so
    results are bit-identical under any partitioning, shuffle order, or
    engine — the floating-point sum-order nondeterminism that plagues
    distributed PageRank is designed out. ``damping_pct`` is the damping
    factor in percent (integer, default 85 = the canonical 0.85).

    Per iteration: contrib = rank div out_degree per edge (one keyed
    join), in-sums by destination (one keyed integer aggregate), then
    ``new = (100-d) * (scale div n) + d * (insum + dangling div n)) div
    100`` — dangling mass (nodes without out-edges) is redistributed
    uniformly via a 1-row broadcast aggregate. State per round is one
    (node, rank) table; no driver-side graph.

    Returns (node, rank_int); rank_int / scale approximates the PageRank
    probability (truncation loses < iters * n ulps of mass).

    ``assume_distinct=True`` skips the edge-dedup shuffle when the caller
    guarantees a simple digraph (e.g. the symmetric union of a canonical
    distinct undirected edge set — its two halves are disjoint by u < v).
    ``num_partitions`` sizes the persisted edge table (see
    ``connected_components``). ``broadcast_ranks_below``: when the node
    count n (already computed for the teleport term — no extra job) is
    under this bound, the node-sized rank table is broadcast into the
    per-iteration contribution join, so the edge table — the big side —
    is never shuffled for the join; above it, the join falls back to
    hash partitioning. 2M rank rows is ~32 MB serialized, comfortably
    under executor broadcast budgets.
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).where(
        F.col("s").isNotNull() & F.col("d").isNotNull()
    )
    if not assume_distinct:
        e = e.distinct()
    if num_partitions:
        e = e.repartition(num_partitions)
    e = e.persist()
    # ONE pass builds the node table with out-degrees (0 = dangling):
    # explode each edge into (src, weight 1) + (dst, weight 0) and sum
    deg = (
        e.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("s").alias("node"), F.lit(1).alias("w")
                    ),
                    F.struct(
                        F.col("d").alias("node"), F.lit(0).alias("w")
                    ),
                )
            ).alias("x")
        )
        .select("x.*")
        .groupBy("node")
        .agg(F.sum("w").alias("odeg"))
        .persist()
    )
    # ONE scalar job fetches both driver-side values: the node count and
    # the dangling-node flag (min out-degree 0). Symmetric graphs have no
    # dangling nodes, so the per-iteration dangling aggregate drops out.
    _row = deg.agg(
        F.count(F.lit(1)).alias("_n"), F.min("odeg").alias("_m")
    ).collect()[0]
    n = int(_row["_n"])
    has_dangling = int(_row["_m"]) == 0
    base = scale // n
    teleport = (100 - damping_pct) * base
    # ranks carry odeg so iterations never re-join the degree table for
    # the contribution step; the rank table is node-sized (broadcastable
    # by AQE when small), so each iteration is one broadcast-or-hash join
    # with the edge table + one keyed integer aggregate
    ranks = deg.withColumn("rank_int", F.lit(base).cast("long"))
    for it in range(iters):
        contributors = ranks.where(F.col("odeg") > 0)
        if n < broadcast_ranks_below:
            contributors = F.broadcast(contributors)
        contrib = (
            contributors
            .join(e, contributors["node"] == e["s"])
            .select(
                F.col("d").alias("node"),
                F.expr("rank_int div odeg").alias("_c"),
            )
        )
        insum = contrib.groupBy("node").agg(F.sum("_c").alias("_in"))
        joined = deg.join(insum, "node", "left")
        if has_dangling:
            dangling = ranks.where(F.col("odeg") == 0).agg(
                F.coalesce(F.sum("rank_int"), F.lit(0)).alias("_dm")
            )
            joined = joined.crossJoin(F.broadcast(dangling))
            dang_share = F.expr(f"_dm div {n}")
        else:
            dang_share = F.lit(0)
        new_ranks = joined.select(
            "node",
            "odeg",
            (
                F.lit(teleport)
                + F.lit(damping_pct)
                * (F.coalesce(F.col("_in"), F.lit(0)) + dang_share)
            ).alias("_num"),
        ).select(
            "node",
            "odeg",
            F.expr("_num div 100").cast("long").alias("rank_int"),
        )
        # truncate lineage every OTHER iteration (and at the end): an
        # eager checkpoint per iteration serializes one job per round,
        # while a 2-iteration lineage is still flat enough to plan —
        # halves the job count for the same bit-exact result
        if it % 2 == 1 or it == iters - 1:
            ranks = stable_checkpoint(new_ranks)
        else:
            ranks = new_ranks
    for frame in (e, deg):
        frame.unpersist()
    return ranks.select("node", "rank_int")
