"""Iterative graph operators on DataFrames.

Connected components powers duplicate clustering: near-dup PAIRS
(MinHash/SimHash/Jaccard output) become GROUPS by taking the
transitive closure, and each group keeps one canonical document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Largest node set (|V|) an iterative operator broadcasts into its
#: per-round edge join: ~2M rows of (long, long) is ~32 MB.  Past it
#: both sides shuffle, which is correct at any |V|; the edge list is
#: the side that must never replicate.
BROADCAST_MAX_NODES = 2_000_000


def _node_hint(n_nodes: int):
    """``F.broadcast`` for a node-set relation of ``n_nodes`` rows up to
    BROADCAST_MAX_NODES, else no hint (the join shuffles both sides)."""
    return F.broadcast if n_nodes <= BROADCAST_MAX_NODES else (lambda df: df)


def pagerank(edges: DataFrame, *, src: str = "src", dst: str = "dst",
             weight: str = "w", rounds: int = 3, damping: float = 0.85,
             scale: int = 10**9, symmetric: bool = False) -> DataFrame:
    """Weighted PageRank, fixed ``rounds`` power iterations, fixed-point
    integer ranks (parts-per-``scale``) so the ITERATIVE computation is
    bit-reproducible and oracle-checkable end-to-end (same strategy as
    functions/clustering.py's k-means: ranks live as BIGINTs; each
    round does one exactly-rounded double op sequence per edge).

    Per round at 100 TB: edges ⨝ ranks on src (one shuffle on the edge
    partitioning key), a map-side-combined BIGINT sum per dst, and a
    left join back onto the node list — no driver-side data beyond the
    node count scalar. Dangling nodes (no out-edges) drop their mass —
    the standard simplification; feed a symmetrized edge list (as
    supplier_pagerank does) if every node must keep rank.

    Rank update (identical IEEE sequence in the SQL oracle):
    ``contrib = ROUND((r * w) / wout)`` per edge, summed exactly as
    BIGINT; ``r' = ROUND((1-d) * (scale/N) + d * in_sum)``.

    ``symmetric=True`` (r12, guide §2.4 — remove shuffles outright)
    asserts every node occurs as BOTH a src and a dst (true for any
    symmetrized edge list, e.g. supplier_pagerank's).  Then (a) the
    per-round ``nodes`` left-join is the identity — every node has an
    in-sum — so each round drops one join + exchange, and (b) round
    one's rank vector is the CONSTANT ``ROUND(scale/N)``, so its
    edges⨝ranks join collapses into a scan-side literal multiply.
    Values are bit-identical to the generic path: the dropped join
    never produced a NULL, and r0 is computed with the same HALF_UP
    decimal rounding Spark's ROUND applies.
    """
    from pyspark.sql import Window
    if symmetric and rounds < 1:
        raise ValueError("symmetric pagerank needs rounds >= 1")
    # out-weight via a window over the edge partition — no separate
    # aggregate + join back, and ONE materialization of the edge list
    # (upstream edge construction can be expensive; it must not replay
    # per power round)
    ew = (edges.select(F.col(src).alias("s"), F.col(dst).alias("d"),
                       F.col(weight).cast("long").alias("w"))
          .withColumn("wout", F.sum("w").over(Window.partitionBy("s")))
          .localCheckpoint(eager=True))
    if symmetric:
        n = float(ew.select("s").distinct().count())
    else:
        nodes = (ew.select(F.col("s").alias("node"))
                 .union(ew.select(F.col("d").alias("node")))
                 .distinct().localCheckpoint(eager=True))
        n = float(nodes.count())
    base = F.lit(float(scale)) / F.lit(n)
    # the node count is already driver-known: when the rank vector is
    # small, broadcast it into the contrib join so the EDGE list is
    # never re-shuffled per power round — the per-iteration shuffle
    # then carries only the in-sums.
    hint = _node_hint(n)
    if symmetric:
        # r0 is one constant: ROUND(scale/N) with Spark's HALF_UP
        # BigDecimal rounding, replicated exactly via decimal on the
        # double's exact binary value
        import decimal
        r0 = int(decimal.Decimal(float(scale) / n)
                 .quantize(decimal.Decimal(1),
                           rounding=decimal.ROUND_HALF_UP))
        ranks = None
    else:
        ranks = nodes.withColumn("r", F.round(base).cast("long"))
    for i in range(rounds):
        if symmetric and ranks is None:
            # round 1: every src holds the same r0 — no join needed
            contrib = ew.select(
                F.col("d").alias("node"),
                F.round((F.lit(r0).cast("double") * F.col("w").cast("double"))
                        / F.col("wout").cast("double")).cast("long").alias("c"))
        else:
            contrib = (ew.join(hint(ranks), ew["s"] == ranks["node"])
                       .select(F.col("d").alias("node"),
                               F.round((F.col("r").cast("double") * F.col("w").cast("double"))
                                       / F.col("wout").cast("double")).cast("long").alias("c")))
        in_sum = contrib.groupBy("node").agg(F.sum("c").alias("c"))
        new_r = F.round(F.lit(1.0 - damping) * base
                        + F.lit(damping)
                        * F.coalesce(F.col("c"), F.lit(0)).cast("double")
                        ).cast("long").alias("r")
        if symmetric:
            # every node IS a dst of >= 1 edge, so in_sum covers all
            # nodes and the nodes left-join is the identity — drop it
            ranks = in_sum.select("node", new_r)
        else:
            ranks = (nodes.join(hint(in_sum), "node", "left")
                     .select("node", new_r))
        # r12: each round's rank vector has exactly ONE consumer (the
        # next round's contrib join), so nothing recomputes without a
        # checkpoint — the default 3-round chain fuses into one plan
        # (3 fewer driver round-trips; guide §5: localCheckpoint only
        # when an intermediate is reused).  Checkpoint every 4th round
        # purely to bound plan depth for large ``rounds``.
        if i % 4 == 3:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("node", F.col("r").alias("rank_ppb"))


def connected_components(edges: DataFrame, src: str = "d1", dst: str = "d2",
                         max_iter: int = 20) -> DataFrame:
    """Min-label propagation over undirected edges → (node, component),
    component = min node id of the connected component.

    Each iteration: every node takes the min of its own label and its
    neighbors' labels — one shuffle join + one aggregate per round,
    converging in O(component diameter) rounds (near-dup clusters are
    shallow; max_iter bounds adversarial chains). The per-round
    ``localCheckpoint`` truncates lineage — without it, iteration K
    replays all K-1 predecessors and the DAG grows quadratically (on a
    cluster, use a checkpoint dir for fault tolerance instead). The
    only driver-side data is the converged? flag (one count per
    round), never the labels.

    r12 plan-shape work (guide §2.4/§3.1), all value-identical:

    - The symmetrized edge list carries SELF-LOOPS, so a node's own
      label rides the same join+aggregate as its neighbors' (new label
      = min over {own} ∪ neighbors) — the old per-round union with the
      previous labels and its second groupBy/exchange are gone.
    - Round one needs no join at all: every label IS its node id, so
      min-over-neighborhood is just ``groupBy(a).min(b)`` on the
      self-looped edge list (the same collapse pagerank's symmetric r0
      uses); the node-count scalar for the broadcast decision rides
      that round's convergence collect for free.
    - From round two on, the label vector is BROADCAST into the
      propagation join under the BROADCAST_MAX_NODES bound
      — the (checkpointed, partitioning-less) edge list is then never
      re-exchanged per round; past the threshold both sides shuffle,
      correct at any |V|.
    - The raw edge list checkpoints BEFORE symmetrization, so the
      (possibly expensive — LSH signatures, shingle joins) upstream
      pair pipeline executes once, not once per union branch.
    """
    ecp = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .localCheckpoint(eager=True))
    sym = (ecp.union(ecp.select(F.col("b"), F.col("a")))
           .union(ecp.select("a", "a")).union(ecp.select("b", "b"))
           .distinct().localCheckpoint(eager=True))
    # round 1 (labels == node ids): one aggregate, no join.  LAZY
    # checkpoints throughout: the convergence aggregate below is the
    # action that materializes (and truncates) each round's labels —
    # one pass per round instead of eager-checkpoint + aggregate.
    labels = (sym.groupBy(F.col("a").alias("n"))
              .agg(F.min("b").alias("c")).localCheckpoint(eager=False))
    # labels only ever decrease (min-propagation), so the label-sum is
    # strictly decreasing until fixpoint: an unchanged sum IS
    # convergence — one scalar aggregate per round instead of a
    # join+count against the previous labels.  An empty edge list
    # yields None == None at round two, breaking immediately.
    prev_sum, n_nodes = labels.agg(
        F.sum("c"), F.count(F.lit(1))).collect()[0]
    hint = _node_hint(n_nodes)
    for _ in range(max_iter - 1):
        labels = (sym.join(hint(labels), sym["b"] == labels["n"])
                  .groupBy(F.col("a").alias("n"))
                  .agg(F.min("c").alias("c"))
                  .localCheckpoint(eager=False))
        new_sum = labels.agg(F.sum("c")).collect()[0][0]
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels.select(F.col("n").alias("node"), F.col("c").alias("component"))


def label_propagation(edges: DataFrame, *, src: str = "src",
                      dst: str = "dst", weight: str = "w",
                      rounds: int = 3) -> DataFrame:
    """Synchronous weighted label propagation (Raghavan et al. 2007)
    community detection: every node starts as its own label; each round
    it adopts the label carrying the MOST incident edge weight among
    its neighbors (tie -> smallest label), all nodes updating against
    the PREVIOUS round's labels. Integer weights make the argmax exact,
    so the fixed-round computation unrolls into the SQL oracle.

    Per round at 100 TB: edges ⨝ labels on src (the labels side is the
    small one — broadcast under the BROADCAST_MAX_NODES bound), a
    map-side-combined (dst, label) weight sum, and a rank-1
    per dst. The edge list materializes once (localCheckpoint) and is
    never re-derived per round. Returns (node, label).
    """
    from pyspark.sql import Window
    ew = (edges.select(F.col(src).alias("s"), F.col(dst).alias("d"),
                       F.col(weight).cast("long").alias("w"))
          .localCheckpoint(eager=True))
    nodes = ew.select(F.col("s").alias("node")).union(
        ew.select(F.col("d").alias("node"))).distinct().localCheckpoint(eager=True)
    hint = _node_hint(nodes.count())
    labels = nodes.withColumn("lbl", F.col("node"))
    rank_w = Window.partitionBy("node").orderBy(
        F.col("wsum").desc(), F.col("lbl"))
    for i in range(rounds):
        cand = (ew.join(hint(labels), ew["s"] == labels["node"])
                .groupBy(F.col("d").alias("node"), F.col("lbl"))
                .agg(F.sum("w").alias("wsum")))
        best = (cand.withColumn("rn", F.row_number().over(rank_w))
                .filter(F.col("rn") == 1).select("node", "lbl"))
        labels = (nodes.join(best, "node", "left")
                  .select("node", F.coalesce("lbl", "node").alias("lbl")))
        # r12: one consumer per round's labels (next round's cand join)
        # — fuse the fixed-round chain into one plan; checkpoint every
        # 4th round only to bound plan depth (same note as pagerank).
        if i % 4 == 3:
            labels = labels.localCheckpoint(eager=False)
    return labels.select("node", F.col("lbl").alias("label"))


def kcore_peel(edges: DataFrame, *, k: int, rounds: int,
               src: str = "src", dst: str = "dst") -> DataFrame:
    """Fixed-round k-core peeling (the standard convergent prefix of
    k-core decomposition): each round removes every node whose degree
    in the CURRENT subgraph is < k, then drops edges touching removed
    nodes. Returns (node, degree) for survivors with their residual
    degree after ``rounds`` peels — the dense backbone used for
    community seeds and spam/bot subgraph isolation.

    Per round at 100 TB: one map-side-combined degree aggregation and
    two semi-joins to filter the edge list (the survivor list is
    |V|-scale and broadcasts under the BROADCAST_MAX_NODES bound); the
    edge list localCheckpoints per round so lineage stays flat."""
    ew = (edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
          .localCheckpoint(eager=True))
    # survivors are a subset of the first round's sources
    hint = _node_hint(ew.select("s").distinct().count())
    for _ in range(rounds):
        deg = ew.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select(F.col("s").alias("node"))
        ew = (ew.join(hint(keep), ew["s"] == keep["node"], "left_semi")
              .join(hint(keep), ew["d"] == keep["node"], "left_semi")
              .localCheckpoint(eager=False))
    return (ew.groupBy(F.col("s").alias("node"))
            .agg(F.count(F.lit(1)).alias("degree")))
