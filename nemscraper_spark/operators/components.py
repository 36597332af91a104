"""Connected components over an edge list — alternating star contraction.

The missing last step of every near-dup dedup pipeline: pair generation
(n-gram Jaccard / MinHash-LSH / SimHash) emits EDGES, but "keep one copy
per duplicate *group*" needs the transitive closure of those edges.

Algorithm: the alternating Large-Star / Small-Star contraction of
Kiveris et al., "Connected Components in MapReduce and Beyond" (SoCC'14)
— the standard shuffle-based CC at cluster scale.  Each round is two
`groupBy(node).min()` + join passes (plain shuffles on the edge key);
the edge set converges to star graphs whose centers are the component
minima in O(log n) rounds, independent of graph DIAMETER.  Naive
min-label propagation needs diameter rounds — a 1000-hop near-dup chain
(common in crawl data: A≈B≈C≈…) would take 1000 shuffles; this takes
~10.

Scale notes (100 TB corpus → billions of edges):
  * every step is groupBy/join on the node id — hash-partitioned
    shuffles that AQE coalesces; no driver-side graph state, ever.
  * convergence check collects ONE row per round: the round stops the
    loop as soon as its edges form a STAR FOREST — no node is both a
    source and a target, and no source has more than one out-edge.
    Every edge points from the larger node to the smaller and the
    contraction preserves connectivity, so each star's center is then
    its component's minimum and the stars ARE the labelling; a star
    forest is also a fixed point of both stars, so no confirming round
    is needed.  Rounds are bounded by `max_rounds`; reaching the cap
    before a star forest raises instead of returning partial stars.
  * each round's output is `localCheckpoint`ed to sever the lineage —
    without it round N's plan re-executes rounds 1..N-1 (exponential
    blowup), the classic iterative-DataFrame trap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    """(u,v) bidirectional neighborhoods; connect strictly-larger
    neighbors of u to min(N(u) ∪ {u})."""
    bi = edges.select("u", "v").union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = bi.groupBy("u").agg(F.min("v").alias("mv"))
    mm = m.select("u", F.least("mv", "u").alias("m"))
    return (
        bi.join(mm, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges toward smaller ids; connect each not-larger
    neighborhood (plus u itself) to its minimum."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    m = oriented.groupBy("u").agg(F.min("v").alias("mv"))
    mm = m.select("u", F.least("mv", "u").alias("m"))
    out = (
        oriented.join(mm, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(mm.select(F.col("u"), F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    return out


def connected_components(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    max_rounds: int = 64,
    stats: dict | None = None,
) -> DataFrame:
    """Edge list -> (node long, component long) with component = min node
    id reachable from `node`.  Includes every node that appears in an
    edge (callers union in singletons if they need them labeled).

    Pass ``stats={}`` to receive {"rounds": <star rounds executed>,
    "edges": <per-round edge counts>} — the observable that confirms the
    O(log n) bound at scale (scripts/cc_depth_probe.py records it).
    Raises RuntimeError if `max_rounds` rounds end without a star forest.
    """
    spark = edges.sparkSession

    def _checkpoint_rdd_id(df: DataFrame):
        """Id of the RDD a just-localCheckpoint'ed DataFrame persists.

        Dataset.checkpoint wraps its materialized internal RDD in a
        LogicalRDD, so the checkpointed (and persisted) RDD is exactly
        `analyzed.rdd` of the RETURNED frame. Reading it off the frame —
        instead of diffing the session-global getPersistentRDDs() map
        before/after, as an earlier version did — keeps this safe under
        concurrent jobs in the same SparkSession: a global set-diff
        could sweep (and destroy, lineage being severed) another job's
        simultaneous localCheckpoint."""
        try:
            return int(df._jdf.queryExecution().analyzed().rdd().id())
        except Exception:
            return None  # unknown plan shape: leak the blocks, never guess

    def _unpersist(rid):
        if rid is None:
            return
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        rdd = jmap.get(rid)
        if rdd is not None:
            rdd.unpersist(False)

    e = (
        edges.select(F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # the CURRENT round's checkpoint id — each round's blocks are freed
    # as soon as the next round's are materialized. Without this a
    # long-lived session (or a many-round run over billions of edges)
    # accumulates every round's edge set in executor storage memory;
    # only the final round's blocks — which the returned DataFrame
    # still reads — outlive the call.
    cur_id = _checkpoint_rdd_id(e)
    if stats is not None:
        stats["rounds"] = 0
        stats["edges"] = []
    for _ in range(max_rounds):
        # lazy checkpoint: the star-forest probe below is the action
        # that materializes it — one Spark job per round, not two.
        # (Batching TWO star pairs per checkpoint was tried and is
        # ~1.5-3x SLOWER: each star consumes its input twice, so the
        # un-checkpointed first pair re-executes ~4x inside the second.)
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        new_id = _checkpoint_rdd_id(e)
        # star-forest probe, one groupBy: tag sources 1 and targets 2;
        # a node with bit_or == 3 is both (a path of length 2), and a
        # source with two out-edges points at two centers. Both checks
        # are needed — without the out-degree one a node between two
        # centers passes and the larger center's leaves keep it as
        # their label.
        deg = (
            e.select(F.col("u").alias("n"), F.lit(1).alias("t"))
            .union(e.select(F.col("v").alias("n"), F.lit(2).alias("t")))
            .groupBy("n")
            .agg(F.bit_or("t").alias("tags"), F.count_if(F.col("t") == 1).alias("out"))
        )
        aggs = [F.count_if((F.col("tags") == 3) | (F.col("out") > 1)).alias("bad")]
        if stats is not None:
            aggs.append(F.sum("out").alias("n"))
        probe = deg.agg(*aggs).collect()[0]
        _unpersist(cur_id)
        cur_id = new_id
        if stats is not None:
            stats["rounds"] += 1
            stats["edges"].append(probe["n"] or 0)
        if probe["bad"] == 0:
            break
    else:
        _unpersist(cur_id)
        raise RuntimeError(
            f"connected_components: no star forest after {max_rounds} "
            "rounds; raise max_rounds"
        )
    # a star forest is (leaf -> component-min) edges; the centers
    # label themselves
    return (
        e.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .union(e.select(F.col("v").alias("node"), F.col("v").alias("component")))
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )
