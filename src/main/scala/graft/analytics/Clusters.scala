package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a near-duplicate pair list — the
  * cluster-representative dedup stage (SCALING.md design note): pairs
  * (id1, id2) → one `canonical_id` (component minimum) per doc.
  *
  * Iterative min-label propagation on DataFrames: each round joins every
  * node's current label with its neighbors' labels and keeps the min.
  * Rounds needed = graph diameter ≈ O(log n) with doubling; dup groups
  * are stars (diameter ≤ 2), so this converges in 2-3 rounds. Each round
  * is one shuffle on id — no driver-side graph state; at 100 TB this is
  * the standard label-propagation loop (AQE handles the shrinking
  * frontier). Each round's labels are locally checkpointed so lineage
  * stays one-join deep: a straggler retry at round k replays one join,
  * not the whole k-round chain.
  */
object Clusters {

  /** pairs(id1, id2) → (id, canonical_id), one row per node appearing in
    * any pair. Deterministic: canonical = min id in the component.
    *
    * Convergence is witnessed by a changed-label COUNT per round (labels
    * only ever decrease under min-propagation, so `label < old` counts
    * exactly the moved nodes) — overflow-proof at any node count, unlike
    * a sum-of-labels scalar which can wrap a signed long on multi-billion-
    * node graphs and false-converge. Non-convergence within `maxIter` is
    * LOUD: `strict = true` (the default) throws instead of silently
    * returning partially-propagated labels.
    *
    * Plain min-propagation is O(diameter) rounds — the right trade for
    * dup-cluster graphs (stars/cliques, diameter ≤ 2). A corpus whose
    * near-dup graph chains (A~B~C~… with no short-cuts) has diameter
    * O(chain length); at 100 TB that calls for the large-star/small-star
    * alternation (Kiveris et al., "Connected Components in MapReduce"),
    * which contracts in O(log² n) rounds: that is
    * [[connectedComponentsStarContraction]], below. This loop stays the
    * default because every dedup caller produces bounded-diameter graphs
    * and the strict guard converts the wrong-graph case into an explicit
    * error rather than a wrong answer. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 10,
                          strict: Boolean = true): DataFrame = {
    // r20: the caller's pair pipeline is often the query's hottest
    // subtree (q141's deletion-neighborhood join, q132's shingle-Jaccard
    // verify), and the old both-directions union recomputed it TWICE
    // before the distinct could cache. Canonicalize to u ≤ v, distinct,
    // and EAGERLY checkpoint — the pair pipeline now runs exactly once —
    // then both directions derive narrowly from the checkpoint. The
    // reversed union can duplicate only self-loop rows (u = v), which
    // min-aggregation is insensitive to, so labels are unchanged.
    val und = pairs
      .select(least(col("id1"), col("id2")).as("u"),
        greatest(col("id1"), col("id2")).as("v"))
      .distinct()
      .localCheckpoint(true)
    // pre-partition the edge table by the join key ONCE (the q122
    // pagerank layout trick): localCheckpoint preserves
    // outputPartitioning, so every round's join on dst reuses the edge
    // layout with ZERO edge-side exchange — per-round shuffles carry
    // only the (node, label) pairs, never the edge list. Old checkpoint
    // blocks are dropped by the ContextCleaner once unreachable.
    val edges = und.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(und.select(col("v").as("src"), col("u").as("dst")))
      .repartition(col("dst"))
      .localCheckpoint(false) // materialized by round 1's convergence action
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(false) // materialized by round 1's convergence action
    var converged = false
    var iter = 0
    // r19: the localCheckpoint FINAL stage bypasses AQE's partition
    // coalescing, so every round materialized labels at the session's
    // full shuffle.partitions even when the label table is kilobytes —
    // 32 near-empty tasks per round at the local bench, pure scheduling
    // overhead. Scale-adaptively cap it from the node count the round-1
    // convergence agg already returns (zero extra actions): ~4 M
    // (id, label) longs ≈ 64 MB per partition; coalesce is a no-op
    // whenever the computed cap exceeds the actual partition count, so a
    // 100 TB label table keeps its full parallelism.
    val labelRowsPerPartition = 4000000L
    var nodeCount = -1L
    while (!converged && iter < maxIter) {
      // every node adopts min(own label, neighbors' labels).
      // shuffled-hash, not SMJ: the edge side is already hash-partitioned
      // on dst (layout pinned above), so SMJ's per-round edge sort is
      // pure waste; the build side is the slim label table (guide §3.1,
      // the q122 precedent)
      val neighborLabels = edges
        .join(labels.withColumnRenamed("id", "dst")
          .withColumnRenamed("label", "nlabel").hint("shuffle_hash"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("nlabel")).as("minNeighbor"))
      // lazy local checkpoint: the single convergence action below both
      // materializes this round's labels AND truncates lineage, so each
      // round is exactly one job and retries never recompute prior
      // rounds. Old rounds' checkpoint blocks are dropped by the
      // ContextCleaner once the superseded DataFrame is unreachable. The
      // prior label rides along as `old` purely for the changed count.
      val stepWide = labels.join(neighborLabels, Seq("id"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("minNeighbor"), col("label"))).as("label"))
      val step = (if (nodeCount >= 0)
                    stepWide.coalesce(math.max(1L,
                      (nodeCount + labelRowsPerPartition - 1) / labelRowsPerPartition)
                      .min(Int.MaxValue).toInt)
                  else stepWide)
        .localCheckpoint(false)
      val changedRow = step.agg(
        sum(when(col("label") < col("old"), 1L).otherwise(0L)),
        count(lit(1))).collect()(0)
      val changed = if (changedRow.isNullAt(0)) 0L else changedRow.getLong(0)
      nodeCount = changedRow.getLong(1)
      labels = step.select(col("id"), col("label"))
      converged = changed == 0L
      iter += 1
    }
    if (!converged && strict)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — the " +
          "pair graph's diameter exceeds maxIter (chained near-dups?); " +
          "raise maxIter or use connectedComponentsStarContraction")
    labels.select(col("id"), col("label").as("canonical_id"))
  }

  /** The 100 TB-deep-graph variant: alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014 — public algorithm). Converges in O(log² n)
    * ROUNDS REGARDLESS OF DIAMETER, where plain min-propagation needs
    * O(diameter): a million-node near-dup chain finishes in ~20 rounds
    * instead of a million.
    *
    * Round = large-star (hook every node's larger neighbors to its
    * local minimum) then small-star (contract the smaller neighbors).
    * Both phases are one groupBy + one join on node id — the same
    * shuffle budget per round as a min-propagation step; edges stay
    * bare (long, long) pairs throughout. Per-phase localCheckpoint
    * keeps lineage one round deep. Convergence = the canonical edge
    * set reaches the composite fixpoint (star forest rooted at each
    * component's minimum), witnessed by a symmetric-difference count
    * (overflow-proof). */
  def connectedComponentsStarContraction(pairs: DataFrame, maxIter: Int = 25,
                                         strict: Boolean = true): DataFrame = {
    val nodes = pairs.select(col("id1").as("id"))
      .unionByName(pairs.select(col("id2").as("id"))).distinct()
    // canonical orientation: u > v (parent pointer toward the smaller id)
    var edges = pairs
      .select(greatest(col("id1"), col("id2")).as("u"), least(col("id1"), col("id2")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(false)
    var converged = edges.isEmpty // no edges → trivially converged
    var iter = 0
    // r20 (VERDICT r19 task 4): the per-phase localCheckpoint FINAL stage
    // bypasses AQE coalescing, so every round materialized ls/ss at the
    // session's full shuffle.partitions even for kilobyte edge tables —
    // the same near-empty-task overhead the min-propagation loop fixed in
    // r19. The convergence action below now also returns the surviving
    // edge count (ONE aggregate over the tagged union — no extra action),
    // and the next round coalesces both phase materializations to
    // ceil(edges / 4M) partitions: a no-op at scale by construction
    // (coalesce, never a new exchange).
    val edgeRowsPerPartition = 4000000L
    var edgeCount = -1L
    def capped(df: DataFrame): DataFrame =
      if (edgeCount >= 0)
        df.coalesce(math.max(1L,
          (edgeCount + edgeRowsPerPartition - 1) / edgeRowsPerPartition)
          .min(Int.MaxValue).toInt)
      else df
    while (!converged && iter < maxIter) {
      // large-star: for each center u over BOTH directions, m = min of
      // u and its neighborhood; every neighbor LARGER than the center
      // hooks to m. Output keeps u > v orientation (w > u ≥ m).
      val nbrs = edges.select(col("u"), col("v"))
        .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val lsMin = nbrs.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val ls = capped(nbrs.filter(col("v") > col("u"))
        .join(lsMin, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct())
        .localCheckpoint(false)
      // small-star: centers see only smaller neighbors (canonical form),
      // m = min(N(u)); every other small neighbor re-hooks to m, and the
      // center itself hooks to m.
      val ssMin = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
      val ss = capped(ls.join(ssMin, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(ssMin.select(col("u"), col("m").as("v")))
        .distinct())
        .localCheckpoint(false)
      // convergence = empty symmetric difference, witnessed by a count —
      // the same aggregate also counts |ss| for the next round's coalesce
      val statsRow = ss.select(lit(1L).as("t"))
        .unionByName(ss.exceptAll(edges).unionByName(edges.exceptAll(ss))
          .select(lit(0L).as("t")))
        .agg(sum(col("t")), count(lit(1))).collect()(0)
      val ssCount = if (statsRow.isNullAt(0)) 0L else statsRow.getLong(0)
      val diffCount = statsRow.getLong(1) - ssCount
      edges = ss
      edgeCount = ssCount
      converged = diffCount == 0L
      iter += 1
    }
    if (!converged && strict)
      throw new IllegalStateException(
        s"star-contraction CC did not converge in $maxIter rounds " +
          s"(O(log² n) expected — raise maxIter for astronomically large graphs)")
    // at the fixpoint the edge set is a star forest: u → component min.
    // Roots (the minima) carry no outgoing edge; they label themselves.
    nodes.join(edges.withColumnRenamed("u", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("v"), col("id")).as("canonical_id"))
  }
}
