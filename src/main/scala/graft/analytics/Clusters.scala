package graft.analytics

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

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
  *
  * Small graphs run the same rounds on the driver. A re-upload's dedup
  * graph has a handful of edges, and there the distributed loop is all
  * fixed per-job cost: a join, an aggregate, a checkpoint and a collect
  * per round. Both entry points therefore read their canonical edge list
  * back with one bounded action (`limit(LocalEdges + 1)` over one
  * partition, so one task) and, when at most [[LocalEdges]] LONG edges
  * come back, run the same synchronous rounds in memory: the same update
  * rule, the same convergence witness, the same `maxIter` and the same
  * `strict` error or partial result. The rounds are the same, not merely
  * the fixpoint, so a non-converged run returns the partial labels the
  * distributed loop would, and every spec holds on both paths. The local
  * result has the distributed result's schema. Above the bound, or for
  * non-LONG ids, the distributed loop runs exactly as described above.
  *
  * The bound is sized from driver memory, not configured: 1 << 17 edges
  * of (long, long) are 2 MB as raw longs and about 15 MB as the collected
  * rows, index arrays and label arrays of the driver rounds — noise next
  * to any driver heap, and far above a re-upload's graph (tens of edges)
  * or the board's sf0.1 dedup graphs.
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
                          strict: Boolean = true): DataFrame =
    minLabel(pairs, maxIter, strict, LocalEdges)

  /** Canonical edges at most this many run on the driver (sizing in the
    * object doc). */
  private val LocalEdges = 1 << 17

  /** The up-to-`localEdges + 1` rows of a canonical (LONG, LONG) edge
    * list, or None when the driver path is off (`localEdges` = 0) or the
    * ids are not LONG. One partition, so one job and one task however
    * many partitions the checkpoint has. */
  private def boundedEdges(edges: DataFrame, localEdges: Int): Option[Array[Row]] =
    if (localEdges > 0 && edges.schema.fields.forall(_.dataType == LongType))
      Some(edges.coalesce(1).limit(localEdges + 1).collect())
    else None

  /** [[connectedComponents]] with the driver-path bound as a parameter,
    * `0 ≤ localEdges < Int.MaxValue`: 0 always runs the distributed loop,
    * `Int.MaxValue - 1` runs every LONG graph on the driver. */
  private[analytics] def minLabel(pairs: DataFrame, maxIter: Int, strict: Boolean,
                                  localEdges: Int): DataFrame = {
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
    boundedEdges(und, localEdges) match {
      case Some(rows) if rows.length <= localEdges =>
        // the distributed result's schema: both columns are the id type,
        // nullable exactly when `least(id1, id2)` is
        val n = und.schema("u").nullable
        localFrame(pairs.sparkSession, minLabelRounds(rows, maxIter, strict),
          StructType(Seq(StructField("id", LongType, n), StructField("canonical_id", LongType, n))))
      case _ => minLabelLoop(und, maxIter, strict)
    }
  }

  /** The distributed min-label loop over the checkpointed canonical edge
    * list `und`(u ≤ v). */
  private def minLabelLoop(und: DataFrame, maxIter: Int, strict: Boolean): DataFrame = {
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
    // 100 TB label table keeps its full parallelism. The bound is soft:
    // coalesce merges whole partitions and never moves rows, so it caps
    // the AVERAGE partition; a skewed one keeps its size (a hard cap
    // would cost a shuffle per round).
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
    if (!converged && strict) throw minLabelDiverged(maxIter)
    labels.select(col("id"), col("label").as("canonical_id"))
  }

  private def minLabelDiverged(maxIter: Int) = new IllegalStateException(
    s"connectedComponents did not converge in $maxIter rounds — the " +
      "pair graph's diameter exceeds maxIter (chained near-dups?); " +
      "raise maxIter or use connectedComponentsStarContraction")

  /** [[minLabelLoop]]'s rounds on the driver over its collected canonical
    * edges (u ≤ v, distinct). Every node takes min(own label, neighbors'
    * previous-round labels); a round that moves no label converges. Nodes
    * are indexed in ascending id order, so the min index is the min id. A
    * (null, null) pair — the only pair `least`/`greatest` leave null — is
    * one null node labelled null, as its null join key meets no neighbor. */
  private def minLabelRounds(rows: Array[Row], maxIter: Int, strict: Boolean): Seq[Row] = {
    val (nulls, es) = rows.partition(_.isNullAt(0))
    val ids = es.flatMap(r => Array(r.getLong(0), r.getLong(1))).distinct.sorted
    val us = es.map(r => java.util.Arrays.binarySearch(ids, r.getLong(0)))
    val vs = es.map(r => java.util.Arrays.binarySearch(ids, r.getLong(1)))
    var label = Array.range(0, ids.length)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = label.clone()
      for (e <- us.indices) {
        val (u, v) = (us(e), vs(e))
        next(u) = math.min(next(u), label(v))
        next(v) = math.min(next(v), label(u))
      }
      converged = java.util.Arrays.equals(next, label) // changed count = 0
      label = next
      iter += 1
    }
    if (!converged && strict) throw minLabelDiverged(maxIter)
    ids.indices.map(i => Row(ids(i), ids(label(i)))) ++ nulls.take(1).map(_ => Row(null, null))
  }

  private def localFrame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

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
                                         strict: Boolean = true): DataFrame =
    starContraction(pairs, maxIter, strict, LocalEdges)

  /** [[connectedComponentsStarContraction]] with the driver-path bound as
    * a parameter, as for [[minLabel]]. */
  private[analytics] def starContraction(pairs: DataFrame, maxIter: Int, strict: Boolean,
                                         localEdges: Int): DataFrame = {
    val nodes = pairs.select(col("id1").as("id"))
      .unionByName(pairs.select(col("id2").as("id"))).distinct()
    // canonical orientation: u > v (parent pointer toward the smaller id)
    val edges = pairs
      .select(greatest(col("id1"), col("id2")).as("u"), least(col("id1"), col("id2")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(false)
    // the size check replaces the emptiness check: the same one action
    val last = boundedEdges(edges, localEdges) match {
      case Some(rows) if rows.length <= localEdges =>
        localFrame(pairs.sparkSession, starRounds(rows, maxIter, strict), edges.schema)
      case h => starLoop(edges, h.fold(edges.isEmpty)(_.isEmpty), maxIter, strict)
    }
    // at the fixpoint the edge set is a star forest: u → component min.
    // Roots (the minima) carry no outgoing edge; they label themselves.
    nodes.join(last.withColumnRenamed("u", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("v"), col("id")).as("canonical_id"))
  }

  /** The distributed star-contraction rounds from the checkpointed
    * canonical edges (u > v); returns the last round's edges. */
  private def starLoop(initial: DataFrame, empty: Boolean, maxIter: Int,
                       strict: Boolean): DataFrame = {
    var edges = initial
    var converged = empty // no edges → trivially converged
    var iter = 0
    // r20 (VERDICT r19 task 4): the per-phase localCheckpoint FINAL stage
    // bypasses AQE coalescing, so every round materialized ls/ss at the
    // session's full shuffle.partitions even for kilobyte edge tables —
    // the same near-empty-task overhead the min-propagation loop fixed in
    // r19. The convergence action below now also returns the surviving
    // edge count (ONE aggregate over the tagged union — no extra action),
    // and the next round coalesces both phase materializations to
    // ceil(edges / 4M) partitions: a no-op at scale by construction
    // (coalesce, never a new exchange). Like `labelRowsPerPartition`
    // above, a soft bound on the average partition, not on the largest.
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
    if (!converged && strict) throw starDiverged(maxIter)
    edges
  }

  private def starDiverged(maxIter: Int) = new IllegalStateException(
    s"star-contraction CC did not converge in $maxIter rounds " +
      s"(O(log² n) expected — raise maxIter for astronomically large graphs)")

  /** [[starLoop]]'s rounds on the driver over its collected canonical
    * edges (u > v, distinct, never null): large-star, small-star, and
    * convergence when a round's edge set equals the previous one (the
    * empty symmetric difference). Returns the last round's edges. */
  private def starRounds(rows: Array[Row], maxIter: Int, strict: Boolean): Seq[Row] = {
    var edges = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    var converged = edges.isEmpty
    var iter = 0
    while (!converged && iter < maxIter) {
      val nbrs = edges.toSeq ++ edges.toSeq.map(_.swap)
      val lsMin = nbrs.groupMapReduce(_._1)(_._2)(math.min)
      val ls = nbrs.collect { case (u, v) if v > u => (v, math.min(lsMin(u), u)) }
        .filter { case (u, v) => u != v }.toSet
      val ssMin = ls.groupMapReduce(_._1)(_._2)(math.min)
      val ss = ls.collect { case (u, v) if v != ssMin(u) => (v, ssMin(u)) } ++ ssMin
      converged = ss == edges
      edges = ss
      iter += 1
    }
    if (!converged && strict) throw starDiverged(maxIter)
    edges.toSeq.map { case (u, v) => Row(u, v) }
  }
}
