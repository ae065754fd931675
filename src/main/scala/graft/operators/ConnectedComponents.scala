package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by iterative min-label propagation — the cluster
  * step at the end of every near-duplicate pipeline (candidate pairs →
  * duplicate CLUSTERS → one kept representative per cluster).
  *
  * Each iteration every node takes the minimum label among itself and its
  * neighbors; convergence (no label changed) is reached after
  * O(component diameter) rounds. Near-dup graphs have tiny diameters
  * (boilerplate families, re-posts), so this converges in a handful of
  * rounds; for adversarial long-path graphs the alternating large/small
  * star variant halves rounds — noted, not needed here.
  *
  * Scale: per round ONE equi-join edges⋈labels plus one min-aggregate —
  * all shuffle-partitioned by node id, no driver-side graph. Lineage is
  * cut per round with localCheckpoint so the plan stays flat across
  * iterations (the classic iterative-Spark pitfall). Convergence
  * detection is FUSED into the propagation aggregate (r15): each node's
  * previous label rides the union as its flagged self-row and comes out
  * of the same groupBy, so the changed-check is a local filter over the
  * checkpointed round result instead of the old prop⋈labels re-join —
  * which cost a second shuffle join per round, as much as the
  * propagation itself.
  */
object ConnectedComponents {

  /** Small-graph mode bound on the materialized edge set. Small-graph
    * rounds collect the label table to the driver, so the cap is an
    * absolute driver-memory budget, not a tunable scan-split size. */
  private val SmallGraphMaxBytes = 128L << 20

  /** @return (node, label) — label is the component's minimum node id. */
  def apply(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 20): DataFrame = {
    val sym = edges
      .select(col(srcCol).as("a"), col(dstCol).as("b"))
      .unionByName(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .distinct()
      .localCheckpoint(true)
    // Small-graph mode (r19, guide §1.2/§2): once the edge set is
    // materialized its size is EXACT; under [[SmallGraphMaxBytes]] the loop's
    // cost is pure per-round fixed overhead — AQE re-plans every stage
    // as its own job (~8 jobs/round observed vs 2), and wide shuffles
    // buy nothing on KB-scale tables. Scope AQE off + few partitions
    // for the rounds, restore after. Big graphs (the 100 TB case) keep
    // AQE (skew handling) and the session partitioning untouched.
    val spark = edges.sparkSession
    // Exact size of the MATERIALIZED edge set, read from the block
    // manager (zero jobs): the eager localCheckpoint above cached its
    // RDD, so its storage footprint is already known. Plan statistics
    // are NOT trustworthy here — a localCheckpoint carries the
    // PRE-checkpoint plan's estimate forward, and the embedding
    // pipeline's self-join cardinality estimate read 8.1e17 bytes for a
    // ~65 KB edge set, so small-graph mode silently never engaged for it
    // (guide §3.2's "estimates are often badly wrong" lesson, applied to
    // our own gate). Schema-width × count is no better for
    // variable-width ids (a 200-byte string id counts as 20). Unmatched
    // storage info falls back to Long.MaxValue = big-graph mode, the
    // safe direction.
    val symBytes = sym.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        spark.sparkContext.getRDDStorageInfo
          .find(_.id == l.rdd.id)
          .map(i => i.memSize + i.diskSize)
          .getOrElse(Long.MaxValue)
      case _ => Long.MaxValue
    }
    val smallGraph = symBytes < SmallGraphMaxBytes
    def scopedRounds[T](body: => T): T =
      if (!smallGraph) body
      else {
        val keys = Seq("spark.sql.adaptive.enabled",
          "spark.sql.shuffle.partitions")
        val prev = keys.map(k => k -> spark.conf.get(k))
        keys.zip(Seq("false", "8")).foreach { case (k, v) =>
          spark.conf.set(k, v) }
        try body
        finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
      }
    scopedRounds(
      if (smallGraph) ccRoundsSmall(sym, maxIter)
      else ccRounds(sym, maxIter))
  }

  /** Big-graph (100 TB) label rounds: everything distributed, AQE on. */
  private def ccRounds(sym: DataFrame, maxIter: Int): DataFrame = {
    var labels = sym.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // neighbor contributions + each node's own previous label (the
      // flagged self-row: exactly one per node, so max(self label) IS
      // the old label) through one aggregate
      val contrib = sym
        .join(labels, sym("a") === labels("node"))
        .select(col("b").as("node"), col("label"),
          lit(false).as("__self"))
        .unionByName(labels.withColumn("__self", lit(true)))
      val neigh = contrib
        .groupBy(col("node"))
        .agg(min(col("label")).as("label"),
          max(when(col("__self"), col("label"))).as("__old"))
      // pointer jumping (r15): ALSO shortcut label[v] := label[label[v]]
      // each round — plain min-propagation needs O(diameter) rounds
      // (the embedding near-dup graph at sf0.1 took 18; a pure 31-chain
      // takes 31), while one jump per round compounds propagation
      // exponentially (the 31-chain converges in 3 rounds; the real
      // graph's giant component in 12). More jumps per round measured
      // WORSE here — each adds a join to every round while the round
      // count barely moves on realistic (non-chain) topologies, where
      // fresh minima still arrive via graph edges one hop at a time. A
      // label is always a live node id, so the jump is an equi
      // self-join on the label table (tiny relative to edges).
      val j = neigh.select(col("node").as("__jn"), col("label").as("__jl"))
      val round = neigh
        .join(j, neigh("label") === j("__jn"), "left")
        .select(neigh("node"),
          coalesce(col("__jl"), neigh("label")).as("label"), col("__old"))
        .localCheckpoint(true)
      converged = round.where(col("label") =!= col("__old")).isEmpty
      labels = round.select(col("node"), col("label"))
      iter += 1
    }
    require(converged, s"connected components did not converge in $maxIter rounds")
    labels
  }

  /** Small-graph label rounds (r20, VERDICT r19 task 6): the r19 shape
    * broadcast the label table into two per-round joins — which already
    * collects it to the driver every round — yet still paid per round a
    * jump join, an eager localCheckpoint job, a convergence-check job and
    * a full Catalyst re-analysis (~0.3 s/round of driver planning,
    * ~12 rounds on the embedding graph). This variant keeps the EDGE work
    * exactly where it was — one distributed broadcast-join + min-aggregate
    * job per round over `sym`, which never leaves the cluster (the design
    * line r19 drew: no driver-side union-find over collected edges) — and
    * moves only the LABEL-TABLE bookkeeping driver-side:
    *   - the round's aggregate output (nodes × 3 columns, bounded by the
    *     edge set the caller just measured exactly) is collected once per
    *     round — replacing the implicit collect the broadcast join did;
    *   - the pointer jump becomes FULL path compression over the label
    *     map (zero distributed cost, where each extra distributed jump
    *     join measured net-negative in r15), which also cuts round count:
    *     compressed labels mean every fresh minimum propagates from a
    *     component's current root in one hop, the same acceleration two
    *     jump joins bought without their per-round cost;
    *   - the convergence check reads the collected rows (no extra job),
    *     and next round's labels re-enter as a LocalRelation under the
    *     same broadcast join.
    * Net: 1 Spark job per round instead of 2, a smaller plan to analyze,
    * and fewer rounds. Convergence = no label changed in a round BEFORE
    * compression — min-propagation over the symmetric edge set is then at
    * its fixpoint (adjacent labels mutually ≤ ⇒ equal; the component-min
    * node keeps itself), exactly the invariant the old check certified,
    * and compression at the fixpoint is the identity. */
  private def ccRoundsSmall(sym: DataFrame, maxIter: Int): DataFrame = {
    val spark = sym.sparkSession
    val nodeField = sym.schema("a")
    val labelSchema = org.apache.spark.sql.types.StructType(Seq(
      nodeField.copy(name = "node"), nodeField.copy(name = "label")))
    def labelDf(ls: Array[(Any, Any)]): DataFrame = {
      val rows: java.util.List[org.apache.spark.sql.Row] =
        java.util.Arrays.asList(
          ls.map { case (n, l) =>
            org.apache.spark.sql.Row(n, l) }: _*)
      spark.createDataFrame(rows, labelSchema)
    }
    var labels: Array[(Any, Any)] = sym.select(col("a")).distinct()
      .collect().map(r => (r.get(0), r.get(0)))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val lab = labelDf(labels)
      val contrib = sym
        .join(broadcast(lab), sym("a") === lab("node"))
        .select(col("b").as("node"), col("label"),
          lit(false).as("__self"))
        .unionByName(lab.withColumn("__self", lit(true)))
      val out = contrib
        .groupBy(col("node"))
        .agg(min(col("label")).as("label"),
          max(when(col("__self"), col("label"))).as("__old"))
        .collect()
      converged = out.forall(r => r.get(1) == r.get(2))
      // full path compression on the driver-resident label map
      val m = scala.collection.mutable.HashMap.empty[Any, Any]
      out.foreach(r => m.update(r.get(0), r.get(1)))
      var compressing = !converged
      while (compressing) {
        compressing = false
        m.keysIterator.toArray.foreach { k =>
          val l = m(k)
          val ll = m.getOrElse(l, l)
          if (ll != l) { m.update(k, ll); compressing = true }
        }
      }
      labels = out.map(r => (r.get(0), m(r.get(0))))
      iter += 1
    }
    require(converged,
      s"connected components did not converge in $maxIter rounds")
    labelDf(labels)
  }
}
