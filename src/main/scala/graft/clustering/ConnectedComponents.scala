package graft.clustering

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.lineage.Snapshots.StageOutcome

/** Stage 3: transitive clustering via the alternating large-star / small-star
  * connected-components algorithm (Kiveris et al., "Connected Components in
  * MapReduce and Beyond" — public algorithm), expressed entirely in DataFrame
  * ops: each round is two groupBy-min aggregations + joins; O(log n) rounds.
  *
  * The reference has no clustering (pairs are given — SURVEY §0); this stage
  * is the north-star addition that turns above-threshold pairs into entity
  * clusters. cluster_id = lexicographic min url of the component.
  */
object ConnectedComponents {

  /** assignments: (node, root) — root is the component minimum. */
  case class Result(assignments: DataFrame, iterations: Int, mergesApplied: Long)

  /** Edges after each phase are kept canonical: (node, root) with root < node.
    * NOT deduped here: [[smallStar]]'s min-aggregation is duplicate-blind and
    * its own final distinct canonicalizes the iteration's output, so a
    * distinct at this seam was one full exchange + hash aggregate per
    * iteration spent collapsing rows the next operator collapses anyway
    * (duplicates entering smallStar at most double its input — bounded by
    * parallel (node, root) derivations, and partial map-side aggregation
    * absorbs them before they shuffle). */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("node").as("u"), col("root").as("v"))
      .unionByName(e.select(col("root").as("u"), col("node").as("v")))
    val m = sym.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("mu"))
    sym.join(m, "u")
      .where(col("v") > col("u"))
      .select(col("v").as("node"), col("mu").as("root"))
      .where(col("node") =!= col("root"))
  }

  private def smallStar(e: DataFrame): DataFrame = {
    // edges are already (node, root) with root < node
    val m = e.groupBy("node").agg(min("root").as("mr"))
    val moved = e.join(m, "node")
      .select(col("root").as("node"), col("mr").as("root"))
      .where(col("node") =!= col("root"))
    val self = m.select(col("node"), col("mr").as("root"))
    moved.unionByName(self).distinct()
  }

  /** Writes the named edge table, with the given counters observed on the
    * write, or resumes it: [[graft.lineage.SnapshotStore.stage]] bound to
    * the caller's store and fingerprint. */
  type Stage = (String, Seq[Column]) => (=> DataFrame) => StageOutcome

  private val rows = count(lit(1)).as("rows")
  private val edgeHash = coalesce(bit_xor(xxhash64(col("node"), col("root"))), lit(0L)).as("edge_hash")
  private val mergesApplied = coalesce(sum(col("changed")), lit(0L)).as("merges_applied")

  /** Materializes edge table `i` in one job, with its convergence signature
    * (`rows`, `edge_hash`: count and order-independent hash) and, from
    * i = 1 when staged, `merges_applied` as observed metrics of that job:
    * no extra job, no driver collect (SURVEY §7.5.5; VERDICT r1 §perf).
    * Staged, it is the snapshot stage `edges_iter_<i>`, which a resume reads
    * back with its manifest's counters; else a localCheckpoint. */
  private def materialize(stage: Option[Stage], i: Int, df: => DataFrame)
      : (DataFrame, Map[String, Long]) = stage match {
    case Some(s) =>
      val o = s(s"edges_iter_$i", if (i == 0) Seq(edgeHash) else Seq(edgeHash, mergesApplied))(df)
      (o.df, o.counters)
    case None =>
      val obs = Observation()
      val chk = df.observe(obs, rows, edgeHash).localCheckpoint()
      (chk, obs.get.map { case (k, v) => k -> v.asInstanceOf[Long] })
  }

  private def signature(c: Map[String, Long]) = (c("rows"), c("edge_hash"))

  /**
    * @param edges (src, dst) above-threshold pairs, any orientation
    * @param nodes optional universe of nodes (single column "node", any
    *              orderable type); singletons get root = self
    * @param stage if set, the canonical input edges and each iteration's are
    *              the snapshot stages `edges_iter_N` (N = 0 is the input;
    *              north rule: checkpointed per-iteration edge tables), each
    *              the next iteration's input, so a resume continues after the
    *              last complete one; and root-pointer rewrites are counted
    *              (lineage counter `merges_applied`: a left join against the
    *              previous edge table, summed on the SAME write). Else each
    *              table is localCheckpointed and merges are not counted.
    */
  def run(
      spark: SparkSession,
      edges: DataFrame,
      nodes: Option[DataFrame] = None,
      maxIter: Int = 30,
      stage: Option[Stage] = None): Result = {
    var (e, c) = materialize(stage, 0, edges
      .select(greatest(col("src"), col("dst")).as("node"), least(col("src"), col("dst")).as("root"))
      .where(col("node") =!= col("root"))
      .distinct())

    var iter = 0
    var merges = 0L
    var converged = c("rows") == 0L
    while (!converged && iter < maxIter) {
      iter += 1
      // staged tables keep the `changed` column their counter sums
      val prev = e.select("node", "root")
      // one star round per materialization: each round consumes its input
      // 3-4× (symmetrize + min-aggregate + join), so chaining rounds
      // unmaterialized re-executes the previous round's plan per consumer —
      // measured SLOWER than one job per round (er 12.8 → 17.3 s at 100k)
      val (next, nc) = materialize(stage, iter, {
        val stepped = smallStar(largeStar(prev))
        // merges applied this round = root pointers created or rewritten =
        // (node, root) rows absent from the previous edge table. The diff
        // joins on BOTH columns — prev's rows are distinct, so the left join
        // can never fan out a stepped row (a node legitimately carries
        // several roots mid-convergence; joining on node alone would
        // DUPLICATE edges).
        if (stage.isEmpty) stepped
        else stepped.join(prev.withColumn("existed", lit(1L)), Seq("node", "root"), "left")
          .withColumn("changed", when(col("existed").isNull, 1L).otherwise(0L))
          .select("node", "root", "changed")
      })
      merges += nc.getOrElse("merges_applied", 0L)
      converged = signature(nc) == signature(c)
      e = next
      c = nc
    }

    val assign = e.select(col("node"), col("root"))
    val result = nodes match {
      case Some(n) =>
        n.select("node").join(assign, Seq("node"), "left")
          .select(col("node"), coalesce(col("root"), col("node")).as("root"))
      case None =>
        assign.unionByName(
          e.select(col("root").as("node"), col("root")).distinct())
    }
    Result(result, iter, merges)
  }
}
