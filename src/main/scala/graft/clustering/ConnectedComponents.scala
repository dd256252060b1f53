package graft.clustering

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{InterpretedOrdering, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.lineage.Snapshots.StageOutcome

/** Stage 3: transitive clustering via the alternating large-star / small-star
  * connected-components algorithm (Kiveris et al., "Connected Components in
  * MapReduce and Beyond" — public algorithm), expressed entirely in DataFrame
  * ops: each round is two groupBy-min aggregations + joins; O(log n) rounds.
  * Once the edge table fits [[LocalFinishRows]] rows — the input, or the
  * output of a round — the driver collects it and finishes with a
  * union-find, so a graph that small never pays a round's fixed cost, and
  * a converged forest within the bound skips the confirm-only round.
  *
  * The reference has no clustering (pairs are given — SURVEY §0); this stage
  * is the north-star addition that turns above-threshold pairs into entity
  * clusters. cluster_id = lexicographic min url of the component.
  */
object ConnectedComponents {

  /** assignments: (node, root) — root is the component minimum.
    * `iterations`: distributed rounds run; `mergesApplied`: unions, i.e. the
    * rows of the converged star forest = Σ(component size − 1). */
  case class Result(assignments: DataFrame, iterations: Int, mergesApplied: Long)

  /** The largest edge table finished in the driver: 2^18 (node, root) rows.
    * With 128-bit struct ids, 186,810 collected rows held 44 MB of driver
    * heap, 56 MB with the union-find's output: about 80 MB at the bound. */
  val LocalFinishRows: Int = 1 << 18

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

  /** Materializes edge table `i` in one job, with its convergence signature
    * (`rows`, `edge_hash`: count and order-independent hash) as observed
    * metrics of that job: no extra job, no driver collect (SURVEY §7.5.5;
    * VERDICT r1 §perf). Staged, it is the snapshot stage `edges_iter_<i>`,
    * which a resume reads back with its manifest's counters; else a
    * localCheckpoint. */
  private def materialize(stage: Option[Stage], i: Int, df: => DataFrame)
      : (DataFrame, Map[String, Long]) = stage match {
    case Some(s) =>
      val o = s(s"edges_iter_$i", Seq(edgeHash))(df)
      (o.df, o.counters)
    case None =>
      val obs = Observation()
      val chk = df.observe(obs, rows, edgeHash).localCheckpoint()
      (chk, obs.get.map { case (k, v) => k -> v.asInstanceOf[Long] })
  }

  private def signature(c: Map[String, Long]) = (c("rows"), c("edge_hash"))

  /** Connected components of collected (node, root) rows, in the driver:
    * union-find with path halving, each union keeping the smaller root in
    * Catalyst's ordering of the node type (the order `least`/`min` use), so
    * every root is its component's minimum. Returns (non-root node, root)
    * assignments, (root, root) rows and the number of unions. */
  private def finishLocally(spark: SparkSession, edges: Array[Row], schema: StructType)
      : (DataFrame, DataFrame, Long) = {
    val dt = schema.head.dataType
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
    val toKey = UnsafeProjection.create(Array(dt))
    val ordering = InterpretedOrdering.forSchema(Seq(dt))
    // dense ids over the endpoints; keys compare and hash as Catalyst does
    val ids = mutable.HashMap.empty[UnsafeRow, Int]
    val keys = mutable.ArrayBuffer.empty[UnsafeRow]
    val values = mutable.ArrayBuffer.empty[Any]
    val parent = mutable.ArrayBuffer.empty[Int]
    def id(v: Any): Int = {
      val k = toKey(InternalRow(toCatalyst(v))).copy()
      ids.getOrElseUpdate(k, { keys += k; values += v; parent += parent.size; parent.size - 1 })
    }
    def find(x: Int): Int = {
      var i = x
      while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
      i
    }
    var unions = 0L
    edges.foreach { e =>
      val (ra, rb) = (find(id(e.get(0))), find(id(e.get(1))))
      if (ra != rb) {
        if (ordering.compare(keys(ra), keys(rb)) < 0) parent(rb) = ra else parent(ra) = rb
        unions += 1
      }
    }
    val (assigned, roots) = keys.indices.partition(i => find(i) != i)
    def frame(rs: Seq[Row]) = spark.createDataFrame(rs.asJava, schema)
    (frame(assigned.map(i => Row(values(i), values(find(i))))),
      frame(roots.map(i => Row(values(i), values(i)))), unions)
  }

  /**
    * @param edges (src, dst) above-threshold pairs, any orientation
    * @param nodes optional universe of nodes (single column "node", any
    *              orderable type); singletons get root = self
    * @param stage if set, the canonical input edges and each round's are
    *              the snapshot stages `edges_iter_N` (N = 0 is the input;
    *              north rule: checkpointed per-iteration edge tables), each
    *              the next round's input, so a resume continues after the
    *              last complete one. Else each table is localCheckpointed.
    *              A graph finished in the driver before any round writes
    *              no stage.
    */
  def run(
      spark: SparkSession,
      edges: DataFrame,
      nodes: Option[DataFrame] = None,
      maxIter: Int = 30,
      stage: Option[Stage] = None): Result =
    run(spark, edges, nodes, maxIter, stage, LocalFinishRows)

  /** [[run]] with the largest edge table finished in the driver as a
    * parameter: decided before any round by one collect of at most
    * `localFinishRows + 1` input rows, and after each round by its `rows`
    * counter. Negative runs distributed rounds only. Tests pick it. */
  private[graft] def run(
      spark: SparkSession,
      edges: DataFrame,
      nodes: Option[DataFrame],
      maxIter: Int,
      stage: Option[Stage],
      localFinishRows: Int): Result = {
    val oriented = edges
      .select(greatest(col("src"), col("dst")).as("node"), least(col("src"), col("dst")).as("root"))
      .where(col("node") =!= col("root"))

    def result(assign: DataFrame, roots: => DataFrame, iterations: Int, merges: Long) = {
      val assignments = nodes match {
        case Some(n) =>
          n.select("node").join(assign, Seq("node"), "left")
            .select(col("node"), coalesce(col("root"), col("node")).as("root"))
        case None => assign.unionByName(roots)
      }
      Result(assignments, iterations, merges)
    }
    def finish(collected: Array[Row], iterations: Int) = {
      val (assign, roots, unions) = finishLocally(spark, collected, oriented.schema)
      result(assign, roots, iterations, unions)
    }

    if (localFinishRows >= 0) {
      val head = oriented.limit(localFinishRows + 1).collect()
      if (head.length <= localFinishRows) return finish(head, 0)
    }

    var (e, c) = materialize(stage, 0, oriented.distinct())
    var iter = 0
    var converged = c("rows") == 0L
    while (!converged && iter < maxIter) {
      iter += 1
      // one star round per materialization: each round consumes its input
      // 3-4× (symmetrize + min-aggregate + join), so chaining rounds
      // unmaterialized re-executes the previous round's plan per consumer —
      // measured SLOWER than one job per round (er 12.8 → 17.3 s at 100k)
      val (next, nc) = materialize(stage, iter, smallStar(largeStar(e)))
      if (nc("rows") <= localFinishRows) return finish(next.collect(), iter)
      converged = signature(nc) == signature(c)
      e = next
      c = nc
    }
    // the converged forest holds one row per union
    result(e, e.select(col("root").as("node"), col("root")).distinct(), iter, c("rows"))
  }
}
