package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.aggregate.Final
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** Executed physical plans as they ran, for assertions on what an action
  * actually executed: AQE's final stages, and the plans of the caches the
  * action read; and the persisted RDDs a test leaves behind. */
object ExecutedPlans extends AdaptiveSparkPlanHelper {

  /** Runs `body` and returns the executed plan of every query it ran,
    * captured by a QueryExecutionListener: `df.queryExecution` read after an
    * action no longer shows caches that were released when it finished.
    * Listener events arrive asynchronously but in order, so a marker query
    * run after `body` bounds the wait: once its plan arrives, so have all of
    * `body`'s. */
  def capture(spark: SparkSession)(body: => Unit): Seq[SparkPlan] = {
    val Marker = "graft-executed-plans-marker"
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    @volatile var markerSeen = false
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.toString.contains(Marker)) markerSeen = true
        else plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).selectExpr(s"'$Marker' AS m").collect()
      val deadline = System.currentTimeMillis + 15000
      while (!markerSeen && System.currentTimeMillis < deadline) Thread.sleep(50)
      assert(markerSeen, "query execution events did not arrive")
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  /** Every operator of `plan`, descending through AQE query stages and into
    * the plan of every cache it reads (each cache once), plus one relation
    * per cache read. */
  def walk(plan: SparkPlan): (Seq[SparkPlan], Seq[InMemoryRelation]) = {
    val ops = mutable.ArrayBuffer.empty[SparkPlan]
    val caches = mutable.ArrayBuffer.empty[InMemoryRelation]
    def go(p: SparkPlan): Unit = foreach(p) { op =>
      ops += op
      op match {
        case scan: InMemoryTableScanExec
            if !caches.exists(_.cacheBuilder eq scan.relation.cacheBuilder) =>
          caches += scan.relation
          go(scan.relation.cacheBuilder.cachedPlan)
        case _ =>
      }
    }
    go(plan)
    (ops.toSeq, caches.toSeq)
  }

  def operators(plan: SparkPlan): Seq[SparkPlan] = walk(plan)._1

  def caches(plan: SparkPlan): Seq[InMemoryRelation] = walk(plan)._2

  /** The leaf operators of `plan` — its scans: file scans, in-memory RDD
    * scans (`Scan ExistingRDD`, a local checkpoint), cache scans and the
    * leaves of every cached plan — found as [[walk]] finds operators. */
  def leafScans(plan: SparkPlan): Seq[SparkPlan] = operators(plan).filter(allChildren(_).isEmpty)

  private def local(p: Path): String = p.toUri.getPath.stripSuffix("/")

  /** The directory `plan` writes files to, if it is a file write. */
  def written(plan: SparkPlan): Option[String] = operators(plan).collectFirst {
    case DataWritingCommandExec(w: InsertIntoHadoopFsRelationCommand, _) => local(w.outputPath)
  }

  /** The root directories of the files `plan` scans. */
  def scanned(plan: SparkPlan): Seq[String] = leafScans(plan).flatMap {
    case s: FileSourceScanExec => s.relation.location.rootPaths.map(local)
    case _ => Nil
  }

  /** Block-size aggregates in `plan`: final-mode aggregates grouped by
    * `block_key` alone, one per salted grid that sized its entries. */
  def sizeAggregates(plan: SparkPlan): Int = operators(plan).count {
    case a: BaseAggregateExec =>
      a.groupingExpressions.map(_.name) == Seq("block_key") &&
        a.aggregateExpressions.exists(_.mode == Final)
    case _ => false
  }

  /** Runs `System.gc()` and polls until the RDDs persisted beyond `before`
    * are gone (a local checkpoint's blocks are freed by the ContextCleaner
    * once its frame is unreachable); returns how many are still pinned after
    * 15 s. Drop every frame and captured plan first: a plan holds
    * the checkpointed RDDs it read. */
  def awaitUnpinned(spark: SparkSession, before: collection.Set[Int]): Int = {
    val deadline = System.currentTimeMillis + 15000
    while (pinnedSince(spark, before) > 0 && System.currentTimeMillis < deadline) {
      System.gc()
      Thread.sleep(100)
    }
    pinnedSince(spark, before)
  }

  /** RDDs persisted now that were not in `before`. */
  def pinnedSince(spark: SparkSession, before: collection.Set[Int]): Int =
    spark.sparkContext.getPersistentRDDs.keys.count(!before.contains(_))
}
