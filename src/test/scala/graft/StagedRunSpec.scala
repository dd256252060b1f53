package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions.SparkPartitionID
import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand

import graft.fixtures.Fixture
import graft.lineage.SnapshotStore
import graft.pipeline.Linkage

/** A staged linkage run materializes each stage, and each connected
  * components iteration, with one Parquet write: counters that aggregate
  * the written rows ride that write, and the manifest's partition list
  * comes from the committed files. A resume continues after the last
  * complete stage or iteration. */
class StagedRunSpec extends SparkSpec {
  import spark.implicits._

  private lazy val pages = Fixture.pages(spark, 2000).toDF()

  private def tmp(tag: String) = Files.createTempDirectory(s"graft-staged-$tag").toString

  /** The first staged run: its work dir, result and every execution, in order. */
  private lazy val (firstDir, firstRun, firstPlans) = {
    val dir = tmp("plans")
    var r: Linkage.Result = null
    val plans = ExecutedPlans.capture(spark) { r = Linkage.run(spark, pages, Linkage.Config(workDir = dir)) }
    (dir, r, plans)
  }

  /** The connected-components iteration stages of a work dir, in order. */
  private def ccIterations(dir: String): Seq[String] =
    new java.io.File(s"$dir/cc").list().toSeq.sortBy(_.stripPrefix("edges_iter_").toInt)
      .map("cc/" + _)

  private def local(p: Path): String = p.toUri.getPath.stripSuffix("/")

  private def written(plan: SparkPlan): Option[String] =
    ExecutedPlans.operators(plan).collectFirst {
      case DataWritingCommandExec(w: InsertIntoHadoopFsRelationCommand, _) => local(w.outputPath)
    }

  private def scanned(plan: SparkPlan): Seq[String] =
    ExecutedPlans.leafScans(plan).flatMap {
      case s: FileSourceScanExec => s.relation.location.rootPaths.map(local)
      case _ => Nil
    }

  private def manifests(dir: String): Map[String, String] = {
    val root = Paths.get(dir)
    Files.walk(root).iterator.asScala.filter(_.getFileName.toString == "manifest.json")
      .map(p => root.relativize(p).toString -> Files.readString(p)).toMap
  }

  test("staged run: no partition-id recount, every stage reads Parquet, two counter read-backs") {
    val plans = firstPlans
    assert(plans.count(written(_).isDefined) >= 8, s"${plans.size} executions")
    val recounts = plans.filter(p => ExecutedPlans.operators(p)
      .exists(_.expressions.exists(_.exists(_.isInstanceOf[SparkPartitionID]))))
    assert(recounts.isEmpty, s"executions grouping by spark_partition_id:\n${recounts.mkString("\n")}")
    val inMemory = plans.flatMap(ExecutedPlans.leafScans).collect { case s: RDDScanExec => s }
    assert(inMemory.isEmpty, s"in-memory scans: ${inMemory.map(_.nodeName).mkString(", ")}")
    // a read-back: an execution that writes nothing and scans the snapshot
    // the write just before it committed
    var last = Option.empty[String]
    val readBacks = plans.flatMap { p =>
      written(p) match {
        case w @ Some(_) => last = w; None
        case None => last.filter(scanned(p).contains)
      }
    }
    assert(readBacks.map(Paths.get(_).getParent.getFileName.toString) == Seq("attrs", "blocks"),
      s"read-backs: ${readBacks.mkString(", ")}")
    // staged connected components writes the canonical edges and each
    // iteration's as snapshot stages under <workDir>/cc, in order, each the
    // next iteration's input
    val iters = ccIterations(firstDir)
    assert(iters.headOption.contains("cc/edges_iter_0") && iters.size >= 2, iters.mkString(","))
    assert(plans.flatMap(written).filter(_.contains("/cc/")) ==
      iters.map(i => s"$firstDir/$i/data.parquet"))
  }

  test("two identical staged runs write byte-identical manifests") {
    firstPlans
    val second = tmp("again")
    Linkage.run(spark, pages, Linkage.Config(workDir = second))
    val (a, b) = (manifests(firstDir), manifests(second))
    assert(a.keySet == (Seq("ingest", "projected", "attrs", "blocks", "pairs", "scored", "clusters") ++
      ccIterations(firstDir)).map(_ + "/manifest.json").toSet, a.keySet)
    assert(b.keySet == a.keySet, b.keySet)
    a.foreach { case (k, v) => assert(b(k) == v, s"$k differs") }
    // the partition list counts rows per write task; they sum to the stage's rows
    val projected = a("projected/manifest.json")
    val parts = "\\{\"partition\":\\d+,\"rows\":(\\d+)\\}".r.findAllMatchIn(projected)
      .map(_.group(1).toLong).sum
    assert(projected.contains("\"partitions_count\":\"rows per write task"))
    val store = new SnapshotStore(spark, firstDir, resume = true)
    assert(store.counter("projected", "rows").contains(parts) && parts == 2000L)
    // the top-level clustering counters sum the iteration manifests'
    val iters = ccIterations(firstDir)
    assert(firstRun.counters.get("clusters.cc_iterations").contains(iters.size - 1L))
    assert(firstRun.counters.get("clusters.merges_applied")
      .contains(iters.flatMap(store.counter(_, "merges_applied")).sum))
  }

  test("a staged run whose pages share no block completes with zero pairs") {
    // letters-only words, no word shared between pages: normalization keeps
    // them apart, and each page sits on its own domain
    def word(n: Int) = Iterator.iterate(n)(_ / 26).takeWhile(_ > 0)
      .map(k => ('a' + k % 26).toChar).mkString
    val lonely = (0 until 6).map(i =>
      (s"https://site$i.example/p", (0 until 40).map(j => word(20000 + 50 * i + j)).mkString(" ")))
      .toDF("url", "text")
    val dir = tmp("lonely")
    val r = Linkage.run(spark, lonely, Linkage.Config(workDir = dir))
    assert(r.counters.get("pairs.rows").contains(0L), r.counters)
    assert(r.counters.get("scored.rows").contains(0L), r.counters)
    assert(r.counters.get("clusters.cc_iterations").contains(0L), r.counters)
    assert(r.counters.get("ingest.rows").contains(6L), r.counters)
    def singletons(r: Linkage.Result): Unit = {
      val clusters = r.clusters.collect().map(row => row.getString(0) -> row.getString(1))
      assert(clusters.length == 6 && clusters.forall { case (u, c) => u == c }, clusters.mkString(","))
    }
    singletons(r)
    // the empty snapshots resume
    val resumed = Linkage.run(spark, lonely, Linkage.Config(workDir = dir, resume = true))
    assert(resumed.resumedStages == Seq("projected", "attrs", "blocks", "pairs", "scored", "clusters"))
    singletons(resumed)
    // without the clusters manifest, clustering reads the empty input edges
    // back instead of writing them again
    Files.delete(Paths.get(s"$dir/clusters/manifest.json"))
    var again: Linkage.Result = null
    val plans = ExecutedPlans.capture(spark) {
      again = Linkage.run(spark, lonely, Linkage.Config(workDir = dir, resume = true))
    }
    assert(again.resumedStages == Seq("projected", "attrs", "blocks", "pairs", "scored"))
    assert(plans.flatMap(written) == Seq(s"$dir/clusters/data.parquet"), plans.flatMap(written))
    assert(ccIterations(dir) == Seq("cc/edges_iter_0"))
    assert(again.counters.get("clusters.cc_iterations").contains(0L), again.counters)
    singletons(again)
  }

  /** The stages in the order a staged run completes them (ingest's manifest
    * follows projected's): the top-level stages with connected components'
    * iterations before clusters. */
  private lazy val completionOrder = Seq("projected", "attrs", "blocks", "pairs", "scored") ++
    ccIterations(firstDir) :+ "clusters"

  /** Resumes a copy of the first run killed after `completionOrder(boundary)`:
    * every later manifest is gone and the next stage's write was cut short
    * (no commit marker, half its files, the first of them truncated). The
    * resume must resume exactly the complete top-level prefix, write exactly
    * the incomplete stages and iterations, and end with the uninterrupted
    * run's clusters and counters. */
  private def killAndResume(boundary: Int): Unit = {
    val (done, rest) = completionOrder.splitAt(boundary + 1)
    val at = s"killed after ${done.last}"
    val dir = tmp("kill")
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(firstDir), new java.io.File(dir))
    rest.foreach(s => Files.deleteIfExists(Paths.get(s"$dir/$s/manifest.json")))
    val files = Files.walk(Paths.get(s"$dir/${rest.head}")).iterator.asScala
      .filter(Files.isRegularFile(_)).toSeq.sorted
    val parts = files.filter(_.getFileName.toString.startsWith("part-"))
    (files.diff(parts) ++ parts.drop((parts.size + 1) / 2)).foreach(Files.delete)
    Files.write(parts.head, Files.readAllBytes(parts.head).take(Files.size(parts.head).toInt / 2))

    var r: Linkage.Result = null
    val plans = ExecutedPlans.capture(spark) {
      r = Linkage.run(spark, pages, Linkage.Config(workDir = dir, resume = true))
    }
    assert(r.resumedStages == completionOrder.filterNot(_.startsWith("cc/")).filter(done.contains), at)
    assert(plans.flatMap(written).map(_.stripPrefix(s"$dir/").stripSuffix("/data.parquet")) == rest, at)
    assert(r.counters == firstRun.counters, at)
    assert(r.clusters.orderBy("url").collect().sameElements(firstRun.clusters.orderBy("url").collect()), at)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("kill/resume after every top-level stage: only the incomplete stages recompute") {
    for (boundary <- completionOrder.indices if !completionOrder(boundary).startsWith("cc/")
         if boundary < completionOrder.size - 1)
      killAndResume(boundary)
  }

  test("kill/resume after every connected-components iteration: clustering continues from it") {
    for (boundary <- completionOrder.indices if completionOrder(boundary).startsWith("cc/"))
      killAndResume(boundary)
  }
}
