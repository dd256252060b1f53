package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.SparkPartitionID
import org.apache.spark.sql.execution.{CollectLimitExec, RDDScanExec}

import graft.clustering.ConnectedComponents
import graft.fixtures.Fixture
import graft.lineage.SnapshotStore
import graft.pipeline.Linkage

/** A staged linkage run materializes each stage with one Parquet write:
  * counters that aggregate the written rows ride that write, and the
  * manifest's partition list comes from the committed files. Connected
  * components finishes in the driver at this size and writes no `cc/`
  * stage. A resume continues after the last complete stage. */
class StagedRunSpec extends SparkSpec {
  import spark.implicits._

  private lazy val pages = Fixture.pages(spark, 2000).toDF()

  private def tmp(tag: String) = tempDir(s"staged-$tag").toString

  /** The stages in the order a staged run completes them (ingest's manifest
    * follows projected's). */
  private val completionOrder = Seq("projected", "attrs", "blocks", "pairs", "scored", "clusters")

  /** The first staged run: its work dir, result and every execution, in order. */
  private lazy val (firstDir, firstRun, firstPlans) = {
    val dir = tmp("plans")
    var r: Linkage.Result = null
    val plans = ExecutedPlans.capture(spark) { r = Linkage.run(spark, pages, Linkage.Config(workDir = dir)) }
    (dir, r, plans)
  }

  import ExecutedPlans.{scanned, written}

  /** True if the run wrote no connected-components round stage. */
  private def noRoundStages(dir: String): Boolean = !Files.exists(Paths.get(s"$dir/cc"))

  test("staged run: no partition-id recount, every stage reads Parquet, two counter read-backs") {
    val plans = firstPlans
    // each stage is one write, in order; connected components collects its
    // edges and finishes in the driver, so no round stage under <workDir>/cc
    assert(plans.flatMap(written).map(Paths.get(_).getParent.getFileName.toString) ==
      completionOrder, s"${plans.size} executions")
    assert(noRoundStages(firstDir))
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
        case None => last.filter(scanned(p).contains).map(_ -> p)
      }
    }
    // attrs' and blocks' counter passes, and connected components' one
    // bounded collect of the scored edges
    assert(readBacks.map(r => Paths.get(r._1).getParent.getFileName.toString) ==
      Seq("attrs", "blocks", "scored"), s"read-backs: ${readBacks.map(_._1).mkString(", ")}")
    assert(ExecutedPlans.operators(readBacks.last._2).exists {
      case l: CollectLimitExec => l.limit == ConnectedComponents.LocalFinishRows + 1
      case _ => false
    }, readBacks.last._2)
  }

  test("two identical staged runs write byte-identical manifests") {
    firstPlans
    val second = tmp("again")
    Linkage.run(spark, pages, Linkage.Config(workDir = second))
    val (a, b) = (manifests(firstDir), manifests(second))
    assert(a.keySet == Seq("ingest", "projected", "attrs", "blocks", "pairs", "scored", "clusters")
      .map(_ + "/manifest.json").toSet, a.keySet)
    assert(b.keySet == a.keySet, b.keySet)
    a.foreach { case (k, v) => assert(b(k) == v, s"$k differs") }
    // the partition list counts rows per write task; they sum to the stage's rows
    val projected = a("projected/manifest.json")
    val parts = "\\{\"partition\":\\d+,\"rows\":(\\d+)\\}".r.findAllMatchIn(projected)
      .map(_.group(1).toLong).sum
    assert(projected.contains("\"partitions_count\":\"rows per write task"))
    val store = new SnapshotStore(spark, firstDir, resume = true)
    assert(store.counter("projected", "rows").contains(parts) && parts == 2000L)
    // no distributed round ran, and every page that joins a cluster is one union
    val clusters = firstRun.clusters.select("cluster_id").distinct().count()
    assert(firstRun.counters.get("clusters.cc_iterations").contains(0L))
    assert(firstRun.counters.get("clusters.merges_applied").contains(2000L - clusters),
      s"${firstRun.counters.get("clusters.merges_applied")} merges, $clusters clusters")
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
    // without the clusters manifest, clustering collects the empty edges
    // from the scored snapshot and writes only the clusters
    Files.delete(Paths.get(s"$dir/clusters/manifest.json"))
    var again: Linkage.Result = null
    val plans = ExecutedPlans.capture(spark) {
      again = Linkage.run(spark, lonely, Linkage.Config(workDir = dir, resume = true))
    }
    assert(again.resumedStages == Seq("projected", "attrs", "blocks", "pairs", "scored"))
    assert(plans.flatMap(written) == Seq(s"$dir/clusters/data.parquet"), plans.flatMap(written))
    assert(noRoundStages(dir))
    assert(again.counters.get("clusters.cc_iterations").contains(0L), again.counters)
    singletons(again)
  }

  /** Resumes a copy of the first run killed after `completionOrder(boundary)`:
    * every later manifest is gone and the next stage's write was cut short
    * (no commit marker, half its files, the first of them truncated). The
    * resume must resume exactly the complete prefix, write exactly the
    * incomplete stages, and end with the uninterrupted run's clusters and
    * counters. */
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
    assert(r.resumedStages == done, at)
    assert(plans.flatMap(written).map(_.stripPrefix(s"$dir/").stripSuffix("/data.parquet")) == rest, at)
    assert(r.counters == firstRun.counters, at)
    assert(r.clusters.orderBy("url").collect().sameElements(firstRun.clusters.orderBy("url").collect()), at)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("kill/resume after every top-level stage: only the incomplete stages recompute") {
    for (boundary <- completionOrder.indices.init) killAndResume(boundary)
  }
}
