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
  * comes from the committed files. */
class StagedRunSpec extends SparkSpec {
  import spark.implicits._

  private lazy val pages = Fixture.pages(spark, 2000).toDF()

  private def tmp(tag: String) = Files.createTempDirectory(s"graft-staged-$tag").toString

  /** Every execution of the first staged run, in order. */
  private lazy val (firstDir, firstPlans) = {
    val dir = tmp("plans")
    (dir, ExecutedPlans.capture(spark)(Linkage.run(spark, pages, Linkage.Config(workDir = dir))))
  }

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
    // iteration's under <workDir>/cc, and reads each back as the next input
    val iters = new java.io.File(s"$firstDir/cc").list().toSeq.sorted
    assert(iters.headOption.contains("edges_iter_0") && iters.size >= 2, iters.mkString(","))
    assert(plans.flatMap(written).count(_.contains("/cc/edges_iter_")) == iters.size)
  }

  test("two identical staged runs write byte-identical manifests") {
    firstPlans
    val second = tmp("again")
    Linkage.run(spark, pages, Linkage.Config(workDir = second))
    val (a, b) = (manifests(firstDir), manifests(second))
    assert(a.keySet == Set("ingest", "projected", "attrs", "blocks", "pairs", "scored", "clusters")
      .map(_ + "/manifest.json"), a.keySet)
    a.foreach { case (k, v) => assert(b(k) == v, s"$k differs") }
    // the partition list counts rows per write task; they sum to the stage's rows
    val projected = a("projected/manifest.json")
    val parts = "\\{\"partition\":\\d+,\"rows\":(\\d+)\\}".r.findAllMatchIn(projected)
      .map(_.group(1).toLong).sum
    assert(projected.contains("\"partitions_count\":\"rows per write task"))
    assert(new SnapshotStore(spark, firstDir, resume = true).counter("projected", "rows")
      .contains(parts) && parts == 2000L)
  }

  test("a staged run whose pages share no block completes with zero pairs") {
    // letters-only words, no word shared between pages: normalization keeps
    // them apart, and each page sits on its own domain
    def word(n: Int) = Iterator.iterate(n)(_ / 26).takeWhile(_ > 0)
      .map(k => ('a' + k % 26).toChar).mkString
    val lonely = (0 until 6).map(i =>
      (s"https://site$i.example/p", (0 until 40).map(j => word(20000 + 50 * i + j)).mkString(" ")))
      .toDF("url", "text")
    val r = Linkage.run(spark, lonely, Linkage.Config(workDir = tmp("lonely")))
    assert(r.counters.get("pairs.rows").contains(0L), r.counters)
    assert(r.counters.get("scored.rows").contains(0L), r.counters)
    assert(r.counters.get("clusters.cc_iterations").contains(0L), r.counters)
    assert(r.counters.get("ingest.rows").contains(6L), r.counters)
    val clusters = r.clusters.collect().map(row => row.getString(0) -> row.getString(1))
    assert(clusters.length == 6 && clusters.forall { case (u, c) => u == c }, clusters.mkString(","))
  }
}
