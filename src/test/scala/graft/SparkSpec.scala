package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide SparkSession, local[8]). */
object TestSpark {
  lazy val spark: SparkSession = graft.core.Sessions.local(8, "graft-test")
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark

  private val tempDirs = new ConcurrentLinkedQueue[Path]()

  /** A fresh `graft-<prefix>*` directory, deleted with its contents after the suite. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(s"graft-$prefix")
    tempDirs.add(d)
    d
  }

  /** Every manifest under a work dir, by path relative to it. */
  def manifests(dir: String): Map[String, String] = {
    val root = Paths.get(dir)
    Files.walk(root).iterator.asScala.filter(_.getFileName.toString == "manifest.json")
      .map(p => root.relativize(p).toString -> Files.readString(p)).toMap
  }

  override def afterAll(): Unit =
    try tempDirs.asScala.foreach(d => FileUtils.deleteQuietly(d.toFile))
    finally super.afterAll()
}
