package graft.lineage

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Iceberg-style snapshot + manifest protocol (no Iceberg jar in the offline
  * env — SURVEY §7.1): every stage writes its output as a Parquet snapshot
  * directory plus a JSON manifest carrying row counts, per-partition lineage
  * counters, stage-specific counters, and a config fingerprint. A stage whose
  * manifest is complete and fingerprint-matching is NOT recomputed on resume —
  * this formalizes the reference's manual stage-materialization pattern
  * (conver_test.py:156,178,211; split_data.py:127-137).
  */
object Snapshots {
  case class StageOutcome(df: DataFrame, resumed: Boolean, counters: Map[String, Long])

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def writeManifest(path: String, fields: Map[String, String], counters: Map[String, Long],
                    partitions: Seq[(Int, Long)]): Unit = {
    val head = fields.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
    val ctr = counters.toSeq.sortBy(_._1).map { case (k, v) => s""""${esc(k)}":$v""" }
      .mkString("{", ",", "}")
    val parts = partitions.sortBy(_._1)
      .map { case (p, n) => s"""{"partition":$p,"rows":$n}""" }.mkString("[", ",", "]")
    val json = (head :+ s""""counters":$ctr""" :+ s""""partitions":$parts""")
      .mkString("{", ",", "}")
    val target = Paths.get(path).toAbsolutePath
    Files.createDirectories(target.getParent)
    // own temp file per write + atomic rename: a reader never observes a torn
    // manifest, and concurrent writers of one manifest never share a temp
    // file, so the manifest left is exactly one writer's content
    val tmp = Files.createTempFile(target.getParent, target.getFileName.toString, ".tmp")
    try {
      Files.writeString(tmp, json)
      try Files.move(tmp, target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      catch {
        case _: java.nio.file.AtomicMoveNotSupportedException =>
          Files.move(tmp, target, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    } finally Files.deleteIfExists(tmp)
  }

  /** Minimal field extraction (manifests are machine-written; values are
    * fingerprints/stage names with no embedded quotes). */
  def readManifestField(path: String, key: String): Option[String] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) return None
    val s = Files.readString(p)
    val m = ("\"" + java.util.regex.Pattern.quote(key) + "\":\"([^\"]*)\"").r
    m.findFirstMatchIn(s).map(_.group(1))
  }
}

/** Per-run snapshot store rooted at `root`. */
class SnapshotStore(spark: SparkSession, root: String, resume: Boolean) {
  import Snapshots._

  private def dataPath(stage: String) = s"$root/$stage/data.parquet"
  private def manifestPath(stage: String) = s"$root/$stage/manifest.json"

  /** Read a completed stage's snapshot back (post-run consumers: evaluation
    * over the scored snapshot, ad-hoc inspection). */
  def snapshot(stage: String): DataFrame = spark.read.parquet(dataPath(stage))

  /** True if `stage` completed with the same fingerprint (used by resume tests). */
  def isComplete(stage: String, fingerprint: String): Boolean =
    readManifestField(manifestPath(stage), "status").contains("complete") &&
      readManifestField(manifestPath(stage), "fingerprint").contains(fingerprint)

  /** Run (or resume) a stage. On compute: ONE Spark job writes the Parquet
    * snapshot, with `rows` and the `observed` counters (named, never-null
    * aggregates) as its observed metrics; only `countersFromWritten`, for
    * counters that need a shuffle, scans the snapshot again. The partition
    * list comes from the written files. On resume: reads the snapshot back
    * with its manifest's counters — upstream lineage is fully cut.
    *
    * `riders`: manifest-only stages (`format` none) whose Observation,
    * applied by `compute`, rides this write (ingest's row count and text
    * hash ride projected's). Their manifests follow this stage's, which
    * resumes only when they are complete too.
    *
    * `partitionBy` columns (present in the computed frame) become Hive-style
    * snapshot partitions — a resumed or incremental read with a filter on
    * them PRUNES at the directory level (PlanSpec pins the pruning). */
  def stage(
      name: String,
      fingerprint: String,
      countersFromWritten: DataFrame => Map[String, Long] = _ => Map.empty,
      partitionBy: Seq[String] = Nil,
      observed: Seq[Column] = Nil,
      riders: Seq[(String, Observation)] = Nil)(compute: => DataFrame): StageOutcome = {
    if (resume && (name +: riders.map(_._1)).forall(isComplete(_, fingerprint)))
      return StageOutcome(spark.read.parquet(dataPath(name)), resumed = true, counters(name))
    val obs = Observation()
    val df = compute.observe(obs, count(lit(1)).as("rows"), observed: _*)
    df.write.mode("overwrite").partitionBy(partitionBy: _*).parquet(dataPath(name))
    // known schema, partition columns last as a read finds them: no footer job
    val (parts, data) = df.schema.partition(f => partitionBy.contains(f.name))
    val written = spark.read.schema(StructType(data ++ parts)).parquet(dataPath(name))
    val stageCounters = longs(obs) ++ countersFromWritten(written)
    def header(stage: String, format: String) = Map("stage" -> stage,
      "fingerprint" -> fingerprint, "status" -> "complete", "format" -> format)
    writeManifest(manifestPath(name), header(name, "parquet") +
      ("partitions_count" -> "rows per write task, largest first, from the Parquet footers"),
      stageCounters, writeTaskRows(dataPath(name)))
    // an Observation completes only on a write that ran: never on a resume
    riders.foreach { case (r, o) => writeManifest(manifestPath(r), header(r, "none"), longs(o), Nil) }
    StageOutcome(written, resumed = false, stageCounters)
  }

  private def longs(obs: Observation) = obs.get.map { case (k, v) => k -> v.asInstanceOf[Long] }

  /** Rows per write task, read from the committed files' Parquet footers
    * (metadata only, no Spark job), numbered largest first. A task's files
    * share its partition index as the `part-NNNNN` prefix, one file per
    * `partitionBy` directory it wrote to; their rows are summed. Which task
    * index wrote which rows is not kept: a write that reads files without a
    * shuffle hands equal-size files to its tasks in directory listing
    * order, so two runs can swap two tasks' counts. */
  private def writeTaskRows(path: String): Seq[(Int, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = new Path(path).getFileSystem(conf).listFiles(new Path(path), true)
    val PartFile = """part-(\d+)-.*\.parquet""".r
    Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      .flatMap(f => f.getPath.getName match {
        case PartFile(task) =>
          val footer = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
          try Some(task.toInt -> footer.getRecordCount) finally footer.close()
        case _ => None
      })
      .toSeq.groupMapReduce(_._1)(_._2)(_ + _).values.toSeq
      .sorted(Ordering[Long].reverse).zipWithIndex.map(_.swap)
  }

  def counter(stage: String, key: String): Option[Long] = counters(stage).get(key)

  /** All counters recorded in a stage manifest (resume-time readback). */
  def counters(stage: String): Map[String, Long] = {
    val p = Paths.get(manifestPath(stage))
    if (!Files.exists(p)) return Map.empty
    val s = Files.readString(p)
    val obj = "\"counters\":\\{([^}]*)\\}".r.findFirstMatchIn(s).map(_.group(1)).getOrElse("")
    "\"([^\"]+)\":(-?\\d+)".r.findAllMatchIn(obj)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
  }
}
