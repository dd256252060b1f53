package graft.lineage

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iceberg-style snapshot + manifest protocol (no Iceberg jar in the offline
  * env — SURVEY §7.1): every stage writes its output as a Parquet snapshot
  * directory plus a JSON manifest carrying row counts, per-partition lineage
  * counters, stage-specific counters, and a config fingerprint. A stage whose
  * manifest is complete and fingerprint-matching is NOT recomputed on resume —
  * this formalizes the reference's manual stage-materialization pattern
  * (conver_test.py:156,178,211; split_data.py:127-137).
  */
object Snapshots {
  case class StageOutcome(df: DataFrame, resumed: Boolean, rows: Long,
                          counters: Map[String, Long])

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

  /** Run (or resume) a stage. On compute: writes the Parquet snapshot, then
    * derives row counts + per-partition lineage counters from the *written*
    * files (no plan recompute), and marks the manifest complete. On resume:
    * reads the snapshot back — upstream lineage is fully cut.
    *
    * `partitionBy` columns (present in the computed frame) become Hive-style
    * snapshot partitions — a resumed or incremental read with a filter on
    * them PRUNES at the directory level (PlanSpec pins the pruning). */
  def stage(
      name: String,
      fingerprint: String,
      countersFromWritten: DataFrame => Map[String, Long] = _ => Map.empty,
      shaCol: Option[String] = None,
      partitionBy: Seq[String] = Nil)(compute: => DataFrame): StageOutcome = {
    if (resume && isComplete(name, fingerprint)) {
      val df = spark.read.parquet(dataPath(name))
      return StageOutcome(df, resumed = true, rows = -1L, counters = Map.empty)
    }
    val writer = compute.write.mode("overwrite")
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .parquet(dataPath(name))
    val written = spark.read.parquet(dataPath(name))
    val perPart = written.groupBy(spark_partition_id().as("p")).count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val rows = perPart.map(_._2).sum
    // per-row invariant spot-check: order-independent hash-sum of sha256(col)
    val shaSum = shaCol.map { c =>
      written.agg(coalesce(expr(s"bit_xor(xxhash64(sha2($c, 256)))"), lit(0L))).collect()(0).getLong(0)
    }
    val stageCounters = countersFromWritten(written) ++ Map("rows" -> rows) ++
      shaSum.map(s => "sha_sum" -> s).toMap
    writeManifest(manifestPath(name),
      Map("stage" -> name, "fingerprint" -> fingerprint, "status" -> "complete",
        "format" -> "parquet"),
      stageCounters, perPart)
    StageOutcome(written, resumed = false, rows = rows, counters = stageCounters)
  }

  /** Record a manifest for a stage that does not materialize data (e.g. the
    * ingest stage records the input's invariant hash without copying 100 TB). */
  def recordOnly(name: String, fingerprint: String, df: DataFrame,
                 shaCol: Option[String] = None): Map[String, Long] = {
    if (resume && isComplete(name, fingerprint)) return Map.empty
    val aggs = Seq(count(lit(1)).as("rows")) ++
      shaCol.map(c => coalesce(expr(s"bit_xor(xxhash64(sha2($c, 256)))"), lit(0L)).as("sha_sum"))
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val counters = Map("rows" -> row.getLong(0)) ++
      shaCol.map(_ => "sha_sum" -> row.getLong(1)).toMap
    writeManifest(manifestPath(name),
      Map("stage" -> name, "fingerprint" -> fingerprint, "status" -> "complete",
        "format" -> "none"),
      counters, Seq.empty)
    counters
  }

  def counter(stage: String, key: String): Option[Long] = {
    val p = Paths.get(manifestPath(stage))
    if (!Files.exists(p)) return None
    val s = Files.readString(p)
    ("\"" + java.util.regex.Pattern.quote(key) + "\":(-?\\d+)").r
      .findFirstMatchIn(s).map(_.group(1).toLong)
  }

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
