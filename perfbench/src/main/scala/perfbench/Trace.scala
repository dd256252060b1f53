package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Spark-side recorder registered by the benchmark (the program is not
  * edited). Always counts executor CPU, tasks and jobs, which the untraced
  * end-to-end metrics need. With `detail` it also keeps every SQL execution
  * (its interval), job and task, from which [[Attribution]] assigns work to
  * layers. */
final class Recorder(@volatile var detail: Boolean) extends SparkListener {
  import Recorder._
  val cpuNs = new AtomicLong
  val tasks = new AtomicLong
  val jobs = new AtomicLong

  val execs = mutable.LinkedHashMap.empty[Long, Exec]
  val jobsById = mutable.LinkedHashMap.empty[Int, Job]
  val stageJob = mutable.HashMap.empty[Int, Int]
  val taskLog = mutable.ArrayBuffer.empty[Task]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m == null) return
    cpuNs.addAndGet(m.executorCpuTime)
    if (detail) synchronized {
      taskLog += Task(e.stageId, e.taskInfo.duration, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.recordsWritten)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    if (detail) synchronized {
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong)
      jobsById(e.jobId) = Job(e.jobId, exec, e.time, e.time)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (detail) synchronized { jobsById.get(e.jobId).foreach(_.end = e.time) }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (detail) e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = Exec(s.executionId, s.time, s.time)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execs.get(s.executionId).foreach(_.end = s.time)
    }
    case _ =>
  }

  /** Clears the detail buffers (the counters are read as deltas). */
  def reset(): Unit = synchronized {
    execs.clear(); jobsById.clear(); stageJob.clear(); taskLog.clear()
  }
}

object Recorder {
  final case class Exec(id: Long, start: Long, var end: Long)
  final case class Job(id: Int, exec: Option[Long], start: Long, var end: Long)
  final case class Task(stage: Int, durMs: Long, cpuNs: Long, gcMs: Long,
                        shuffleWrite: Long, shuffleRead: Long, spill: Long, recordsWritten: Long)
}

/** Assigns the Spark work of one timed call to layers, from outside the
  * program. The pipeline runs its stages one after another, and each stage
  * ends when the pipeline writes `<work>/<stage>/manifest.json` (after the
  * snapshot write and its counter passes); the benchmark marks the end of
  * each dedup operator's output the same way, with a `_done` file. Every
  * SQL execution, and every job outside one, belongs to the first marker
  * written after it starts, and so to that directory's layer (start, not
  * end: file times come from the kernel's coarse clock, a few ms behind
  * the JVM's, and a stage's last execution ends just before its marker).
  * Work before the ingest manifest (ingest and
  * weight profiling), work after the last marker, and directories that
  * name no layer stay unattributed. Wall time per layer is the union of
  * its intervals; the rest of the call's wall time is
  * `pipeline.unattributed_s`. */
object Attribution {
  /** Snapshot or output directory name → layer name. */
  def layerOf(dir: String): Option[String] = dir.stripSuffix("_l").stripSuffix("_r") match {
    case "projected" => Some("scoring.projected")
    case "attrs" => Some("scoring.attrs")
    case "blocks" => Some("blocking.blocks")
    case "pairs" => Some("blocking.pairs")
    // the two-table `matches` stage is the threshold filter over scored pairs
    case "scored" | "matches" => Some("scoring.scored")
    case "clusters" => Some("clustering.clusters")
    case "minhash" => Some("operators.dedup.minhash")
    case "simhash" => Some("operators.dedup.simhash")
    case "exact" => Some("operators.dedup.exact")
    case _ => None
  }

  final case class Layer(name: String, execs: Set[Long], jobs: Set[Int], wallS: Double)

  private def markerMs(dir: java.io.File): Option[Long] =
    Seq("manifest.json", "_done").map(new java.io.File(dir, _)).find(_.isFile)
      .map(f => java.nio.file.Files.getLastModifiedTime(f.toPath).toMillis)

  /** Layers of the work done in [t0, t1], and the seconds attributed. */
  def assign(rec: Recorder, workDir: String, t0: Long, t1: Long): (Seq[Layer], Double) = rec.synchronized {
    val marks = Option(new java.io.File(workDir).listFiles()).toSeq.flatten
      .flatMap(d => markerMs(d).map(_ -> d.getName))
      .filter { case (t, _) => t >= t0 && t <= t1 }.sortBy(_._1)
    def ownerAt(start: Long): Option[String] = marks.find(_._1 > start).flatMap(m => layerOf(m._2))
    val execs = rec.execs.values.filter(e => e.start >= t0 && e.end <= t1)
      .flatMap(e => ownerAt(e.start).map(l => (l, Left(e.id): Either[Long, Int], e.start, e.end)))
    val jobs = rec.jobsById.values.filter(j => j.exec.isEmpty && j.start >= t0 && j.end <= t1)
      .flatMap(j => ownerAt(j.start).map(l => (l, Right(j.id): Either[Long, Int], j.start, j.end)))
    val all = (execs ++ jobs).toSeq
    val layers = all.groupBy(_._1).map { case (l, xs) =>
      Layer(l, xs.flatMap(_._2.left.toOption).toSet, xs.flatMap(_._2.toOption).toSet,
        unionMs(xs.map(x => (x._3, x._4))) / 1000.0)
    }.toSeq.sortBy(_.name)
    (layers, unionMs(all.map(x => (x._3, x._4))) / 1000.0)
  }

  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Per-layer Spark metrics from the tasks of the layer's executions. */
  def taskMetrics(rec: Recorder, layer: Layer): Map[String, Double] = rec.synchronized {
    val ts = rec.taskLog.filter { t =>
      rec.stageJob.get(t.stage).flatMap(rec.jobsById.get)
        .exists(j => layer.jobs(j.id) || j.exec.exists(layer.execs))
    }
    val mb = 1024.0 * 1024.0
    val skew = ts.groupBy(_.stage).values.maxByOption(_.map(_.durMs).sum).map { st =>
      val d = st.map(_.durMs.toDouble).sorted
      val med = d(d.length / 2)
      if (med > 0) d.last / med else 1.0
    }.getOrElse(0.0)
    Map(
      "cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / mb,
      "shuffle_read_mb" -> ts.map(_.shuffleRead).sum / mb,
      "spill_mb" -> ts.map(_.spill).sum / mb,
      "task_skew" -> skew,
      "records_written" -> ts.map(_.recordsWritten).sum.toDouble)
  }
}

/** In-memory span log, written as JSON when the benchmark ends. */
final class Spans(runId: String) {
  import Spans.Span
  private val spans = mutable.ArrayBuffer.empty[Span]

  def add(name: String, start: Long, end: Long, parent: Option[Int]): Int = synchronized {
    val id = spans.length
    spans += Span(id, name, start, end, parent)
    id
  }

  def close(id: Int, end: Long): Unit = synchronized { spans(id) = spans(id).copy(end = end) }

  def around[T](name: String, parent: Option[Int] = None)(f: => T): T = {
    val id = add(name, System.currentTimeMillis(), -1L, parent)
    try f finally close(id, System.currentTimeMillis())
  }

  /** A span's duration minus the part of it its children cover. */
  def selfMs(id: Int): Long = synchronized {
    val s = spans(id)
    val kids = spans.filter(_.parent.contains(id)).map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
    (s.end - s.start) - Attribution.unionMs(kids.filter(k => k._2 > k._1).toSeq)
  }

  def toJson: String = synchronized {
    spans.map { s =>
      val parent = s.parent.map(_.toString).getOrElse("null")
      s"""{"id":${s.id},"name":"${s.name}","start_ms":${s.start},"end_ms":${s.end},""" +
        s""""parent":$parent,"self_ms":${selfMs(s.id)},"run_id":"$runId"}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Spans {
  final case class Span(id: Int, name: String, start: Long, end: Long, parent: Option[Int])
}
