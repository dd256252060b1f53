package graft.cli

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerStageSubmitted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.{Bench, SparkEntry}
import graft.core.Sessions

/** Profile declared queries: time each named [[SparkEntry.queries]] entry
  * under one sink, in one session.
  *
  *   Profile [--sink count|noop|explain|parquet] [--out DIR] [--reps N]
  *           [--stages] [--sf DIR] [query... | all | er_pipeline]
  *
  * `count` (default) counts rows; `noop` computes every row and writes
  * nothing; `explain` writes the formatted plan to `DIR/<query>.txt`;
  * `parquet` writes the result to `DIR/<query>`. `--reps N` prints every rep
  * and the min-of-N, separating JIT/codegen warm-up from plan cost.
  * `--stages` prints one line per Spark stage: query, tasks, wall, executor
  * run/CPU/GC, input rows, shuffle bytes and records, spill. Queries default
  * to `Bench.headline`; `all` is every declared query; `er_pipeline` runs
  * `Bench.erPipeline` on `SPARK_GRAFT_ER_PAGES` (default 100000) pages.
  * `--sf` defaults to `SPARK_GRAFT_SF_DIR`; cores to `SPARK_GRAFT_CPUS`
  * (default 32).
  */
object Profile {
  private val ErPipeline = "er_pipeline"

  /** One profiling run: the command line's flags, or a test's. */
  final case class Opts(sfDir: String, queries: Seq[String] = Bench.headline,
                        sink: String = "count", out: Option[String] = None,
                        reps: Int = 1, stages: Boolean = false, erPages: Long = 100000L)

  private[cli] def parseArgs(args: Seq[String], env: Map[String, String] = sys.env): Opts = {
    val (o, names) = LinkageMain.parse(args,
      flags = Set("stages"),
      options = Set("sink", "out", "reps", "sf"),
      choices = Map("sink" -> Set("count", "noop", "explain", "parquet")),
      positional = true)
    val sfDir = o.get("sf").orElse(env.get("SPARK_GRAFT_SF_DIR")).getOrElse(
      throw new IllegalArgumentException("--sf DIR or SPARK_GRAFT_SF_DIR is required"))
    val all = SparkEntry.queries.keys.toSeq.sorted
    Opts(sfDir,
      queries = if (names.isEmpty) Bench.headline
                else names.flatMap(n => if (n == "all") all else Seq(n)).distinct,
      sink = o.getOrElse("sink", "count"),
      out = o.get("out"),
      reps = o.get("reps").fold(1)(_.toInt),
      stages = o.contains("stages"),
      erPages = env.get("SPARK_GRAFT_ER_PAGES").fold(100000L)(_.toLong))
  }

  /** Runs `opts` on `spark` and hands each report line to `emit`. Every
    * argument is checked before the first query runs. The session is
    * neither created nor stopped here, and the `--stages` listener is
    * removed before this returns. */
  def run(spark: SparkSession, opts: Opts, emit: String => Unit = println): Unit = {
    val unknown = opts.queries.filterNot(q => q == ErPipeline || SparkEntry.queries.contains(q))
    if (unknown.nonEmpty) throw new IllegalArgumentException(s"unknown query ${unknown.mkString(", ")}")
    val writes = opts.sink == "explain" || opts.sink == "parquet"
    require(!writes || opts.out.isDefined, s"--sink ${opts.sink} needs --out DIR")
    require(!writes || !opts.queries.contains(ErPipeline),
      s"$ErPipeline has no single plan or table to write under --sink ${opts.sink}")
    require(opts.reps >= 1, s"--reps must be at least 1, got ${opts.reps}")

    val sc = spark.sparkContext
    val table = if (opts.stages) Some(new StageTable) else None
    table.foreach(sc.addSparkListener)
    try {
      opts.queries.foreach { name =>
        sc.setJobDescription(name)
        val times = (1 to opts.reps).map { rep =>
          val t0 = System.nanoTime()
          val result = once(spark, opts, name)
          val secs = (System.nanoTime() - t0) / 1e9
          emit(f"[profile] $name%-26s rep $rep: $secs%8.2f s  $result")
          secs
        }
        emit(f"[profile] $name%-26s min-of-${opts.reps}: ${times.min}%8.2f s")
      }
      table.foreach(_.drain(sc).foreach(emit))
    } finally {
      sc.setJobDescription(null)
      table.foreach(sc.removeSparkListener)
    }
  }

  /** One rep of one query under the sink; returns what it produced. */
  private def once(spark: SparkSession, opts: Opts, name: String): String =
    if (name == ErPipeline) {
      val (_, pairs, clusters) = Bench.erPipeline(spark, opts.erPages)
      s"(pairs=$pairs clusters=$clusters)"
    } else {
      val df = SparkEntry.queries(name)(spark, opts.sfDir)
      opts.sink match {
        case "count" => s"(${df.count()} rows)"
        case "noop" =>
          df.write.format("noop").mode("overwrite").save()
          ""
        case "explain" =>
          val path = Paths.get(opts.out.get, s"$name.txt")
          Files.createDirectories(path.getParent)
          Files.writeString(path, df.queryExecution.explainString(FormattedMode))
          s"($path)"
        case "parquet" =>
          val path = s"${opts.out.get}/$name"
          df.write.mode("overwrite").parquet(path)
          s"($path)"
      }
    }

  private val DrainMarker = "graft-profile-drain"

  /** The `--stages` listener: one line per completed stage, labelled with
    * the job description (the query name) its job ran under. */
  private final class StageTable extends SparkListener {
    private val labels = new ConcurrentHashMap[Int, String]()
    private val lines = new ConcurrentLinkedQueue[String]()
    private val drained = new CountDownLatch(1)

    override def onStageSubmitted(ev: SparkListenerStageSubmitted): Unit =
      labels.put(ev.stageInfo.stageId, Option(ev.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("-"))

    override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
      val si = ev.stageInfo
      if (si.rddInfos.exists(_.name == DrainMarker)) drained.countDown()
      else lines.add(line(labels.getOrDefault(si.stageId, "-"), si))
    }

    /** Every stage line so far. Listener events arrive asynchronously but in
      * order, so once a marker job's stage is delivered, so is every stage
      * that completed before it. */
    def drain(sc: SparkContext): Seq[String] = {
      sc.parallelize(Seq(0), 1).setName(DrainMarker).count()
      drained.await(60, TimeUnit.SECONDS)
      lines.asScala.toSeq
    }

    private def line(label: String, si: StageInfo): String = {
      val m = si.taskMetrics
      val wall = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(-1L)
      f"[stage] $label%-26s id=${si.stageId}%-4d tasks=${si.numTasks}%-4d " +
        f"wall=${wall / 1e3}%7.2fs run=${m.executorRunTime / 1e3}%8.2fs " +
        f"cpu=${m.executorCpuTime / 1e9}%8.2fs gc=${m.jvmGCTime / 1e3}%6.2fs " +
        f"in=${m.inputMetrics.recordsRead}%,d " +
        f"shR=${m.shuffleReadMetrics.totalBytesRead / 1e6}%.1fMB/${m.shuffleReadMetrics.recordsRead}%,d " +
        f"shW=${m.shuffleWriteMetrics.bytesWritten / 1e6}%.1fMB/${m.shuffleWriteMetrics.recordsWritten}%,d " +
        f"spill=${(m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6}%.1fMB  ${si.name.take(60)}"
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args.toSeq)
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-profile")
    try run(spark, opts) finally spark.stop()
  }
}
