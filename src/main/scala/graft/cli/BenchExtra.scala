package graft.cli

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Dev tool (guide §1.4): replicate the frozen Bench headline sequence with
  * per-stage forensics — wall, executor run/CPU/GC time, task count, shuffle
  * bytes per stage — so a query that is slow ONLY inside the bench session
  * (state poisoning, scheduling, GC) can be attributed. Bench.scala itself is
  * frozen for measurement; this main is the measurement annex.
  *
  * Usage: sbt "runMain graft.cli.BenchExtra [upTo] [sfDir]"
  *   upTo: run the headline list up to and including this query (default all)
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val upTo = args.headOption.getOrElse("")
    val sfDir = args.drop(1).headOption
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR")).getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var curQuery = "init"
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        val si = ev.stageInfo
        val m = si.taskMetrics
        val wall = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(-1L)
        stages.add(f"[stage] $curQuery%-22s id=${si.stageId}%-4d tasks=${si.numTasks}%-4d " +
          f"wall=${wall / 1e3}%7.2fs run=${m.executorRunTime / 1e3}%8.2fs " +
          f"cpu=${m.executorCpuTime / 1e9}%8.2fs gc=${m.jvmGCTime / 1e3}%6.2fs " +
          f"shR=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.1fMB " +
          f"shW=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.1fMB  ${si.name.take(60)}")
      }
    })

    val headline = graft.Bench.headline
    require(upTo.isEmpty || headline.contains(upTo), s"unknown query $upTo")
    val toRun = if (upTo.nonEmpty) headline.take(headline.indexOf(upTo) + 1) else headline
    toRun.foreach { name =>
      curQuery = name
      spark.sparkContext.setJobDescription(name)
      val fn = graft.SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(f"[extra] $name%-24s ${(System.nanoTime() - t0) / 1e9}%7.2f s ($n rows)")
    }
    if (upTo.isEmpty) {
      curQuery = "er_pipeline"
      spark.sparkContext.setJobDescription("er_pipeline")
      val (s, p, c) = graft.Bench.erPipeline(spark,
        sys.env.getOrElse("SPARK_GRAFT_ER_PAGES", "100000").toLong)
      println(f"[extra] er_pipeline            $s%7.2f s (pairs=$p clusters=$c)")
    }
    stages.forEach(s => println(s))
    spark.stop()
  }
}
