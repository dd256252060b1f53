package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark harness JVM, launched by `run.py`:
  *
  *   perfbench.Main --workload W --seed S --seconds N --trace 0|1
  *                  --root DIR --cores C --launched-at-ms T [--pages P]
  *                  [--expected FILE] [--record FILE]
  *
  * Set-up (session start, input generation written to Parquet three times,
  * the priming run where the workload has one) is timed as `setup_s`. Then
  * the call runs into fresh work directories: first the workload's warm-up
  * calls, if any, then at least twice more and again while another call of
  * the last one's length still fits in the `--seconds` window; the
  * end-to-end metrics are the medians of the calls after the warm-ups.
  * Output checks run after every call, outside its timed window. The traced
  * run (`--trace 1`) makes the warm-up calls and one more, then untraced,
  * traced and untraced ones; the traced one gives the per-layer metrics, it minus the
  * median untraced one the tracing overhead. It ends with the
  * kernel loop and writes the spans. Prints one `PERFBENCH_RESULT {json}`
  * line. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        root: String, cores: Int, launchedAtMs: Long, pages: Option[Int],
                        expected: Option[String], record: Option[String])

  private def parse(args: Seq[String]): Opts = {
    val m = args.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1", m("root"),
      m("cores").toInt, m("launched-at-ms").toLong, m.get("pages").map(_.toInt),
      m.get("expected"), m.get("record"))
  }

  val PipelineLayers: Seq[String] = Seq("scoring.projected", "scoring.attrs", "blocking.blocks",
    "blocking.pairs", "scoring.scored", "clustering.clusters")
  val DedupLayers: Seq[String] =
    Seq("operators.dedup.minhash", "operators.dedup.simhash", "operators.dedup.exact")
  val StageMetrics: Seq[String] = Seq("wall_s", "cpu_s", "gc_s", "shuffle_write_mb",
    "shuffle_read_mb", "spill_mb", "task_skew", "rows_out")

  /** Traced-run calls after the first, traced or not: a traced call between
    * two untraced ones cancels the JIT speeding up from call to call out of
    * the overhead estimate. */
  val TracedOrder: Seq[Boolean] = Seq(false, true, false)

  /** Timed calls of an untraced run, at least. */
  val MinTimed = 2

  /** Input size of the warm-up calls: they warm the JIT and Spark's code
    * generation cache for the timed calls at a fraction of a cold call's
    * cost on the full input. */
  val WarmupPages = 600

  private def now() = System.currentTimeMillis()
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def codeCacheMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
    .map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)

  /** CPU time the hypervisor gave to others while this VM's CPUs wanted to
    * run (`steal` of /proc/stat, all CPUs; 0 where the kernel has no such
    * column). */
  private def stealS(): Double = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
    if (f.length > 8) f(8).toDouble / 100 else 0.0
  }

  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Before a timed call: collect the previous call's and checks' garbage,
    * and let the JIT finish compiling what they made hot (no compile time
    * added for 200 ms, at most 1.5 s), so neither lands inside the call. */
  private def settle(): Unit = {
    System.gc()
    val deadline = System.nanoTime() + 1500000000L
    var last = -1L
    while (jitMs() != last && System.nanoTime() < deadline) { last = jitMs(); Thread.sleep(200) }
  }

  private def files(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return Nil
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector finally s.close()
  }

  /** Bytes of the files under `dir` written at or after `sinceMs`. */
  private def bytesSince(dir: String, sinceMs: Long): Long =
    files(dir).filter(f => Files.getLastModifiedTime(f).toMillis >= sinceMs).map(Files.size).sum

  private def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toVector.reverse.foreach(Files.delete) finally s.close()
    }
  }

  /** One timed call's measurements. */
  final case class Rep(wallS: Double, cpuS: Double, tasks: Long, jobs: Long, jitS: Double,
                       stealS: Double, bytes: Long, failures: Seq[String],
                       layers: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val o = parse(args.toSeq)
    val spans = new Spans(s"${o.workload}-seed${o.seed}-${ProcessHandle.current().pid()}")
    val runSpan = spans.add("run", o.launchedAtMs, -1L, None)
    val setupSpan = spans.add("setup", o.launchedAtMs, -1L, Some(runSpan))
    val spark = graft.core.Sessions.local(o.cores, "perfbench")
    val sessionReady = now()
    spans.add("setup.session", o.launchedAtMs, sessionReady, Some(setupSpan))
    val rec = new Recorder(detail = o.trace)
    spark.sparkContext.addSparkListener(rec)
    o.expected.foreach(Checks.load)
    val wl = Workloads(o.workload, o.seed, o.pages)
    val dir = o.root

    val genS = (1 to 3).map { k =>
      spans.around(s"setup.inputs#$k", Some(setupSpan)) {
        val t0 = System.nanoTime(); wl.writeInputs(spark, dir); (System.nanoTime() - t0) / 1e9
      }
    }
    val primeJit0 = jitMs()
    val primeS = spans.around("setup.prime", Some(setupSpan)) {
      val t0 = System.nanoTime(); wl.prime(spark, dir); (System.nanoTime() - t0) / 1e9
    }
    val primeJitS = (jitMs() - primeJit0) / 1000.0
    val setupS = (sessionReady - o.launchedAtMs) / 1000.0 + median(genS) + primeS
    spans.close(setupSpan, now())
    val inputBytes = wl.input(spark, dir)
      .agg(sum(octet_length(col("text")) + octet_length(col("html")))).head().getLong(0)

    // the JVM's first call runs with a cold JIT (on the resume workload the
    // priming run was the first); a workload with warm-up calls makes them
    // on a smaller input of the same seed and leaves them out of its
    // metrics. Timed calls run at least MinTimed times and repeat while
    // another of the last one's length fits in the window. The traced run
    // leaves the warm-ups and the first call on the full input, whose JIT
    // speed-up is the steepest, out of the overhead estimate.
    val warmups = wl.warmups
    val warmWl = Workloads(o.workload, o.seed, Some(math.min(wl.gen.pages, WarmupPages)))
    val warmDir = s"$dir/warm"
    if (warmups > 0) spans.around("warmup.inputs", Some(runSpan)) { warmWl.writeInputs(spark, warmDir) }
    val lead = warmups + 1
    val reps = mutable.ArrayBuffer.empty[Rep]
    var windowStart = now()
    var extras = Map.empty[String, Double]
    def more: Boolean =
      if (o.trace) reps.length < lead + TracedOrder.length
      else reps.length < warmups + MinTimed ||
        now() - windowStart + reps.last.wallS * 1000 <= o.seconds * 1000
    while (more) {
      val r = reps.length + 1
      val traced = o.trace && r > lead && TracedOrder(r - lead - 1)
      if (r == warmups + 1) windowStart = now()
      settle()
      rec.reset()
      rec.detail = traced
      val work = s"$dir/run$r"
      // the call's workload, input directory and repetition on that input
      val (w, d, k) = if (r <= warmups) (warmWl, warmDir, r) else (wl, dir, r - warmups)
      val outDir = w.outDir(d, work)
      val (cpu0, tasks0, jobs0, jit0, steal0) = (rec.cpuNs.get, rec.tasks.get, rec.jobs.get, jitMs(), stealS())
      val t0 = now()
      val jobSpan = spans.add(s"job#$r", t0, -1L, Some(runSpan))
      val out = try Right(w.run(spark, d, work, k)) catch { case e: Exception => Left(e) }
      val t1 = now()
      PerfbenchBridge.drainListeners(spark.sparkContext)
      spans.close(jobSpan, t1)
      val base = Rep((t1 - t0) / 1000.0, (rec.cpuNs.get - cpu0) / 1e9, rec.tasks.get - tasks0,
        rec.jobs.get - jobs0, (jitMs() - jit0) / 1000.0, stealS() - steal0, bytesSince(outDir, t0), Nil,
        Map.empty)
      val layers = if (!traced || out.isLeft) Map.empty[String, Double] else {
        val (ls, attributedS) = Attribution.assign(rec, outDir, t0, t1)
        ls.foreach { l =>
          val es = l.execs.toSeq.sorted.map(rec.execs)
          val id = spans.add(l.name, es.map(_.start).minOption.getOrElse(t0),
            es.map(_.end).maxOption.getOrElse(t0), Some(jobSpan))
          es.foreach(e => spans.add(s"sql#${e.id}", e.start, e.end, Some(id)))
        }
        layerMetrics(rec, ls, out.toOption.get, outDir, t0) ++
          Map("pipeline.unattributed_s" -> (base.wallS - attributedS),
            "spark.jobs" -> base.jobs.toDouble, "spark.tasks" -> base.tasks.toDouble)
      }
      val failures = out match {
        case Left(e) => Seq(s"call failed: $e")
        case Right(res) =>
          spans.around(s"checks#$r", Some(runSpan)) {
            try {
              if (o.trace && r == lead + TracedOrder.length) extras = w.extras(spark, d, outDir, res)
              w.check(spark, d, outDir, k, res)
            } catch { case e: Exception => Seq(s"check failed: $e") }
          }
      }
      failures.foreach(f => System.err.println(s"perfbench: ${o.workload} seed ${o.seed} call $r: $f"))
      reps += base.copy(failures = failures, layers = layers)
      if (outDir == work) deleteTree(work)
    }

    val firstCall = if (wl.primes) (primeS, primeJitS) else (reps.head.wallS, reps.head.jitS)
    val timed = reps.drop(warmups)
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!o.trace) {
      val jobS = median(timed.map(_.wallS).toSeq)
      metrics("setup_s") = (setupS, "s")
      metrics("job_s") = (jobS, "s")
      metrics("pages_per_s") = (wl.gen.pages / jobS, "1/s")
      metrics("cpu_s") = (median(timed.map(_.cpuS).toSeq), "s")
      metrics("peak_rss_mb") = (vmHwmMb(), "MB")
      metrics("bytes_written_per_input_byte") = (median(timed.map(_.bytes.toDouble).toSeq) / inputBytes, "ratio")
      metrics("error_rate") = (reps.count(_.failures.nonEmpty).toDouble / reps.length, "ratio")
      metrics("host.steal_s") = (median(timed.map(_.stealS).toSeq), "s")
    } else {
      val tracedRep = reps.drop(lead).zip(TracedOrder).filter(_._2).map(_._1).last
      metrics ++= tracedRep.layers.map { case (k, v) => k -> (v, Units.of(k)) }
      metrics("host.steal_s") = (tracedRep.stealS, "s")
      Units.extraKeys.foreach(k => metrics(k) = (extras.getOrElse(k, 0.0), Units.of(k)))
      metrics("jvm.first_call_s") = (firstCall._1, "s")
      metrics("jvm.jit_compile_s") = (firstCall._2, "s")
      metrics("jvm.code_cache_mb") = (codeCacheMb(), "MB")
      val (tr, untr) = reps.drop(lead).zip(TracedOrder).partition(_._2)
      metrics("trace.overhead_s") = (median(tr.map(_._1.wallS).toSeq) - median(untr.map(_._1.wallS).toSeq), "s")
      spans.around("kernels", Some(runSpan)) {
        Kernels.run(wl.gen).foreach { case (k, v) => metrics(k) = (v, "ns") }
      }
      spans.close(runSpan, now())
      Files.writeString(Paths.get(dir, "spans.json"), spans.toJson)
    }
    o.record.foreach { f =>
      val lines = Checks.seen.map { case ((w, s, p, k), v) => s"$w\t$s\t$p\t$k\t$v\n" }.mkString
      Files.writeString(Paths.get(f), lines, java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
    val failed = reps.count(_.failures.nonEmpty)
    val m = metrics.map { case (k, (v, u)) => s""""$k":{"value":$v,"unit":"$u"}""" }.mkString(",")
    val walls = reps.map(_.wallS).mkString(",")
    val cpus = reps.map(_.cpuS).mkString(",")
    val steals = reps.map(_.stealS).mkString(",")
    println(s"""PERFBENCH_RESULT {"attempted":${reps.length},"failed":$failed,"metrics":{$m},""" +
      s""""info":{"pages":${wl.gen.pages},"cores":${o.cores},"reps_wall_s":[$walls],"reps_cpu_s":[$cpus],"reps_steal_s":[$steals],""" +
      s""""input_bytes":$inputBytes,"gen_s":[${genS.mkString(",")}],"prime_s":$primeS,""" +
      s""""first_call_s":${firstCall._1}}}""")
    spark.stop()
  }

  /** Per-stage metric set of every layer (zero where the layer did no work). */
  private def layerMetrics(rec: Recorder, ls: Seq[Attribution.Layer], out: Outcome,
                           outDir: String, t0: Long): Map[String, Double] = {
    val byName = ls.map(l => l.name -> l).toMap
    val dirs = Option(new java.io.File(outDir).listFiles()).toSeq.flatten.filter(_.isDirectory)
    def layerDirs(layer: String) = dirs.filter(d =>
      Attribution.layerOf(d.getName).contains(layer) || (d.getName == "cc" && layer == "clustering.clusters"))
    (PipelineLayers ++ DedupLayers).flatMap { layer =>
      val tm = byName.get(layer).map(Attribution.taskMetrics(rec, _)).getOrElse(Map.empty)
      val computed = layerDirs(layer).map(_.getName).filterNot(out.resumed.contains)
      val rows =
        if (DedupLayers.contains(layer)) tm.getOrElse("records_written", 0.0)
        else computed.flatMap(d => out.counters.get(s"$d.rows")).sum.toDouble
      val stage = StageMetrics.map { k =>
        s"$layer.$k" -> (k match {
          case "wall_s" => byName.get(layer).map(_.wallS).getOrElse(0.0)
          case "rows_out" => rows
          case other => tm.getOrElse(other, 0.0)
        })
      }
      val snap =
        if (!PipelineLayers.contains(layer)) Nil
        else Seq(s"$layer.snapshot_mb" ->
          layerDirs(layer).map(d => bytesSince(d.getPath, t0)).sum / (1024.0 * 1024.0))
      stage ++ snap
    }.toMap ++ Map(
      "blocking.blocks.blocks_dropped" ->
        out.counters.filter(_._1.matches("blocks(_l|_r)?\\.blocks_dropped")).values.sum.toDouble,
      "blocking.blocks.raw_pair_budget" ->
        out.counters.filter(_._1.matches("blocks(_l|_r)?\\.raw_pair_budget")).values.sum.toDouble,
      "lineage.stages_resumed" -> out.resumed.size.toDouble)
  }
}

/** Units of the per-layer metrics (the end-to-end units are set inline);
  * `extraKeys` are the traced-run extras, 0 on a workload without them. */
object Units {
  val extraKeys: Seq[String] = Seq("blocking.pairs.dup_factor", "scoring.scored.phase2_survival",
    "scoring.scored.match_yield", "clustering.clusters.iterations", "clustering.clusters.merges",
    "operators.dedup.minhash.verify_yield")

  def of(k: String): String = k.split('.').last match {
    case s if s.endsWith("_s") => "s"
    case s if s.endsWith("_mb") => "MB"
    case "rows_out" => "rows"
    case "iterations" | "merges" | "blocks_dropped" | "stages_resumed" | "jobs" | "tasks" => "count"
    case "raw_pair_budget" => "pairs"
    case _ => "ratio"
  }
}
