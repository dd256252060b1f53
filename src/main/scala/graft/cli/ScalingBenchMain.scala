package graft.cli

import org.apache.spark.sql.SparkSession

import graft.core.Sessions

/** Two-cluster-size scaling evidence (BASELINE.md north rule): the same ER
  * job, same input, at local[N] vs local[4N] cores — the N-vs-4N-cores proxy
  * the sandbox supports cleanly (one JVM: shared JIT, no executor RPC, no
  * cross-process scheduler noise). Pick baseCores so 4N stays at or below
  * the box's PHYSICAL core count (default 2→8 on this 16-physical-core VM;
  * 8→32 crosses the SMT cliff and measures the substrate, not the job).
  * Reports pairs-scored/sec at both levels and (T_N / T_4N) / 4. Run:
  * sbt "runMain graft.cli.ScalingBenchMain [nPages] [reps] [baseCores]". */
object ScalingBenchMain {

  /** Fixed-quantum multi-process substrate control (`graft.Bench`'s
    * `cpu_ctl_sec` protocol) — run adjacent to each leg at the leg's core
    * count so the Spark ratio can be read against what the box did THAT
    * minute. */
  private def cpuControl(procs: Int): Double = {
    val work = "i=0\nwhile i<120000000: i+=1"
    val t0 = System.nanoTime()
    val ps = (1 to procs).map { _ =>
      new ProcessBuilder("python3", "-c", work).inheritIO().start()
    }
    ps.foreach(_.waitFor())
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val nPages = args.headOption.map(_.toLong).getOrElse(100000L)
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(2)
    val base = args.drop(2).headOption.map(_.toInt).getOrElse(2)
    val warmupFull = args.drop(3).headOption.map(_.toInt).getOrElse(1)
    val results = Seq(base, base * 4).map { cores =>
      val ctl = cpuControl(cores)
      println(f"[scaling] cores=$cores cpu-control($cores procs)=$ctl%.2f s")
      val spark = Sessions.local(cores, s"graft-scaling-$cores")
      // small warm-up (JIT/codegen caches), then discarded full-size reps,
      // then min of `reps` measured runs (noise-robust on a shared VM)
      graft.Bench.erPipeline(spark, 100000L)
      (1 to warmupFull).foreach { i =>
        val r = graft.Bench.erPipeline(spark, nPages)
        println(f"[scaling] cores=$cores warmup=$i ${r._1}%.2f s (discarded)")
      }
      val runs = (1 to reps).map { i =>
        val r = graft.Bench.erPipeline(spark, nPages)
        println(f"[scaling] cores=$cores rep=$i ${r._1}%.2f s")
        r
      }
      val (secs, pairs, clusters) = runs.minBy(_._1)
      spark.stop()
      // SparkContext must be fully cleared before a new master is allowed
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      (cores, secs, pairs, clusters, runs.map(_._1), ctl)
    }
    val Seq((_, tN, pN, _, repsN, ctlN), (_, t4N, p4N, c4N, reps4N, ctl4N)) = results
    val eff = (tN / t4N) / 4.0
    val ceiling = ctlN / ctl4N
    def arr(xs: Seq[Double]) = xs.map(x => f"$x%.2f").mkString("[", ",", "]")
    println(f"""{"mode":"threads","cores_n":$base,"cores_4n":${base * 4},""" +
      f""""n_pages":$nPages,"pairs_scored":$pN,"clusters":$c4N,""" +
      f""""t_n_sec":$tN%.2f,"t_4n_sec":$t4N%.2f,""" +
      f""""reps_n":${arr(repsN)},"reps_4n":${arr(reps4N)},""" +
      f""""pairs_per_sec_n":${(pN / tN).round},"pairs_per_sec_4n":${(p4N / t4N).round},""" +
      f""""cpu_ctl_n_sec":$ctlN%.2f,"cpu_ctl_4n_sec":$ctl4N%.2f,"substrate_ceiling":$ceiling%.3f,""" +
      f""""scaling_efficiency":$eff%.3f,"normalized_efficiency":${eff / ceiling}%.3f}""")
  }
}
