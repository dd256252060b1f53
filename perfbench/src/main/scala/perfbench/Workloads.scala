package perfbench

import java.util.Locale

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.blocking.Blocking
import graft.functions.Similarity
import graft.operators.Dedup
import graft.pipeline.Linkage
import graft.scoring.Scoring

/** What one timed call produced: its manifest counters and resumed stages. */
final case class Outcome(counters: Map[String, Long], resumed: Seq[String])

/** One benchmark workload. `run` is the timed call, made exactly as a user
  * makes it (reading the input Parquet, choosing weights the way
  * `LinkageMain` does); everything else runs outside the timed window. */
abstract class Workload(val name: String, val gen: Gen) {
  val pageCols: Seq[String] = Seq("url", "warc_ts", "html", "text", "lang")
  def inputCols: Seq[String] = pageCols

  /** Writes the input pages (and, separately, the planted truth). */
  def writeInputs(spark: SparkSession, dir: String): Unit = {
    val all = gen.toDF(spark, spark.sparkContext.defaultParallelism)
    all.select(inputCols.map(col): _*).write.mode("overwrite").parquet(s"$dir/input.parquet")
    all.select("url", "entity_id").write.mode("overwrite")
      .parquet(s"$dir/truth.parquet")
  }

  def input(spark: SparkSession, dir: String): DataFrame = spark.read.parquet(s"$dir/input.parquet")

  /** Set-up work beyond the inputs (the priming run of the resume workload). */
  def prime(spark: SparkSession, dir: String): Unit = ()
  /** Whether [[prime]] runs the timed call's code, warming the JIT. */
  def primes: Boolean = false
  /** Untimed calls before the timed ones. */
  def warmups: Int = 0

  /** Where the timed call writes: `work`, unless the call resumes an
    * existing work directory. */
  def outDir(dir: String, work: String): String = work

  /** The timed call for repetition `rep` (1-based) into `work`. */
  def run(spark: SparkSession, dir: String, work: String, rep: Int): Outcome

  /** Output checks of a completed call; returns the failures. */
  def check(spark: SparkSession, dir: String, work: String, rep: Int, out: Outcome): Seq[String]

  /** Traced-run ratios computed on the call's own snapshots. */
  def extras(spark: SparkSession, dir: String, work: String, out: Outcome): Map[String, Double] = Map.empty

  /** url → planted entity, for the linkage checks. */
  protected def entityOfUrl(spark: SparkSession, dir: String): Map[String, Long] =
    spark.read.parquet(s"$dir/truth.parquet").select("url", "entity_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Exact pairwise F1 of a clustering against the planted entities, over
    * all pairs of pages (not a sample of negatives). */
  protected def clusterF1(spark: SparkSession, dir: String, clusters: DataFrame): Double = {
    val entity = entityOfUrl(spark, dir)
    val rows = clusters.select("url", "cluster_id").collect().map(r => (r.getString(1), entity(r.getString(0))))
    def pairs(sizes: Iterable[Int]) = sizes.map(n => n.toLong * (n - 1) / 2).sum
    val predicted = pairs(rows.groupBy(_._1).values.map(_.length))
    val planted = pairs(rows.groupBy(_._2).values.map(_.length))
    val tp = pairs(rows.groupBy(identity).values.map(_.length))
    if (predicted + planted == 0) 1.0 else 2.0 * tp / (predicted + planted)
  }

  protected def f1Check(f1: Double): Seq[String] =
    if (f1 >= 0.99) Nil else Seq(f"F1 $f1%.5f below 0.99")
}

object Workloads {
  val Tau = 0.8
  /** Pages of the dedup templated slice (5% of 6,000): more than the salted
    * grid's cap of 256 rows a block, so its hot buckets are salted, also on
    * the 600-page warm-up input, where it is half the pages. */
  val TemplatedPages = 300

  def apply(name: String, seed: Long, pages: Option[Int]): Workload = name match {
    case "er_self_staged" => new SelfStaged(new Gen(seed, pages.getOrElse(6000)))
    case "er_rethreshold_resume" => new Rethreshold(new Gen(seed, pages.getOrElse(6000)))
    case "er_two_table_staged" => new TwoTable(new Gen(seed, pages.getOrElse(6000)))
    case "dedup_neardup" =>
      val p = pages.getOrElse(6000)
      new NearDup(new Gen(seed, p, templated = math.min(TemplatedPages, p / 2)))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Candidate pairs the salted grid emits before its global pair dedup,
    * over the call's own blocks snapshot, divided by the distinct pairs. */
  def selfDupFactor(spark: SparkSession, work: String, out: Outcome): Double = {
    val c = Blocking.Config()
    val raw = Blocking.saltedSelfJoinPairs(spark.read.parquet(s"$work/blocks/data.parquet"),
      c.cap, c.maxBlock, persistEntries = false).count()
    raw.toDouble / out.counters("pairs.rows")
  }

  def clusterCount(clusters: DataFrame): Long = clusters.select("cluster_id").distinct().count()

  /** Self-linkage extras shared by the fresh and the resumed run. */
  def linkageExtras(spark: SparkSession, work: String, out: Outcome,
                    threshold: Double): Map[String, Double] = {
    val cands = out.counters("pairs.rows").toDouble
    val edges = spark.read.parquet(s"$work/scored/data.parquet")
      .where(col("score") >= threshold).count()
    Map(
      "blocking.pairs.dup_factor" -> selfDupFactor(spark, work, out),
      "scoring.scored.phase2_survival" -> out.counters("scored.rows") / cands,
      "scoring.scored.match_yield" -> edges / cands,
      "clustering.clusters.iterations" -> out.counters.getOrElse("clusters.cc_iterations", 0L).toDouble,
      "clustering.clusters.merges" -> out.counters.getOrElse("clusters.merges_applied", 0L).toDouble)
  }
}

/** `Linkage.run` into a fresh work directory: every layer runs. Its ~70
  * small Spark jobs make a cold call mostly query planning, code generation
  * and JIT, whose time swung 19–31 s between runs on a 4-core host, so one
  * untimed call warms the JVM first. */
final class SelfStaged(g: Gen) extends Workload("er_self_staged", g) {
  override def warmups: Int = 1
  private var clusters: DataFrame = _
  private var weights: Scoring.Weights = _

  def run(spark: SparkSession, dir: String, work: String, rep: Int): Outcome = {
    val pages = input(spark, dir)
    weights = Scoring.Weights.profileFor(pages)
    val r = Linkage.run(spark, pages, Linkage.Config(workDir = work, weights = weights))
    clusters = r.clusters
    Outcome(r.counters, r.resumedStages)
  }

  def check(spark: SparkSession, dir: String, work: String, rep: Int, out: Outcome): Seq[String] = {
    val observed = Map("pairs.rows" -> out.counters("pairs.rows"),
      "clusters" -> Workloads.clusterCount(clusters))
    Checks.record(name, gen, observed)
    val f1 = if (rep == 1) f1Check(clusterF1(spark, dir, clusters)) else Nil
    f1 ++ Checks.expect(name, gen, rep, observed)
  }

  override def extras(spark: SparkSession, dir: String, work: String, out: Outcome): Map[String, Double] =
    Workloads.linkageExtras(spark, work, out, weights.threshold)
}

/** Setup runs `Linkage.run` once; each timed call resumes it with the other
  * of two thresholds, so scoring and clustering recompute every time while
  * projected, attrs, blocks and pairs are read back from their snapshots. */
final class Rethreshold(g: Gen) extends Workload("er_rethreshold_resume", g) {
  val thresholds: Seq[Double] = Seq(0.5, 0.7)
  private var clusters: DataFrame = _
  private var threshold = 0.0
  private def primed(dir: String) = s"$dir/primed"

  override def primes: Boolean = true
  override def prime(spark: SparkSession, dir: String): Unit = {
    val pages = input(spark, dir)
    val w = Scoring.Weights.profileFor(pages).copy(threshold = thresholds.head)
    Linkage.run(spark, pages, Linkage.Config(workDir = primed(dir), weights = w))
  }

  def run(spark: SparkSession, dir: String, work: String, rep: Int): Outcome = {
    val pages = input(spark, dir)
    threshold = thresholds(rep % 2)
    val fp = Linkage.fingerprintData(Linkage.Config(workDir = primed(dir)))
    val base = Linkage.mediaCoverageFromManifest(spark, primed(dir), fp)
      .map(Scoring.Weights.forMediaCoverage)
      .getOrElse(Scoring.Weights.profileFor(pages))
    val r = Linkage.run(spark, pages, Linkage.Config(workDir = primed(dir),
      weights = base.copy(threshold = threshold), resume = true))
    clusters = r.clusters
    Outcome(r.counters, r.resumedStages)
  }

  override def outDir(dir: String, work: String): String = primed(dir)

  def check(spark: SparkSession, dir: String, work: String, rep: Int, out: Outcome): Seq[String] = {
    val observed = Map("pairs.rows" -> out.counters("pairs.rows"),
      "clusters" -> Workloads.clusterCount(clusters))
    val key = s"$name@$threshold"
    Checks.record(key, gen, observed)
    val resumed = Seq("projected", "attrs", "blocks", "pairs")
    val resumeFail =
      if (out.resumed == resumed) Nil
      else Seq(s"resumed ${out.resumed.mkString(",")}, expected ${resumed.mkString(",")}")
    val f1 = if (rep <= 2) f1Check(clusterF1(spark, dir, clusters)) else Nil
    resumeFail ++ f1 ++ Checks.expect(key, gen, rep, observed)
  }

  override def extras(spark: SparkSession, dir: String, work: String, out: Outcome): Map[String, Double] =
    Workloads.linkageExtras(spark, primed(dir), out, threshold)
}

/** `Linkage.runTwoTableStaged`: canonical pages on the left, their
  * duplicates on the right (the `LinkageMain --right split` layout). */
final class TwoTable(g: Gen) extends Workload("er_two_table_staged", g) {
  // a staged pipeline like er_self_staged, warmed up for the same reason
  override def warmups: Int = 1
  private var matches: DataFrame = _

  private def sides(pages: DataFrame) =
    (pages.where(col("url").endsWith("/c0")), pages.where(!col("url").endsWith("/c0")))

  def run(spark: SparkSession, dir: String, work: String, rep: Int): Outcome = {
    val (left, right) = sides(input(spark, dir))
    val w = Scoring.Weights.profileFor(left, right)
    val r = Linkage.runTwoTableStaged(spark, left, right,
      Linkage.TwoTableConfig(workDir = work, weights = w))
    matches = r.matches
    Outcome(r.counters, r.resumedStages)
  }

  def check(spark: SparkSession, dir: String, work: String, rep: Int, out: Outcome): Seq[String] = {
    val observed = Map("pairs.rows" -> out.counters("pairs.rows"),
      "matches" -> out.counters("matches.rows"))
    Checks.record(name, gen, observed)
    val f1 =
      if (rep != 1) Nil
      else {
        // planted pairs: each canonical page with every copy of its entity
        val entity = entityOfUrl(spark, dir)
        val planted = entity.values.groupBy(identity).values.map(_.size - 1L).sum
        val predicted = matches.select("url1", "url2").collect().map(r => (r.getString(0), r.getString(1)))
        val tp = predicted.count { case (l, r) => entity(l) == entity(r) }
        f1Check(if (predicted.isEmpty && planted == 0) 1.0 else 2.0 * tp / (predicted.length + planted))
      }
    f1 ++ Checks.expect(name, gen, rep, observed)
  }

  override def extras(spark: SparkSession, dir: String, work: String, out: Outcome): Map[String, Double] = {
    val c = Blocking.Config()
    val cands = out.counters("pairs.rows").toDouble
    val raw = Blocking.saltedCrossJoinPairs(
      spark.read.parquet(s"$work/blocks_l/data.parquet"), spark.read.parquet(s"$work/blocks_r/data.parquet"),
      c.cap, c.maxBlock, persistLeft = false, persistRight = false).count()
    Map(
      "blocking.pairs.dup_factor" -> raw / cands,
      "scoring.scored.phase2_survival" -> out.counters("scored.rows") / cands,
      "scoring.scored.match_yield" -> out.counters("matches.rows") / cands)
  }
}

/** The training-data half: MinHash (τ = 0.8), SimHash and exact dedup over
  * the page text, each written to Parquet, then the keep-list (a page stays
  * unless it is the higher id of a near-duplicate pair or not the
  * representative of its exact group). */
final class NearDup(g: Gen) extends Workload("dedup_neardup", g) {
  override def warmups: Int = 1
  override def inputCols: Seq[String] = "doc_id" +: pageCols

  private def done(path: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path, "_done"), Array.emptyByteArray)

  def run(spark: SparkSession, dir: String, work: String, rep: Int): Outcome = {
    val pages = input(spark, dir)
    Dedup.minhashNearDup(pages, "doc_id", "text", Workloads.Tau).write.parquet(s"$work/minhash")
    done(s"$work/minhash")
    Dedup.simhashNearDup(pages, "doc_id", "text").write.parquet(s"$work/simhash")
    done(s"$work/simhash")
    Dedup.exact(pages, "doc_id", "text").write.parquet(s"$work/exact")
    done(s"$work/exact")
    val exact = spark.read.parquet(s"$work/exact")
    def dropped(op: String) = spark.read.parquet(s"$work/$op").select(col("id2").as("doc_id"))
    pages.select(col("doc_id"), sha2(col("text"), 256).as("content_key"))
      .join(exact, "content_key").where(col("doc_id") === col("rep_id")).select("doc_id")
      .join(dropped("minhash"), Seq("doc_id"), "left_anti")
      .join(dropped("simhash"), Seq("doc_id"), "left_anti")
      .write.parquet(s"$work/keep")
    Outcome(Map.empty, Nil)
  }

  private lazy val texts: Array[String] = Array.tabulate(gen.pages)(d => gen.page(d).text)
  private lazy val tokenSets: Array[Set[String]] =
    texts.map(t => t.toLowerCase(Locale.ROOT).split(" ", -1).toSet)
  private lazy val simhashes: Array[Long] =
    texts.map(t => Similarity.simHash64(UTF8String.fromString(t.toLowerCase(Locale.ROOT)), 0L))

  private def jaccard(a: Int, b: Int): Double = {
    val (x, y) = (tokenSets(a), tokenSets(b))
    val inter = x.count(y)
    inter.toDouble / (x.size + y.size - inter)
  }
  private def hamming(a: Int, b: Int): Int = java.lang.Long.bitCount(simhashes(a) ^ simhashes(b))

  /** Planted near-duplicate pairs: within each cluster and within the
    * templated slice. */
  private def planted: Iterator[(Int, Int)] =
    (gen.clusters ++ Iterator(gen.templatedIds)).flatMap { r =>
      for (a <- r.iterator; b <- (a + 1 until r.end).iterator) yield (a, b)
    }

  private def counts(spark: SparkSession, work: String): Map[String, Long] =
    Seq("minhash", "simhash", "exact", "keep").map(op => op -> spark.read.parquet(s"$work/$op").count()).toMap

  /** The first call is verified pair by pair; later calls must reproduce
    * its counts. */
  def check(spark: SparkSession, dir: String, work: String, rep: Int, out: Outcome): Seq[String] = {
    val observed = counts(spark, work)
    Checks.record(name, gen, observed)
    (if (rep == 1) verify(spark, work, observed) else Nil) ++ Checks.expect(name, gen, rep, observed)
  }

  private def verify(spark: SparkSession, work: String, observed: Map[String, Long]): Seq[String] = {
    val fails = mutable.ArrayBuffer.empty[String]
    val mh = spark.read.parquet(s"$work/minhash").collect()
      .map(r => ((r.getLong(0).toInt, r.getLong(1).toInt), r.getDouble(2)))
    val mhSet = mh.map(_._1).toSet
    val badJ = mh.count { case ((a, b), j) => math.abs(jaccard(a, b) - j) > 1e-9 || j < Workloads.Tau || a >= b }
    if (badJ > 0) fails += s"$badJ minhash pairs fail the Jaccard recomputation"
    val sh = spark.read.parquet(s"$work/simhash").collect()
      .map(r => ((r.getLong(0).toInt, r.getLong(1).toInt), r.getInt(2)))
    val shSet = sh.map(_._1).toSet
    val badH = sh.count { case ((a, b), h) => hamming(a, b) != h || h > 3 || a >= b }
    if (badH > 0) fails += s"$badH simhash pairs fail the Hamming recomputation"
    var missJ = 0; var missH = 0
    planted.foreach { p =>
      if (jaccard(p._1, p._2) >= Workloads.Tau && !mhSet(p)) missJ += 1
      if (hamming(p._1, p._2) <= 3 && !shSet(p)) missH += 1
    }
    if (missJ > 0) fails += s"$missJ planted pairs with J >= ${Workloads.Tau} missing"
    if (missH > 0) fails += s"$missH planted pairs with Hamming <= 3 missing"
    val groups = texts.indices.groupBy(texts(_))
    if (observed("exact") != groups.size) fails += s"exact groups ${observed("exact")} != ${groups.size}"
    val reps = groups.values.map(_.min).toSet
    val droppedIds = mh.map(_._1._2).toSet ++ sh.map(_._1._2)
    val keep = reps.count(d => !droppedIds(d))
    if (observed("keep") != keep) fails += s"keep-list ${observed("keep")} != $keep"
    fails.toSeq
  }

  override def extras(spark: SparkSession, dir: String, work: String, out: Outcome): Map[String, Double] = {
    val cands = Dedup.minhashCandidates(input(spark, dir), "doc_id", "text").count()
    Map("operators.dedup.minhash.verify_yield" -> counts(spark, work)("minhash").toDouble / cands)
  }
}

/** Counts a call must reproduce: equal across the repetitions of a run, and
  * equal to the values recorded in `expected.tsv` for the seed and size. */
object Checks {
  /** (workload, seed, pages, key) → value, loaded from `expected.tsv`. */
  @volatile var recorded: Map[(String, Long, Int, String), Long] = Map.empty
  /** Values seen in this run, written out by `--record`. */
  val seen = mutable.LinkedHashMap.empty[(String, Long, Int, String), Long]
  private val firstRep = mutable.HashMap.empty[(String, Int, String), Long]

  def load(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isFile) recorded = scala.io.Source.fromFile(f).getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split('\t'))
      .map(a => (a(0), a(1).toLong, a(2).toInt, a(3)) -> a(4).toLong).toMap
  }

  def record(key: String, g: Gen, observed: Map[String, Long]): Unit =
    observed.foreach { case (k, v) => seen((key, g.seed, g.pages, k)) = v }

  def expect(key: String, g: Gen, rep: Int, observed: Map[String, Long]): Seq[String] =
    observed.toSeq.flatMap { case (k, v) =>
      val consistent = firstRep.getOrElseUpdate((key, g.pages, k), v) == v
      val rec = recorded.get((key, g.seed, g.pages, k))
      (if (consistent) Nil else Seq(s"$k=$v differs from repetition 1 (${firstRep((key, g.pages, k))})")) ++
        rec.filter(_ != v).map(r => s"$k=$v, recorded $r for seed ${g.seed} at ${g.pages} pages")
    }
}
