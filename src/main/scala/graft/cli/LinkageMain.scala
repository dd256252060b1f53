package graft.cli

import org.apache.spark.sql.SparkSession

import graft.core.Sessions
import graft.fixtures.Fixture
import graft.pipeline.Linkage
import graft.scoring.Scoring

/** spark-submit entry point:
  *
  *   LinkageMain --input <pages.parquet | fixture:N> --out <workDir>
  *               [--resume] [--parallelism N] [--threshold T]
  *               [--right <pages.parquet | split>] [--eval]
  *               [--embeddings <vocab+matrix.parquet>]
  *               [--composition average|idf]
  *
  * An argument it does not know fails the run before any work starts.
  *
  * `--embeddings` points the scorer at a REAL frozen-embedding artifact — a
  * Parquet table (token, id, vector), the engine's form of the reference's
  * pickled vocab + fastText matrix (create_map_matrix.py:10-39). Omitted →
  * the deterministic fixture artifact (tests/benchmarks only).
  *
  * `--right` switches to TWO-TABLE linkage (the reference's set1-vs-set2
  * deployment): `--right <path>` links --input against that table;
  * `--right split` divides a fixture input into canonical pages (left) vs
  * duplicate copies (right) — the planted cross-set benchmark. Output is
  * matched pairs, not clusters.
  *
  * `--parallelism` drives the local[N] proxy for the N-vs-4N executor scaling
  * evidence (BASELINE.md); on a real cluster the same jar runs unchanged under
  * spark-submit --num-executors.
  */
object LinkageMain {
  private val Compositions = Map("average" -> Scoring.Average, "idf" -> Scoring.Idf)

  /** This main's command line: `--resume` and `--eval` switches, `--key value` options. */
  private[cli] def parseArgs(args: Seq[String]): Map[String, String] =
    parse(args,
      flags = Set("resume", "eval"),
      options = Set("input", "out", "parallelism", "threshold", "right", "embeddings", "composition"),
      choices = Map("composition" -> Compositions.keySet))._1

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args.toSeq)
    val parallelism = opts.getOrElse("parallelism", "32").toInt
    val out = opts.getOrElse("out", "/tmp/graft-linkage")
    val input = opts.getOrElse("input", "fixture:10000")
    val resume = opts.contains("resume")

    val spark: SparkSession = Sessions.auto(parallelism, "graft-linkage")
    val pages =
      if (input.startsWith("fixture:")) Fixture.pages(spark, input.stripPrefix("fixture:").toLong).toDF()
      else spark.read.parquet(input)

    val composition = opts.get("composition").map(Compositions).getOrElse(Scoring.Average)
    // verify = true: externally supplied artifacts re-hash once at load so a
    // corrupted/doctored data file with a stale metadata fingerprint cannot
    // silently resume under the old fingerprint (round-6 ADVICE) — the
    // pre-fingerprint-cache cost, paid only here
    val embeddings = opts.get("embeddings")
      .map(p => graft.scoring.EmbeddingModel.fromParquet(spark, p, verify = true))
      .getOrElse(graft.scoring.EmbeddingModel.fixture)
    val dataCfg = Linkage.Config(workDir = out, composition = composition, embeddings = embeddings)

    // two-table mode profiles its weights from both tables
    opts.get("right").foreach { rightSpec =>
      runTwoTable(spark, opts, input, rightSpec, pages, dataCfg.copy(workDir = out + "/two_table"))
      spark.stop()
      return
    }

    // auto-profile: the calibrated default bias assumes embedded media; a
    // low-coverage corpus hands the inactive image family's logit headroom
    // back to the bias (Scoring.Weights.forMediaCoverage). Coverage source,
    // in preference order: EXACT projected-manifest counters on a resume
    // (zero scans), else the bounded per-partition content sample.
    val fpData = Linkage.fingerprintData(dataCfg)
    val base = (if (resume) Linkage.mediaCoverageFromManifest(spark, out, fpData) else None)
      .map(Scoring.Weights.forMediaCoverage)
      .getOrElse(Scoring.Weights.profileFor(pages))
    val weights = opts.get("threshold")
      .map(t => base.copy(threshold = t.toDouble))
      .getOrElse(base)
    val cfg = dataCfg.copy(resume = resume, weights = weights)

    val t0 = System.nanoTime()
    val result = Linkage.run(spark, pages, cfg)
    val nClusters = result.clusters.select("cluster_id").distinct().count()
    val secs = (System.nanoTime() - t0) / 1e9
    val pairsScored = result.counters.getOrElse("scored.pairs_scored", 0L)
    val evalJson =
      if (input.startsWith("fixture:") && opts.contains("eval")) {
        import org.apache.spark.sql.functions._
        val pt = Fixture.pagesWithTruth(spark, input.stripPrefix("fixture:").toLong)
        val labeled = Fixture.labeledPairs(spark, pt)
        val m = graft.eval.Eval.pairwise(result.clusters, labeled)
        // AUROC = the reference's headline metric (sklearn roc_auc_score on
        // held-out pairs, train_deeper.py:357-361). The reference scores
        // EVERY labeled pair directly — so does this: the labeled pairs are
        // scored against the attrs snapshot (no blocking in the loop);
        // phase-1-rejected pairs rank at 0, provably below threshold
        import spark.implicits._
        val attrs = new graft.lineage.SnapshotStore(spark, out, resume = true)
          .snapshot("attrs").as[graft.core.ScoreAttrs]
        val withIds = labeled.toDF()
          .withColumn("id1", graft.blocking.Blocking.pageIdOf(col("url1")))
          .withColumn("id2", graft.blocking.Blocking.pageIdOf(col("url2")))
        val scoredPairs = Scoring
          .score(spark, withIds.select("id1", "id2"), attrs, weights)
          .toDF().select(col("id1"), col("id2"), col("score"))
        val auroc = graft.eval.Eval.auroc(withIds
          .join(scoredPairs, Seq("id1", "id2"), "left")
          .select(coalesce(col("score"), lit(0.0)).as("score"), col("label")))
        f""","precision":${m.precision}%.6f,"recall":${m.recall}%.6f,"f1":${m.f1}%.6f""" +
          f""","auroc":$auroc%.6f""" +
          s""","tp":${m.tp},"fp":${m.fp},"fn":${m.fn},"tn":${m.tn}"""
      } else ""
    println(s"""{"pages":${result.counters.getOrElse("ingest.rows", -1L)},""" +
      s""""clusters":$nClusters,"pairs_scored":$pairsScored,""" +
      s""""resumed_stages":"${result.resumedStages.mkString(",")}",""" +
      s""""seconds":$secs,"pairs_per_sec":${if (secs > 0) pairsScored / secs else 0}""" +
      evalJson + "}")
    spark.stop()
  }

  /** Two-table linkage of `pages` against `rightSpec` under `base` (work dir,
    * composition, embeddings). */
  private def runTwoTable(spark: SparkSession, opts: Map[String, String],
                          input: String, rightSpec: String,
                          pages: org.apache.spark.sql.DataFrame, base: Linkage.Config): Unit = {
    import org.apache.spark.sql.functions._
    val (left, right) = rightSpec match {
      case "split" => // fixture benchmark: canonical copies vs duplicates
        (pages.where(col("url").endsWith("/c0")),
          pages.where(!col("url").endsWith("/c0")))
      case path => (pages, spark.read.parquet(path))
    }
    // re-profile from BOTH sides: image features fire only when both tables
    // carry media, so a media-less --right table must hand the image
    // family's bias headroom back even if the left table has html. On a
    // resume, each side's EXACT projected-manifest coverage is preferred
    // over the sampled measurement (min across sides — the bothImg gate).
    val ttWorkDir = base.workDir
    val fpData = Linkage.fingerprintDataTwoTable(base)
    val manifestCoverage =
      if (opts.contains("resume"))
        for {
          l <- Linkage.mediaCoverageFromManifest(spark, ttWorkDir, fpData, "projected_l")
          r <- Linkage.mediaCoverageFromManifest(spark, ttWorkDir, fpData, "projected_r")
        } yield math.min(l, r)
      else None
    val profiled = manifestCoverage
      .map(Scoring.Weights.forMediaCoverage)
      .getOrElse(Scoring.Weights.profileFor(left, right))
    val weights = opts.get("threshold")
      .map(t => profiled.copy(threshold = t.toDouble)).getOrElse(profiled)
    val t0 = System.nanoTime()
    // snapshot-staged (resumable) two-table pipeline — same manifest
    // protocol as self-linkage; --resume skips completed stages
    val result = Linkage.runTwoTableStaged(spark, left, right,
      base.copy(resume = opts.contains("resume"), weights = weights))
    val matches = result.matches
    val nMatches = result.counters.getOrElse("matches.rows", matches.count())
    val secs = (System.nanoTime() - t0) / 1e9
    val pairsScored = result.counters.getOrElse("scored.pairs_scored", 0L)
    val evalJson =
      if (input.startsWith("fixture:") && rightSpec == "split" && opts.contains("eval")) {
        val pt = Fixture.pagesWithTruth(spark, input.stripPrefix("fixture:").toLong)
        // one truth join, cached: both the url-pair form (P/R/F1, AUROC) and
        // the id-pair form (candidate-positive count below) derive from it
        val truthRaw = pt.where(col("url").endsWith("/c0")).select(col("url").as("ul"), col("entity_id")).as("a")
          .join(pt.where(!col("url").endsWith("/c0")).select(col("url").as("ur"), col("entity_id")).as("b"), "entity_id")
          .select(col("ul"), col("ur")).cache()
        val truth = truthRaw
          .select(least(col("ul"), col("ur")).as("url1"), greatest(col("ul"), col("ur")).as("url2"))
        val pred = matches.select(least(col("url1"), col("url2")).as("url1"),
          greatest(col("url1"), col("url2")).as("url2"))
        val tp = pred.join(truth, Seq("url1", "url2"), "left_semi").count()
        val fp = nMatches - tp
        val fn = truth.count() - tp
        val p = if (tp + fp == 0) 1.0 else tp.toDouble / (tp + fp)
        val r = if (tp + fn == 0) 1.0 else tp.toDouble / (tp + fn)
        val f1 = if (p + r == 0) 0.0 else 2 * p * r / (p + r)
        // AUROC over EVERY A×B candidate ∪ planted truth (reference
        // semantics: roc_auc_score over all labeled pairs,
        // train_deeper.py:357-361). The scored snapshot holds only phase-2
        // survivors, so phase-1-rejected candidates are re-included at
        // score 0 (provably below threshold — Scoring.phase1Gate):
        // rejected POSITIVES appear via the full join against truth
        // (null score → 0); rejected NEGATIVES are reconstructed from the
        // stage counters — midrank AUROC needs only their COUNT at score 0,
        // not their identities (round-5 ADVICE: the metric previously
        // silently excluded them).
        val store = new graft.lineage.SnapshotStore(spark, ttWorkDir, resume = true)
        val ss = store.snapshot("scored")
          .select(least(col("url1"), col("url2")).as("url1"),
            greatest(col("url1"), col("url2")).as("url2"), col("score"))
        val nCand = result.counters.getOrElse("pairs.rows", 0L)
        val nSurv = result.counters.getOrElse("scored.rows", 0L)
        val truthIds = truthRaw
          .select(graft.blocking.Blocking.pageIdOf(col("ul")).as("id1"),
            graft.blocking.Blocking.pageIdOf(col("ur")).as("id2"))
        val nCandPos = store.snapshot("pairs")
          .join(truthIds, Seq("id1", "id2"), "left_semi").count()
        val nSurvPos = ss.join(truth, Seq("url1", "url2"), "left_semi").count()
        val nRejNeg = math.max(0L, (nCand - nSurv) - (nCandPos - nSurvPos))
        val rejectedNegatives = spark.range(nRejNeg)
          .select(lit(0.0).as("score"), lit(0).as("label"))
        val auroc = graft.eval.Eval.auroc(
          ss.join(truth.withColumn("label", lit(1)), Seq("url1", "url2"), "full")
            .select(coalesce(col("score"), lit(0.0)).as("score"),
              coalesce(col("label"), lit(0)).as("label"))
            .unionByName(rejectedNegatives))
        f""","precision":$p%.6f,"recall":$r%.6f,"f1":$f1%.6f,"auroc":$auroc%.6f""" +
          s""","tp":$tp,"fp":$fp,"fn":$fn"""
      } else ""
    println(s"""{"mode":"two_table","left_right":"$rightSpec","matches":$nMatches,""" +
      s""""pairs_scored":$pairsScored,""" +
      s""""resumed_stages":"${result.resumedStages.mkString(",")}",""" +
      s""""seconds":$secs""" + evalJson + "}")
  }

  /** The command-line parser of the graft mains. `--key` is a switch when
    * `key` is in `flags` and takes the next argument as its value when it
    * is in `options` (one of `choices(key)` where listed); bare words are
    * returned in order when `positional`. Any other argument throws an
    * IllegalArgumentException naming it, so a misspelt option fails instead
    * of running with the defaults. Returns (key -> value, bare words), with
    * switches mapped to "true". */
  private[cli] def parse(args: Seq[String], flags: Set[String], options: Set[String],
                         choices: Map[String, Set[String]] = Map.empty,
                         positional: Boolean = false): (Map[String, String], Seq[String]) = {
    def fail(msg: String) = throw new IllegalArgumentException(msg)
    @annotation.tailrec
    def go(rest: List[String], acc: Map[String, String],
           words: Vector[String]): (Map[String, String], Seq[String]) =
      rest match {
        case Nil => (acc, words)
        case arg :: tail if arg.startsWith("--") =>
          val key = arg.stripPrefix("--")
          if (flags(key)) go(tail, acc + (key -> "true"), words)
          else if (!options(key)) fail(s"unknown option $arg")
          else tail match {
            case value :: more if !value.startsWith("--") =>
              choices.get(key).filterNot(_(value)).foreach { allowed =>
                fail(s"unknown value '$value' for $arg (one of ${allowed.toSeq.sorted.mkString(", ")})")
              }
              go(more, acc + (key -> value), words)
            case _ => fail(s"$arg needs a value")
          }
        case word :: tail =>
          if (!positional) fail(s"unexpected argument '$word'")
          go(tail, acc, words :+ word)
      }
    go(args.toList, Map.empty, Vector.empty)
  }
}
