package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan assertions: the optimizations we rely on at 100 TB must be
  * visible in the executed plan, not assumed — filter/column pushdown into
  * the parquet scan, broadcast joins for dims, and whole-stage codegen over
  * the custom similarity expressions. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q01: filter and projection are pushed into the parquet scan") {
    val plan = formatted(Queries.q01_scan_filter_project(spark, dir))
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("LessThan(l_quantity"), "quantity filter not pushed")
    assert(plan.contains("ReadSchema"))
    // column pruning: unselected wide columns never reach the scan
    assert(!plan.contains("l_extendedprice"), "column pruning failed")
  }

  test("q04: dimension joins execute as broadcast hash joins") {
    val plan = formatted(Queries.q04_broadcast_dims(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan.take(2000))
  }

  test("q05: anti join planned as broadcast/shuffled anti, not cartesian") {
    val plan = formatted(Queries.q05_anti_join(spark, dir))
    assert(plan.contains("LeftAnti"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"))
  }

  test("q10: mean fill is a scalar aggregate, not a global window") {
    // the agg-then-broadcast-join shape: a one-row broadcast, never an
    // unpartitioned WindowExec funnelling every row through one task
    val plan = formatted(Queries.q10_null_fill(spark, dir))
    assert(!plan.contains("Window"), "global window crept back into q10")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      plan.take(2000))
  }

  test("q36: shingle ownership join never plans as cartesian") {
    val plan = formatted(Queries.q36_shingle_novelty(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("scoring stage stays inside whole-stage codegen (no row objects)") {
    import spark.implicits._
    val pages = graft.fixtures.Fixture.pages(spark, 200).toDF()
    val attrs = graft.scoring.Scoring.attrs(spark, pages)
    val cfg = graft.blocking.Blocking.Config()
    val cands = graft.blocking.Blocking.candidatePairs(
      graft.blocking.Blocking.blockTable(pages, cfg), cfg)
    val scored = graft.scoring.Scoring.score(spark, cands, attrs).toDF()
      .select("jaro_winkler", "levenshtein_sim", "cosine", "score")
    scored.collect() // finalize THIS dataset's adaptive plan (count() would execute a different QE)
    val plan = scored.queryExecution.executedPlan.toString
    assert(plan.contains("jarowinklerexpr"), "custom JW expression missing from plan")
    assert(plan.contains("levenshteinsimexpr"), "custom Levenshtein expression missing")
    assert(plan.contains("cosinesimexpr"), "custom cosine expression missing")
    // '*(n)' marks whole-stage-codegen'd operators in the final plan
    val projLine = plan.linesIterator.find(_.contains("jarowinklerexpr"))
    assert(projLine.exists(_.contains("*(")), s"similarity projection not codegen'd: $projLine")
  }

  test("projected: media pooling is one codegen expression, html never travels past it") {
    val pages = graft.fixtures.Fixture.pages(spark, 50).toDF()
    val proj = graft.scoring.Scoring.projected(pages)
    val plan = formatted(proj)
    // the SINGLE-PASS multi-image kernel, not the compositional
    // regexp_extract_all chain (which re-ran the regex per reference and
    // cost +34% on the er path — BENCH.md round-5)
    assert(plan.contains("multiavgpoolexpr"), "multi-image pooling kernel missing from plan")
    // (price extraction legitimately uses regexp; only the DATA-URI regex
    // chain must stay out of the plan)
    assert(!plan.contains("data:image/[a-zA-Z]"),
      "regex-based data-URI extraction leaked back into the hot path")
    // one projection over the scan: html is consumed inside it, not re-read
    // (in the pipeline this frame is checkpointed, so downstream stages read
    // the pooled vector, never the html — EndToEndSpec covers that path)
    assert(plan.contains("normtextexpr"))
  }

  test("two-table cross pairing never plans as cartesian") {
    import org.apache.spark.sql.functions.{lit, pmod}
    import spark.implicits._
    val le = spark.range(200).select(pmod($"id", lit(5)).as("block_key"), $"id")
    val re = spark.range(200).select(pmod($"id", lit(5)).as("block_key"), ($"id" + 1000).as("id"))
    val plan = formatted(graft.blocking.Blocking.saltedCrossJoinPairs(le, re, cap = 64, maxBlock = 0))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("pair-grid joins plan as shuffled hash joins even on estimate-tiny inputs") {
    // Regression pin for the round-6 scale fix: the grid inputs are
    // explode-replicated, so Catalyst's static estimate undercounts them and
    // (un-hinted) plans a BroadcastHashJoin — measured at sf1 collapsing the
    // whole grid onto the scan's 2 tasks, and a driver-OOM at web scale. The
    // shuffle_hash hints must hold exactly where the estimator is most
    // tempted: tiny inputs.
    import org.apache.spark.sql.functions.{lit, pmod}
    import spark.implicits._
    val blocks = graft.blocking.Blocking.blockTable(
      graft.fixtures.Fixture.pages(spark, 200).toDF())
    val self = formatted(graft.blocking.Blocking.candidatePairs(blocks,
      graft.blocking.Blocking.Config()))
    assert(!self.contains("BroadcastHashJoin"), self.take(2000))
    assert("ShuffledHashJoin".r.findAllIn(self).size >= 2, self.take(2000))
    // the grid exchanges are numbered repartitions on the FULL grid key:
    // exempt from AQE byte-coalescing (grid tasks are CPU-dense, not
    // byte-dense) and carrying the salt split into the physical partitioning
    // (block_key-only subset co-partitioning would re-fuse hot blocks)
    assert(self.contains("REPARTITION_BY_NUM"), self.take(2000))
    // a cast of bucket inside an ENSURE_REQUIREMENTS hashpartitioning means
    // the sides' bucket nullability diverged and EnsureRequirements stacked
    // a second exchange on the numbered one
    val stackedExchange =
      """hashpartitioning\([^\n]*cast\(bucket[^\n]*ENSURE_REQUIREMENTS""".r
    assert(stackedExchange.findFirstIn(self).isEmpty, self.take(2000))
    val le = spark.range(200).select(pmod($"id", lit(5)).as("block_key"), $"id")
    val re = spark.range(200).select(pmod($"id", lit(5)).as("block_key"), ($"id" + 1000).as("id"))
    val cross = formatted(
      graft.blocking.Blocking.saltedCrossJoinPairs(le, re, cap = 64, maxBlock = 0))
    assert(!cross.contains("BroadcastHashJoin"), cross.take(2000))
    assert(cross.contains("ShuffledHashJoin"), cross.take(2000))
    assert(cross.contains("REPARTITION_BY_NUM"), cross.take(2000))
    assert(stackedExchange.findFirstIn(cross).isEmpty, cross.take(2000))
    // the partition count is the production scale lever: the conf override
    // must actually reach the exchanges (a 100 TB run sets it to corpus/task
    // sizing; silently ignoring it would re-open the wave-packing hole).
    // The pin (19) is chosen ABOVE the test session's parallelism: Spark
    // floors a user repartition count at defaultParallelism (observed 7 → 8
    // at local[8]), so a below-parallelism pin wouldn't round-trip.
    spark.conf.set("graft.blocking.gridPartitions", "19")
    try {
      val pinned = formatted(graft.blocking.Blocking.candidatePairs(blocks,
        graft.blocking.Blocking.Config()))
      assert("""hashpartitioning\([^\n]*, 19\), REPARTITION_BY_NUM""".r
        .findFirstIn(pinned).isDefined, pinned.take(2000))
    } finally spark.conf.unset("graft.blocking.gridPartitions")
    // data-derived floor: a caller-known entry-row count (the staged
    // pipeline's blocks manifest counter) floors the grid partition count at
    // rows / TargetGridRowsPerPartition, so at fixed cores the per-partition
    // SHJ builds stay bounded as the corpus grows — without the operator
    // remembering a conf. 1000 here = 32768 * 1000 rows claimed.
    val derived = formatted(graft.blocking.Blocking.candidatePairs(blocks,
      graft.blocking.Blocking.Config(),
      gridRows = Some(graft.blocking.Blocking.TargetGridRowsPerPartition * 1000)))
    assert("""hashpartitioning\([^\n]*, 1000\), REPARTITION_BY_NUM""".r
      .findFirstIn(derived).isDefined, derived.take(2000))
  }

  test("near-dup operators: block sizes aggregated once per grid, numbered verify exchange") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    import org.apache.spark.sql.functions.xxhash64
    import spark.implicits._
    val beforeIds = spark.sparkContext.getPersistentRDDs.keySet
    // half templated, so some band/chunk blocks outgrow the cap and salt
    val body = (0 until 60).map(i => s"w$i").mkString(" ")
    val docs = (graft.fixtures.Fixture.pages(spark, 200).toDF().select($"url", $"text")
      .union((0 until 200).map(i => (s"t$i", s"$body x${i % 2}")).toDF("url", "text")))
      .select(xxhash64($"url").as("doc_id"), $"text")
    val work = tempDir("neardup-plan").toString
    def verifyCounts(ops: Seq[org.apache.spark.sql.execution.SparkPlan]) = ops.collect {
      case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM =>
        e.outputPartitioning
    }.collect { case HashPartitioning(Seq(a: Attribute), n) if a.name == "id1" => n }
    // writes the operator's output; returns the size aggregates across every
    // plan the call ran (the grid inputs' checkpoints included) and the
    // partition counts of the numbered id1 exchanges — counts only, since a
    // captured plan holds the checkpointed grid inputs it read
    def run(op: String)(df: => DataFrame): (Int, Seq[Int]) = {
      val plans = ExecutedPlans.capture(spark)(df.write.parquet(s"$work/$op"))
      val ops = plans.map(ExecutedPlans.operators)
      val writes = ops.count(_.exists(_.isInstanceOf[DataWritingCommandExec]))
      assert(writes == 1, s"$op: $writes write plans captured")
      (plans.map(ExecutedPlans.sizeAggregates).sum, ops.flatMap(verifyCounts))
    }
    val (mhAggregates, mhVerify) =
      run("minhash")(graft.operators.Dedup.minhashNearDup(docs, "doc_id", "text", 0.8))
    // the grid's four legs read ONE materialized sized-entries table, not one
    // size aggregate and size join per leg
    assert(mhAggregates == 1, s"minhash: $mhAggregates size aggregates")
    // the candidate exchange feeding the verify joins is numbered (at least
    // one wave): a by-column one is AQE-coalesced to a single verify task
    val cores = spark.sparkContext.defaultParallelism
    assert(mhVerify == Seq(cores), s"minhash verify exchanges: $mhVerify")
    // a session tuned to more shuffle partitions than cores keeps its count
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", (cores * 3).toString)
    try {
      val (_, tuned) = run("minhash-tuned")(
        graft.operators.Dedup.minhashNearDup(docs, "doc_id", "text", 0.8))
      assert(tuned == Seq(cores * 3), s"tuned verify exchanges: $tuned")
    } finally spark.conf.set("spark.sql.shuffle.partitions", parts)
    val (shAggregates, _) = run("simhash")(graft.operators.Dedup.simhashNearDup(docs, "doc_id", "text"))
    assert(shAggregates == 1, s"simhash: $shAggregates size aggregates")
    // neither operator leaves its grid inputs pinned once its result is gone
    val leaked = ExecutedPlans.awaitUnpinned(spark, beforeIds)
    assert(leaked == 0, s"$leaked grid input(s) still pinned after the writes")
  }

  test("snapshots partition by warc_day: date-filtered reads prune at the directory level") {
    import org.apache.spark.sql.functions._
    val workDir = tempDir("part").toString
    val store = new graft.lineage.SnapshotStore(spark, workDir, resume = false)
    val pages = graft.fixtures.Fixture.pages(spark, 100).toDF()
    store.stage("projected", "fp-test", partitionBy = Seq("warc_day")) {
      graft.scoring.Scoring.projected(pages)
    }
    // Hive-style day directories on disk
    val dirs = new java.io.File(s"$workDir/projected/data.parquet").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.exists(_.startsWith("warc_day=")), dirs.mkString(","))
    // a date filter reaches the scan as a PartitionFilter (pruning), not a
    // post-scan Filter over all data
    val read = spark.read.parquet(s"$workDir/projected/data.parquet")
      .where(col("warc_day") === lit("2024-03-01").cast("date"))
    val plan = formatted(read)
    val pf = plan.linesIterator.find(_.contains("PartitionFilters"))
    assert(pf.exists(_.contains("warc_day")), plan.take(2000))
  }

  test("blocking: minhash bands are one custom expression, not an expr chain") {
    val pages = graft.fixtures.Fixture.pages(spark, 50).toDF()
    val plan = formatted(graft.blocking.Blocking.blockTable(pages))
    assert(plan.contains("minhashbandsexpr"), plan.take(1500))
    assert(plan.contains("normtextexpr"), "single-pass normalizer missing")
  }
}
