package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.blocking.Blocking
import graft.fixtures.Fixture
import graft.pipeline.Linkage
import graft.scoring.Scoring

/** Two-table linkage gate: the reference's set1-vs-set2 deployment shape
  * (per-side IDF, A×B block join) on a planted cross-set benchmark — left =
  * canonical fixture pages (copy 0), right = all duplicate copies; the
  * cross-set truth is every (canonical, copy) pair of the same entity. */
class TwoTableSpec extends SparkSpec {
  import spark.implicits._

  private val n = 23L * 100 // 100 full cycles → 1500 cross-set truth pairs
  private lazy val pt = Fixture.pagesWithTruth(spark, n).cache()
  private lazy val left = pt.where($"url".endsWith("/c0")).drop("entity_id").cache()
  private lazy val right = pt.where(!$"url".endsWith("/c0")).drop("entity_id").cache()
  private lazy val truth = {
    val l = pt.where($"url".endsWith("/c0")).select($"url".as("ul"), $"entity_id")
    val r = pt.where(!$"url".endsWith("/c0")).select($"url".as("ur"), $"entity_id")
    l.join(r, "entity_id")
      .select(least($"ul", $"ur").as("url1"), greatest($"ul", $"ur").as("url2"))
      .cache()
  }

  private def f1Of(matches: DataFrame): (Double, Long, Long, Long) = {
    val pred = matches.select(least($"url1", $"url2").as("url1"),
      greatest($"url1", $"url2").as("url2"))
    val tp = pred.join(truth, Seq("url1", "url2"), "left_semi").count()
    val fp = pred.count() - tp
    val fn = truth.count() - tp
    val p = if (tp + fp == 0) 1.0 else tp.toDouble / (tp + fp)
    val r = if (tp + fn == 0) 1.0 else tp.toDouble / (tp + fn)
    val f1 = if (p + r == 0) 0.0 else 2 * p * r / (p + r)
    (f1, tp, fp, fn)
  }

  test("two-table linkage recovers planted cross-set duplicates (F1 >= 0.99)") {
    val (f1, tp, fp, fn) = f1Of(Linkage.runTwoTable(spark, left, right))
    info(f"average composition: F1=$f1%.4f tp=$tp fp=$fp fn=$fn")
    assert(f1 >= 0.99, s"two-table F1 $f1 below gate (tp=$tp fp=$fp fn=$fn)")
  }

  test("per-side IDF composition meets the gate") {
    val (f1, tp, fp, fn) =
      f1Of(Linkage.runTwoTable(spark, left, right, composition = Scoring.Idf))
    info(f"idf composition: F1=$f1%.4f tp=$tp fp=$fp fn=$fn")
    assert(f1 >= 0.99, s"two-table idf F1 $f1 below gate (tp=$tp fp=$fp fn=$fn)")
  }

  test("matches keep table identity: url1 from the left table, url2 from the right") {
    val matches = Linkage.runTwoTable(spark, left, right).cache()
    assert(matches.count() > 0)
    // the reference keeps ltable/rtable sides (split_data.py:77-99); a
    // canonical least/greatest ordering would scramble them
    assert(matches.where(!$"url1".endsWith("/c0")).count() == 0,
      "url1 must always come from the LEFT (canonical) table")
    assert(matches.where($"url2".endsWith("/c0")).count() == 0,
      "url2 must always come from the RIGHT (copies) table")
  }

  test("staged two-table run matches the in-memory result; kill/resume recomputes only missing stages") {
    val workDir = tempDir("tt").toString
    val cfg = Linkage.TwoTableConfig(workDir = workDir)
    val staged = Linkage.runTwoTableStaged(spark, left, right, cfg)
    val (f1, tp, fp, fn) = f1Of(staged.matches)
    info(f"staged: F1=$f1%.4f tp=$tp fp=$fp fn=$fn")
    assert(f1 >= 0.99, s"staged two-table F1 $f1 below gate")
    assert(staged.resumedStages.isEmpty)
    // lineage counters present per side + for the pair/score stages
    assert(staged.counters.get("ingest_l.sha_sum").isDefined)
    assert(staged.counters.get("ingest_r.sha_sum").isDefined)
    assert(staged.counters.getOrElse("blocks_l.blocks_built", 0L) > 0)
    assert(staged.counters.getOrElse("scored.pairs_scored", 0L) > 0)
    // in-memory and staged pipelines agree exactly
    val mem = Linkage.runTwoTable(spark, left, right)
      .select("url1", "url2").orderBy("url1", "url2").collect()
    val stg = staged.matches.select("url1", "url2").orderBy("url1", "url2").collect()
    assert(stg.sameElements(mem))

    // full resume: nothing recomputes, identical output
    val resumedAll = Linkage.runTwoTableStaged(spark, left, right, cfg.copy(resume = true))
    assert(resumedAll.resumedStages == Seq("projected_l", "projected_r",
      "attrs_l", "attrs_r", "blocks_l", "blocks_r", "pairs", "scored", "matches"))
    assert(resumedAll.matches.select("url1", "url2")
      .orderBy("url1", "url2").collect().sameElements(stg))

    // kill/resume: only stages missing from the partial copy recompute —
    // notably the expensive A×B pair stage is NOT re-joined
    val dir2 = tempDir("tt-partial").toString
    val full = new java.io.File(workDir)
    for (stage <- Seq("ingest_l", "ingest_r", "projected_l", "projected_r",
        "attrs_l", "attrs_r", "blocks_l", "blocks_r", "pairs")) {
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(full, stage), new java.io.File(dir2, stage))
    }
    val partial = Linkage.runTwoTableStaged(spark, left, right,
      cfg.copy(workDir = dir2, resume = true))
    assert(partial.resumedStages == Seq("projected_l", "projected_r",
      "attrs_l", "attrs_r", "blocks_l", "blocks_r", "pairs"))
    assert(partial.matches.select("url1", "url2")
      .orderBy("url1", "url2").collect().sameElements(stg))
  }

  test("staged split runs write byte-identical manifests") {
    // the matches write reads the scored snapshot without a shuffle, so which
    // write task gets which rows follows the file listing: the manifests list
    // per-task rows largest first, never by task index
    val dirs = Seq("tt-same-a", "tt-same-b").map(tempDir(_).toString)
    dirs.foreach(d => Linkage.runTwoTableStaged(spark, left, right, Linkage.TwoTableConfig(workDir = d)))
    val Seq(a, b) = dirs.map(manifests)
    assert(a.keySet.contains("matches/manifest.json") && b.keySet == a.keySet, b.keySet)
    a.foreach { case (k, v) => assert(b(k) == v, s"$k differs") }
    val rows = "\\{\"partition\":\\d+,\"rows\":(\\d+)\\}".r
      .findAllMatchIn(a("matches/manifest.json")).map(_.group(1).toLong).toSeq
    assert(rows.nonEmpty && rows == rows.sorted.reverse, rows)
  }

  test("two-table re-threshold resume: per-side stages and the A×B join resume") {
    val workDir = tempDir("tt-rethresh").toString
    val cfg = Linkage.TwoTableConfig(workDir = workDir)
    val base = Linkage.runTwoTableStaged(spark, left, right, cfg)
    val strict = Linkage.runTwoTableStaged(spark, left, right,
      cfg.copy(resume = true,
        weights = graft.scoring.Scoring.Weights(threshold = 0.999)))
    assert(strict.resumedStages == Seq("projected_l", "projected_r",
      "attrs_l", "attrs_r", "blocks_l", "blocks_r", "pairs"),
      s"got ${strict.resumedStages}")
    // perturbed copies score below the saturated band: the stricter
    // threshold must drop matches (proves scored/matches recomputed)
    val baseMatches = base.counters.getOrElse("matches.rows", -1L)
    val strictMatches = strict.counters.getOrElse("matches.rows", -1L)
    assert(strictMatches >= 0 && strictMatches < baseMatches,
      s"strict $strictMatches vs base $baseMatches — scored/matches not recomputed?")
  }

  test("two-table incremental ingest: union of deltas ≡ one-shot; old×old never re-joined") {
    val cfg = Blocking.Config()
    val projL = Scoring.projected(left).cache()
    val projR = Scoring.projected(right).cache()
    val blocksL = Blocking.blockTableFromProjected(projL, cfg).cache()
    val blocksR = Blocking.blockTableFromProjected(projR, cfg).cache()
    // deterministic two-chunk split per side (id's hi lane parity)
    def chunk(proj: DataFrame, even: Boolean) =
      proj.where(if (even) pmod($"id.hi", lit(2)) === 0 else pmod($"id.hi", lit(2)) =!= 0)
        .select("id")
    val (l1, l2) = (chunk(projL, even = true), chunk(projL, even = false))
    val (r1, r2) = (chunk(projR, even = true), chunk(projR, even = false))
    val blocksL1 = blocksL.join(l1, Seq("id"), "left_semi")
    val blocksR1 = blocksR.join(r1, Seq("id"), "left_semi")
    // batch 1: everything is new; batch 2: both catalogs grew by chunk 2
    val d1 = Blocking.deltaPairsTwoTable(blocksL1, blocksR1, l1, r1, cfg).cache()
    val d2 = Blocking.deltaPairsTwoTable(blocksL, blocksR, l2, r2, cfg).cache()
    // old×old pairs (both sides from chunk 1) must NEVER re-emerge in batch 2
    assert(d2.join(l1.withColumnRenamed("id", "id1"), Seq("id1"), "left_semi")
      .join(r1.withColumnRenamed("id", "id2"), Seq("id2"), "left_semi")
      .count() == 0, "batch 2 regenerated old×old A×B pairs")
    // union over batches ≡ the one-shot A×B join on the final tables
    val oneShot = Blocking.saltedCrossJoinPairs(blocksL, blocksR,
        cfg.cap, cfg.maxBlock, persistLeft = false, persistRight = false)
      .dropDuplicates("id1", "id2").cache()
    val uni = d1.unionByName(d2).dropDuplicates("id1", "id2").cache()
    assert(uni.count() == oneShot.count())
    assert(uni.exceptAll(oneShot).count() == 0, "delta union emitted extra pairs")
    assert(oneShot.exceptAll(uni).count() == 0, "delta union missed pairs")
    // sides keep identity through the delta path: id1 ∈ left, id2 ∈ right
    assert(uni.join(projL.select($"id".as("id1")), Seq("id1"), "left_anti").count() == 0)
    assert(uni.join(projR.select($"id".as("id2")), Seq("id2"), "left_anti").count() == 0)
  }

  test("two-table incremental ingest: union of per-batch delta MATCHES ≡ one-shot matches") {
    import graft.core.ScoreAttrs
    import spark.implicits._
    val cfg = Blocking.Config()
    val projL = Scoring.projected(left).localCheckpoint()
    val projR = Scoring.projected(right).localCheckpoint()
    val blocksL = Blocking.blockTableFromProjected(projL, cfg).localCheckpoint()
    val blocksR = Blocking.blockTableFromProjected(projR, cfg).localCheckpoint()
    // under Average composition a page's attrs are corpus-independent, so
    // attrs computed once equal the accumulated-time attrs of every batch
    val attrsL = Scoring.attrsWithIdf(spark, projL, Map.empty)
      .toDF().localCheckpoint().as[ScoreAttrs]
    val attrsR = Scoring.attrsWithIdf(spark, projR, Map.empty)
      .toDF().localCheckpoint().as[ScoreAttrs]
    def chunk(proj: org.apache.spark.sql.DataFrame, even: Boolean) =
      proj.where(if (even) pmod($"id.hi", lit(2)) === 0 else pmod($"id.hi", lit(2)) =!= 0)
        .select("id")
    val (l1, l2) = (chunk(projL, even = true), chunk(projL, even = false))
    val (r1, r2) = (chunk(projR, even = true), chunk(projR, even = false))
    val blocksL1 = blocksL.join(l1, Seq("id"), "left_semi")
    val blocksR1 = blocksR.join(r1, Seq("id"), "left_semi")
    def matchesOf(accumL: DataFrame, accumR: DataFrame, newL: DataFrame, newR: DataFrame) =
      graft.streaming.Streams.twoTableDeltaMatches(spark, accumL, accumR, newL, newR,
        attrsL, attrsR, cfg = cfg).select("url1", "url2")
    val d1 = matchesOf(blocksL1, blocksR1, l1, r1)
    val d2 = matchesOf(blocksL, blocksR, l2, r2)
    val uni = d1.unionByName(d2).dropDuplicates("url1", "url2")
      .orderBy("url1", "url2").collect()
    val oneShot = Linkage.runTwoTable(spark, left, right)
      .select("url1", "url2").orderBy("url1", "url2").collect()
    assert(uni.sameElements(oneShot),
      s"delta-match union (${uni.length}) differs from one-shot (${oneShot.length})")
  }

  test("two-table deltas enforce maxBlock at ACCUMULATED per-side sizes (round-5 ADVICE)") {
    import spark.implicits._
    val cfg = Blocking.Config(cap = 4, maxBlock = 8)
    def entries(ids: Seq[Long], key: Long) =
      ids.toDF("id").select(lit(key).as("block_key"), $"id")
    // block 7: left grows 5 → 10 rows (crosses maxBlock=8 at batch 2);
    // block 9: stays small on both sides but gets no new rows at batch 2
    val leftB1 = entries(0L until 5L, 7).unionByName(entries(100L to 102L, 9))
    val right = entries(200L until 205L, 7).unionByName(entries(300L to 301L, 9))
    val leftAdd = entries(5L until 10L, 7)
    val leftB2 = leftB1.unionByName(leftAdd)
    val noNew = spark.range(0).select($"id")
    // batch 1: everything new, all blocks under cap → full A×B coverage
    val d1 = Blocking.deltaPairsTwoTable(leftB1, right,
      leftB1.select("id"), right.select("id"), cfg)
    assert(d1.count() == 5L * 5 + 3L * 2)
    // batch 2: block 7's ACCUMULATED left size is 10 > maxBlock — the
    // pre-fix gate sized the legs' INPUT frames (newL = 5 rows, oldL = 5
    // rows, both under cap) and kept emitting 5×5 pairs per batch; the
    // accumulated gate must emit NOTHING (block 9 has no new rows either)
    val d2 = Blocking.deltaPairsTwoTable(leftB2, right, leftAdd.select("id"), noNew, cfg)
    assert(d2.count() == 0L,
      "over-cap block leaked pairs through the delta legs' input-size gate")
    // monotone emission: batch-1 pairs stand (they were emitted under cap);
    // the ONE-SHOT join over the final tables drops block 7 entirely — the
    // documented incremental-vs-one-shot divergence for crossing blocks
    val oneShot = Blocking.saltedCrossJoinPairs(leftB2, right, cfg.cap, cfg.maxBlock,
      persistLeft = false, persistRight = false).dropDuplicates("id1", "id2")
    assert(oneShot.count() == 3L * 2)
  }

  test("incrementally maintained block sizes drive the over-cap gate exactly") {
    import spark.implicits._
    val cfg = Blocking.Config(cap = 4, maxBlock = 8)
    def entries(ids: Seq[Long], key: Long) =
      ids.toDF("id").select(lit(key).as("block_key"), $"id")
    // same scenario as the accumulated-gate test: block 7 crosses maxBlock
    // at batch 2, block 9 stays small
    val leftB1 = entries(0L until 5L, 7).unionByName(entries(100L to 102L, 9))
    val right = entries(200L until 205L, 7).unionByName(entries(300L to 301L, 9))
    val leftAdd = entries(5L until 10L, 7)
    val leftB2 = leftB1.unionByName(leftAdd)
    val noNew = spark.range(0).select($"id")
    // per-side size tables maintained incrementally: batch-1 sizes from the
    // batch itself, batch-2 sizes = batch-1 sizes + the delta's counts —
    // the accumulated entry tables are never re-aggregated
    val sizesL1 = Blocking.blockSizes(leftB1).localCheckpoint()
    val sizesR = Blocking.blockSizes(right).localCheckpoint()
    val sizesL2 = Blocking.mergedBlockSizes(sizesL1, leftAdd).localCheckpoint()
    // merged sizes ≡ a fresh aggregate over the full accumulated table
    val fresh = Blocking.blockSizes(leftB2)
    assert(sizesL2.exceptAll(fresh).count() == 0 && fresh.exceptAll(sizesL2).count() == 0)
    val d1 = Blocking.deltaPairsTwoTable(leftB1, right,
      leftB1.select("id"), right.select("id"), cfg,
      sizesLeft = Some(sizesL1), sizesRight = Some(sizesR))
    assert(d1.count() == 5L * 5 + 3L * 2)
    val d2 = Blocking.deltaPairsTwoTable(leftB2, right, leftAdd.select("id"), noNew, cfg,
      sizesLeft = Some(sizesL2), sizesRight = Some(sizesR))
    assert(d2.count() == 0L,
      "over-cap block leaked pairs under the incrementally maintained size gate")
    // and the gate subtree really reads the size tables, not the accumulated
    // entries: the over-cap filter's plan contains no aggregate over leftB2
    val plan = Blocking.deltaPairsTwoTable(leftB2, right, leftAdd.select("id"), noNew,
      cfg, sizesLeft = Some(sizesL2), sizesRight = Some(sizesR))
      .queryExecution.optimizedPlan.toString
    // (the grid join's own per-key size aggregates alias nl/nr; the gate's
    // fresh aggregate would alias n — its absence proves the gate read the
    // supplied size tables)
    assert(!plan.contains("count(1) AS n#"), plan.take(2000))
  }

  test("planted hot block: cross-join grid bounds tasks, exactly-once coverage") {
    val cap = 64
    val nl = 500L
    val nr = 300L
    val le = spark.range(nl).select(lit(7L).as("block_key"), $"id")
    val re = spark.range(nr).select(lit(7L).as("block_key"), ($"id" + 10000L).as("id"))
    val pairs = Blocking.saltedCrossJoinPairs(le, re, cap, maxBlock = 0)
    assert(pairs.count() == nl * nr) // full coverage...
    assert(pairs.distinct().count() == nl * nr) // ...each pair exactly once
    val (lb, rb) = Blocking.crossBuckets(le, re, cap, maxBlock = 0)
    val maxBucket = lb.select("block_key", "bucket")
      .unionByName(rb.select("block_key", "bucket"))
      .groupBy("block_key", "bucket").count()
      .agg(max("count")).as[Long].collect()(0)
    assert(maxBucket <= 3L * cap, s"hot cross block co-joins $maxBucket rows (cap=$cap)")
    // a key present on one side only never joins (and never replicates)
    val lone = spark.range(10).select(lit(9L).as("block_key"), $"id")
    assert(Blocking.saltedCrossJoinPairs(lone, re, cap, maxBlock = 0).count() == 0)
    // maxBlock drops the whole block, never partially
    val dropped = Blocking.saltedCrossJoinPairs(le, re, cap, maxBlock = 299)
    assert(dropped.count() == 0)
  }
}
