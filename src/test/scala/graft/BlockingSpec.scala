package graft

import org.apache.spark.sql.functions._

import graft.blocking.Blocking

class BlockingSpec extends SparkSpec {
  import spark.implicits._

  /** Exhaustive pair coverage under salting: an oversized block must emit
    * every unordered pair exactly once (SURVEY §7.5.1 — the subtle part). */
  test("salted self-join: full pair coverage, each pair exactly once") {
    val n = 300 // with cap=64 → k=5 salt buckets
    val blocks = (0 until n).map(i => ("B", i.toLong)).toDF("block_key", "id")
    val cfg = Blocking.Config(cap = 64, maxBlock = 4096)
    val pairs = Blocking.candidatePairs(blocks, cfg).collect()
    assert(pairs.length == n * (n - 1) / 2, s"expected ${n * (n - 1) / 2}, got ${pairs.length}")
    // canonical order and uniqueness
    val asSet = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(asSet.size == pairs.length)
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
  }

  /** The skew guarantee must hold PHYSICALLY, not just in plan shape: a hot
    * block's pairs have to land across multiple partitions (the round-6
    * wave-packing fix exists because subset co-partitioning silently put
    * every salt bucket of a hot block back into ONE partition). */
  test("hot block's pairs physically spread across partitions") {
    val hot = (0 until 600).map(i => ("HOT", i.toLong)) // cap=64 → k=10
    val blocks = hot.toDF("block_key", "id")
    // saltedSelfJoinPairs directly (not candidatePairs): the pid column must
    // be evaluated in the GRID stage — candidatePairs' dedup exchange would
    // re-partition by (id1, id2) before the projection and measure that
    // stage instead (observed: AQE coalesces the tiny dedup to 1 partition)
    val pids = Blocking.saltedSelfJoinPairs(blocks, cap = 64, maxBlock = 4096)
      .withColumn("pid", spark_partition_id())
      .select("pid").distinct().collect().map(_.getInt(0)).toSet
    // k=10 → 45 cross buckets + 10 same-salt groups hashed over
    // 8×parallelism partitions; requiring ≥ 4 is robust to hash collisions
    // while failing outright if the block re-fuses into one partition
    assert(pids.size >= 4, s"hot block pairs landed in only $pids")
  }

  test("small blocks (n <= cap) take the k=1 fast path") {
    val blocks = Seq(("A", 1L), ("A", 2L), ("A", 3L)).toDF("block_key", "id")
    val got = Blocking.candidatePairs(blocks, Blocking.Config(cap = 64))
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("pairs found via multiple blocks are deduped") {
    val blocks = Seq(("A", 1L), ("A", 2L), ("B", 1L), ("B", 2L))
      .toDF("block_key", "id")
    val got = Blocking.candidatePairs(blocks, Blocking.Config())
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L)))
  }

  test("singleton blocks emit nothing; oversized blocks are dropped (not silent)") {
    val big = (0 until 50).map(i => ("BIG", i.toLong))
    val blocks = (Seq(("S", 999L)) ++ big).toDF("block_key", "id")
    val cfg = Blocking.Config(cap = 8, maxBlock = 20)
    assert(Blocking.candidatePairs(blocks, cfg).count() == 0)
    val stats = Blocking.blockStats(blocks, cfg)
    assert(stats("blocks_dropped") == 1)
    assert(stats("blocks_built") == 2)
    assert(stats("max_block_size") == 50)
  }

  test("block table: duplicates share all minhash bands; unrelated do not") {
    val text = "the quick brown fox jumps over the lazy dog and runs far away home"
    val pages = Seq(
      ("https://a.com/1", text),
      ("https://b.com/2", text), // identical text, different host
      ("https://c.com/3", "completely unrelated content about database query engines")
    ).toDF("url", "text")
    val ids = pages.withColumn("id", Blocking.pageId)
      .select(col("url"), col("id.hi"), col("id.lo"))
      .as[(String, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    val cfg = Blocking.Config()
    val bt = Blocking.blockTable(pages, cfg)
    // drop the (bands+1)-th key per page (domain key) by excluding keys held
    // by a single page-with-domain pattern: instead, group and inspect
    val grouped = bt.groupBy("block_key").agg(collect_set("id").as("ids"))
    def idLit(u: String) = // struct literal with matching field names
      struct(lit(ids(u)._1).as("hi"), lit(ids(u)._2).as("lo"))
    def sharedKeys(u1: String, u2: String): Long =
      grouped.where(array_contains(col("ids"), idLit(u1)) &&
        array_contains(col("ids"), idLit(u2))).count()
    assert(sharedKeys("https://a.com/1", "https://b.com/2") == cfg.bands.toLong)
    assert(sharedKeys("https://a.com/1", "https://c.com/3") == 0L)
  }

  test("pair budget bounded: 10k fixture pages yield < 60k candidates") {
    val pages = graft.fixtures.Fixture.pages(spark, 10000).toDF()
    val cfg = Blocking.Config()
    val nPairs = Blocking.candidatePairs(Blocking.blockTable(pages, cfg), cfg).count()
    assert(nPairs < 60000, s"candidate blowup: $nPairs")
    assert(nPairs > 10000, s"suspiciously few candidates: $nPairs")
  }

  test("deltaPairs maxBlock crossing: monotone emission — small-era pairs stand, over-cap era emits nothing") {
    val cfg = Blocking.Config(cap = 64, maxBlock = 4)
    def entries(ids: Seq[Long]) = ids.map(i => (7L, i)).toDF("block_key", "id")
    // batch 1: block has 3 members (≤ maxBlock) → all 3 pairs emitted
    val b1 = Blocking.deltaPairs(entries(Seq(1, 2, 3)), Seq(1L, 2L, 3L).toDF("id"), cfg)
    assert(b1.count() == 3)
    // batch 2: block grows to 6 (> maxBlock) → the delta join drops it:
    // NOTHING new, and the old 3 pairs are never retracted (monotone)
    val b2 = Blocking.deltaPairs(entries(Seq(1, 2, 3, 4, 5, 6)), Seq(4L, 5L, 6L).toDF("id"), cfg)
    assert(b2.count() == 0, "over-cap block leaked new pairs")
    // the one-shot run over the final corpus drops the block entirely —
    // the union is a documented superset exactly when a block CROSSES the
    // cap mid-stream (pairs from its small era)
    assert(Blocking.candidatePairs(entries(Seq(1, 2, 3, 4, 5, 6)), cfg).count() == 0)
  }

  /** Size aggregates and cache reads over every plan `body` executes,
    * reduced to counts here so no captured plan (which holds the grid's
    * checkpointed RDDs) outlives the call. */
  private def gridReads(body: => Unit): (Int, Int) = {
    val plans = ExecutedPlans.capture(spark)(body)
    (plans.map(ExecutedPlans.sizeAggregates).sum, plans.map(ExecutedPlans.caches(_).size).sum)
  }

  test("grid inputs: materialized once, freed once the result is unreachable") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // persistEntries = true (the default): the entries and the sized entries
    // are local checkpoints, not CacheManager entries, and the grid's four
    // legs read one sized table: one size aggregate across the whole call
    val (aggregates, caches) = gridReads {
      val entries = spark.range(2000).select(pmod($"id", lit(7)).as("block_key"), $"id")
      assert(Blocking.saltedSelfJoinPairs(entries, cap = 64, maxBlock = 0).count() > 0)
      assert(ExecutedPlans.pinnedSince(spark, before) > 0, "the grid materialized nothing")
    }
    assert(caches == 0, s"the grid read $caches CacheManager entries")
    assert(aggregates == 1, s"$aggregates size aggregates across the call")
    // repeated operator calls must not accumulate pinned block storage
    val pinned = ExecutedPlans.awaitUnpinned(spark, before)
    assert(pinned == 0, s"$pinned grid input(s) still pinned after the pairs frame was dropped")
  }

  test("a held pairs frame re-executes without re-aggregating") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def secondAction(): (Int, Int) = {
      val entries = spark.range(1500).select(pmod($"id", lit(3)).as("block_key"), $"id")
      val pairs = Blocking.saltedSelfJoinPairs(entries, cap = 64, maxBlock = 0)
      val n = pairs.count()
      spark.range(5).count() // unrelated query in between
      val (aggregates, _) = gridReads(assert(pairs.count() == n))
      (aggregates, ExecutedPlans.pinnedSince(spark, before))
    }
    val (aggregates, held) = secondAction()
    // the second action reads the stored sized entries: no size aggregate,
    // and the inputs stay pinned while the frame is held
    assert(aggregates == 0, s"the second action ran $aggregates size aggregates")
    assert(held > 0, "the held frame's grid inputs were freed")
    val pinned = ExecutedPlans.awaitUnpinned(spark, before)
    assert(pinned == 0, s"$pinned grid input(s) still pinned after the pairs frame was dropped")
  }

  test("candidatePairs (persistEntries = false) persists nothing") {
    val beforeIds = spark.sparkContext.getPersistentRDDs.keySet
    val blocks = spark.range(1500).select(pmod($"id", lit(3)).as("block_key"), $"id")
    // the ER pipeline's block table is a snapshot already: re-scanning it
    // is the plan, no entries or sized-entries cache
    val plans = ExecutedPlans.capture(spark) {
      assert(Blocking.candidatePairs(blocks, Blocking.Config(cap = 64, maxBlock = 0)).count() > 0)
    }
    assert(plans.nonEmpty && plans.forall(p => ExecutedPlans.caches(p).isEmpty),
      plans.mkString("\n"))
    assert((spark.sparkContext.getPersistentRDDs.keySet -- beforeIds).isEmpty)
  }

  test("deltaPairs default: accumulated side stays uncached; a caller-managed cache survives") {
    import org.apache.spark.storage.StorageLevel
    val cfg = Blocking.Config(cap = 64, maxBlock = 0)
    val accum = spark.range(500).select(pmod($"id", lit(5)).as("block_key"), $"id")
    assert(Blocking.deltaPairs(accum, spark.range(450, 500).toDF("id"), cfg).count() > 0)
    // opt-out default: at scale the accumulated table is snapshot-backed
    // parquet — re-scanning beats materializing 100 TB into executor storage
    assert(accum.storageLevel == StorageLevel.NONE,
      "deltaPairs persisted the accumulated side despite the opt-out default")
    // a continuous-ingest caller keeping its own cross-batch cache must not
    // lose it to the operator's own materialization of the new side
    // (round-4 ADVICE: persist()+unpersist() on the caller's plan dropped it)
    val cached = accum.persist(StorageLevel.MEMORY_AND_DISK)
    cached.count()
    Blocking.deltaPairs(cached, spark.range(450, 500).toDF("id"), cfg).count()
    assert(cached.storageLevel != StorageLevel.NONE,
      "deltaPairs dropped the caller's own cross-batch cache")
    cached.unpersist(blocking = true)
  }
}
