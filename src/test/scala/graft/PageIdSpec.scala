package graft

import org.apache.spark.sql.functions._

import graft.blocking.Blocking
import graft.clustering.ConnectedComponents
import graft.fixtures.Fixture
import graft.scoring.Scoring

/** 128-bit page ids (round-3 VERDICT ask #2): at the 10^12-page north star
  * 64-bit ids are birthday-bound to collide, silently merging clusters.
  * These tests prove the widened id flows end-to-end AND that the low lane
  * alone keeps colliding-hi pages apart — the exact failure the widening
  * exists to prevent. */
class PageIdSpec extends SparkSpec {
  import spark.implicits._

  test("pageId: two decorrelated 64-bit lanes, deterministic") {
    val ids = Seq("https://a.com/x", "https://a.com/y", "https://a.com/x")
      .toDF("url").select(Blocking.pageId.as("id"))
      .select(col("id.hi"), col("id.lo"))
      .as[(Long, Long)].collect()
    assert(ids(0) == ids(2)) // deterministic
    assert(ids(0) != ids(1)) // distinct urls → distinct ids
    assert(ids(0)._1 != ids(0)._2) // lanes differ (independent seeds)
  }

  test("lo lane is NOT a deterministic fold of hi (the argument-order bug)") {
    // xxhash64(url, lit(seed)) would fold to hashLong(seed, hi) — a pure
    // function of the first lane, i.e. a fake second lane where every hi
    // collision collides the whole 128-bit id. Pin lo ≠ hashLong(seed, hi)
    // for a spread of urls so that exact regression can never return.
    val rows = (0 until 50).map(i => s"https://site$i.example/p/$i").toDF("url")
      .select(Blocking.pageId.as("id"))
      .select(col("id.hi"), col("id.lo")).as[(Long, Long)].collect()
    val folded = rows.count { case (hi, lo) =>
      lo == org.apache.spark.sql.catalyst.expressions.XXH64
        .hashLong(Blocking.IdLoSeed, hi)
    }
    assert(folded == 0, s"$folded/50 lo lanes are a pure function of hi — zero extra entropy")
  }

  test("salted self-join operates on struct ids: hot block, exact coverage, canonical order") {
    val n = 120
    // one hot block whose members differ ONLY in the low lane — exercises
    // xxhash64(struct) salting, struct inequality joins, and least/greatest
    val entries = spark.range(n).select(lit(1L).as("block_key"),
      struct(lit(7L).as("hi"), $"id".as("lo")).as("id"))
    val pairs = Blocking.saltedSelfJoinPairs(entries, cap = 16, maxBlock = 0).cache()
    assert(pairs.count() == n.toLong * (n - 1) / 2)
    assert(pairs.distinct().count() == n.toLong * (n - 1) / 2)
    assert(pairs.where(!(col("id1") < col("id2"))).count() == 0,
      "pairs must be canonical under struct ordering")
  }

  test("forged hi-lane collision: every page keeps its own cluster (64-bit would merge all)") {
    val n = 46L // two full entity cycles
    val pt = Fixture.pagesWithTruth(spark, n).cache()
    val pages = pt.drop("entity_id")
    // force EVERY page onto hi = 42: a 64-bit pipeline keyed on hi alone
    // would see one single id and fuse the corpus into one cluster; the
    // low lane must keep them apart through attrs, blocking, scoring, CC
    val proj = Scoring.projected(pages)
      .withColumn("id", struct(lit(42L).as("hi"), col("id.lo").as("lo")))
      .localCheckpoint()
    assert(proj.select(countDistinct(col("id"))).as[Long].collect()(0) == n,
      "low lane must still distinguish all pages")
    val cfg = Blocking.Config()
    val attrs = Scoring.attrsFromProjected(spark, proj)
    val blocks = Blocking.blockTableFromProjected(proj, cfg)
    val cands = Blocking.candidatePairs(blocks, cfg)
    val scored = Scoring.score(spark, cands, attrs)
    val edges = scored.toDF().where(col("score") >= Scoring.Weights().threshold)
      .select(col("id1").as("src"), col("id2").as("dst"))
    val idUrl = attrs.toDF().select(col("id").as("node"), col("url"))
    val cc = ConnectedComponents.run(spark, edges,
      nodes = Some(idUrl.select("node")))
    val clustered = cc.assignments.join(idUrl, "node")
      .join(pt.select($"url", $"entity_id"), "url").cache()
    // clusters ≡ planted entities exactly: no collision-induced merge, no split
    assert(clustered.groupBy("root").agg(countDistinct("entity_id").as("d"))
      .where($"d" > 1).count() == 0, "forged hi-collision merged distinct entities")
    assert(clustered.groupBy("entity_id").agg(countDistinct("root").as("d"))
      .where($"d" > 1).count() == 0, "entity split under forged ids")
  }
}
