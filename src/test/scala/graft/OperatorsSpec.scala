package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextStats}

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup groups identical texts, keeps min id as representative") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other"), (4L, "same text"))
      .toDF("id", "text")
    val groups = Dedup.exact(df, "id", "text")
      .select("rep_id", "group_size").as[(Long, Long)].collect().toSet
    assert(groups == Set((1L, 3L), (3L, 1L)))
    val summary = Dedup.exactSummary(df, "id", "text")
      .as[(Long, Long)].collect()(0)
    assert(summary == ((2L, 2L)))
  }

  test("minhash dedup finds planted fixture duplicates (recall ≥ 0.99)") {
    val pt = Fixture2k.pt
    val pages = pt.drop("entity_id")
    val cands = Dedup.minhashCandidates(
      pages.withColumn("doc_id", xxhash64($"url")), "doc_id", "text")
    // truth pairs keyed by the same hash ids
    val ids = pt.select(xxhash64($"url").as("hid"), $"entity_id")
    val truth = ids.as("a").join(ids.as("b"),
        $"a.entity_id" === $"b.entity_id" && $"a.hid" < $"b.hid")
      .select($"a.hid".as("id1"), $"b.hid".as("id2"))
    val nTruth = truth.count()
    val found = truth.join(cands, Seq("id1", "id2"), "left_semi").count()
    assert(found >= (nTruth * 0.99).toLong, s"recall ${found.toDouble / nTruth}")
  }

  test("first-collision operators refuse maxBlock > 0 instead of losing pairs silently") {
    // the first agreeing band/chunk may sit in a block the over-cap gate
    // dropped; the pair would then be emitted nowhere, and nothing counts it
    val docs = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("id", "text")
    val calls: Seq[() => Any] = Seq(
      () => Dedup.minhashCandidates(docs, "id", "text", maxBlock = 10),
      () => Dedup.minhashNearDup(docs, "id", "text", tau = 0.8, maxBlock = 10),
      () => Dedup.simhashNearDup(docs, "id", "text", maxBlock = 10),
      () => Dedup.hammingNearDup(docs.select($"id", lit(0L).as("fp")),
        bits = 64, chunks = 4, maxHamming = 3, maxBlock = 10))
    calls.foreach { call =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("ROADMAP item C"), e.getMessage)
    }
  }

  test("simhash near-dup: hamming-banded candidates catch near-identical docs") {
    // simhash hamming ≤ 3 needs long documents (bit margins grow ~√n_tokens;
    // a 1-token change in a 12-token doc legitimately flips >3 bits)
    val r = new scala.util.Random(3)
    val base = (0 until 800).map(_ =>
      (0 until 5).map(_ => ('a' + r.nextInt(26)).toChar).mkString)
    val near = base.updated(400, "zzzzz")
    val far = base.reverseIterator.map(_.reverse).toSeq
    val docs = Seq((1L, base.mkString(" ")), (2L, near.mkString(" ")),
      (3L, far.mkString(" "))).toDF("id", "text")
    val got = Dedup.simhashNearDup(docs, "id", "text", maxHamming = 3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)))
    assert(!got.contains((1L, 3L)))
  }

  test("jaccard_sorted merge kernel ≡ set-form jaccard on sorted-distinct arrays") {
    val r = new scala.util.Random(7)
    val words = (0 until 40).map(i => s"w$i")
    val rows = (0 until 200).map { i =>
      val a = r.shuffle(words).take(1 + r.nextInt(20)).distinct
      val b = r.shuffle(words).take(1 + r.nextInt(20)).distinct
      (i.toLong, a, b)
    } :+ (999L, Seq.empty[String], Seq.empty[String]) // empty-empty → 1.0
    val df = rows.toDF("id", "a", "b")
      .select($"id", array_sort($"a").as("a"), array_sort($"b").as("b"))
    val cmp = df.select(
        graft.functions.GraftFunctions.jaccard_sorted($"a", $"b").as("fast"),
        Dedup.jaccard($"a", $"b").as("ref"))
      .where($"fast" =!= $"ref")
    assert(cmp.count() == 0)
  }

  test("ngram jaccard pairs: thresholds and block locality") {
    val docs = Seq(
      (1L, "a", "the quick brown fox jumps over the lazy dog"),
      (2L, "a", "the quick brown fox jumps over the lazy cat"),
      (3L, "a", "entirely unrelated words about query planning"),
      (4L, "b", "the quick brown fox jumps over the lazy dog") // other block
    ).toDF("id", "blk", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, "id", "text", Seq("blk"), n = 1, tau = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L))) // 3 below tau; 4 in another block
  }

  test("repetition stats: boilerplate scores high, varied prose low") {
    val docs = Seq(
      (1L, "buy now buy now buy now buy now buy now"), // one bigram dominates
      (2L, "the quick brown fox jumps over the lazy sleeping dog today")
    ).toDF("id", "text")
    val got = TextStats.repetitionStats(docs, "id", "text")
      .select($"id", $"top_bigram_frac", $"dup_trigram_frac")
      .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L)._1 > 0.5) // "now buy"/"buy now" dominate
    assert(got(1L)._2 > 0.8) // trigrams repeat heavily
    assert(got(2L)._1 < 0.2 && got(2L)._2 == 0.0)
  }

  test("shingle novelty: copies of earlier docs score near zero") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base), // owner of everything
      (2L, base), // verbatim copy → novelty 0
      (3L, (100 to 140).map(i => s"tok$i").mkString(" ")) // disjoint → novelty 1
    ).toDF("id", "text")
    val got = Dedup.shingleNovelty(docs, "id", "text", n = 5)
      .select($"id", $"novel_frac").as[(Long, Double)].collect().toMap
    assert(got(1L) == 1.0)
    assert(got(2L) == 0.0)
    assert(got(3L) == 1.0)
  }

  test("planted hot key: salted self-join bounds per-task rows, full coverage") {
    val n = 2000
    val cap = 64
    // one pathological block key holding every row — the quadratic-hot-bucket
    // failure mode the triangle salting exists to defuse
    val entries = spark.range(n).select(lit(7L).as("block_key"), $"id")
    val pairs = graft.blocking.Blocking.saltedSelfJoinPairs(entries, cap, maxBlock = 0)
    // 100% pair coverage despite the salting
    assert(pairs.count() == n.toLong * (n - 1) / 2)
    // a join task co-joins one (block_key, bucket) group: bounded by ~2·cap
    // (hash-salt variance allowed for, never the unsalted n=2000)
    val maxBucket = graft.blocking.Blocking.saltedBuckets(entries, cap, maxBlock = 0)
      .groupBy("block_key", "bucket").count()
      .agg(max("count")).as[Long].collect()(0)
    assert(maxBucket <= 3L * cap, s"hot bucket holds $maxBucket rows (cap=$cap)")
    // dropping path: maxBlock excises the block entirely, never partially
    val dropped = graft.blocking.Blocking.saltedSelfJoinPairs(entries, cap, maxBlock = n - 1)
    assert(dropped.count() == 0)
  }

  test("embedding near-dup: dense SRP bucket is salted (bounded per-task rows)") {
    val n = 600
    val cap = 64
    // identical-direction vectors: every row lands in the SAME SRP bucket —
    // the guaranteed-at-web-scale dense-cluster case
    val df = (0 until n).map(i => (i.toLong, Array.tabulate(8)(j => (j + 1).toFloat)))
      .toDF("id", "v")
    val entries = Dedup.embeddingEntries(df, "id", "v", nBits = 8, seed = 42L)
    val maxBucket = graft.blocking.Blocking.saltedBuckets(entries, cap, maxBlock = 0)
      .groupBy("block_key", "bucket").count()
      .agg(max("count")).as[Long].collect()(0)
    assert(maxBucket <= 3L * cap, s"dense bucket co-joins $maxBucket rows (cap=$cap)")
    // and full pair coverage survives the salting (identical vectors: cos=1)
    val pairs = Dedup.embeddingNearDup(df, "id", "v", tau = 0.99, nBits = 8, cap = cap)
    assert(pairs.count() == n.toLong * (n - 1) / 2)
  }

  test("ngram jaccard: empty blockCols = all-pairs mode, still salted") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "entirely unrelated words about query planning")
    ).toDF("id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, "id", "text", Nil, n = 1, tau = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("embedding near-dup: brute and LSH-bucketed agree on high-sim pairs") {
    val vecs = (0 until 60).map { i =>
      val base = Array.tabulate(16)(j => math.sin(i * 0.7 + j).toFloat)
      (i.toLong, base)
    } ++ Seq((100L, Array.fill(16)(0.5f)), (101L, Array.fill(16)(0.50001f)))
    val df = vecs.toDF("id", "v")
    val brute = Dedup.embeddingNearDup(df, "id", "v", tau = 0.999, nBits = 0)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val lsh = Dedup.embeddingNearDup(df, "id", "v", tau = 0.999, nBits = 8)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(brute.contains((100L, 101L)))
    assert(lsh.contains((100L, 101L))) // identical-direction vectors share every SRP bucket
    assert(lsh.subsetOf(brute)) // LSH never invents pairs, only misses
  }

  test("langid picks the language with most marker hits") {
    val df = Seq(
      "the cat and the dog is here",
      "der hund und die katze ist hier",
      "el perro es grande la casa",
      "xyzzy plugh nothing matches here").toDF("text")
    val got = df.select(TextStats.langId($"text")).as[String].collect().toSeq
    assert(got == Seq("en", "de", "es", "und"))
  }

  test("subword count: words + digit runs + punctuation marks") {
    // "ab 12cd!" → 2 words + 1 digit run + 1 punct = 4
    val got = Seq("ab 12cd!", "plain words only", "v2.0 x9")
      .toDF("text").select(TextStats.subwordCount($"text")).as[Int].collect().toSeq
    assert(got == Seq(4, 3, 2 + 3 + 1)) // "v2.0 x9": 2 words + 3 digit runs + '.'
  }

  test("quality score: longer clean prose beats short punct-heavy text") {
    val good = ("the quick brown fox and the lazy dog " * 3).trim
    val bad = "!!! ??? ### $$$ %%%"
    val df = Seq(good, bad).toDF("text")
    val Seq(qGood, qBad) = df.select(TextStats.qualityScore($"text")).as[Double].collect().toSeq
    assert(qGood > qBad)
    assert(qGood >= 0.0 && qGood <= 1.0 && qBad >= 0.0 && qBad <= 1.0)
  }

  test("fingerprint is token-order and duplication insensitive") {
    val df = Seq("alpha beta gamma", "gamma beta alpha alpha", "alpha beta delta")
      .toDF("text")
    val fps = df.select(TextStats.fingerprint($"text")).as[String].collect()
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2))
  }
}

/** Shared 2k-page fixture for operator tests (computed once, cached). */
object Fixture2k {
  lazy val pt = graft.fixtures.Fixture.pagesWithTruth(TestSpark.spark, 2000).cache()
}
