package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.eval.Eval
import graft.fixtures.Fixture
import graft.lineage.SnapshotStore
import graft.pipeline.Linkage

/** The correctness gate (BASELINE.md): full 3-stage run on 10k synthetic
  * pages, pairwise F1 ≥ 0.99 vs labeled pairs, byte-identity invariant,
  * kill/resume equivalence. */
class EndToEndSpec extends SparkSpec {
  import spark.implicits._

  private val n = 10000L
  private lazy val workDir = tempDir("e2e").toString
  private lazy val pt = Fixture.pagesWithTruth(spark, n).cache()
  private lazy val pages = pt.drop("entity_id").cache()
  private lazy val labeled = Fixture.labeledPairs(spark, pt).cache()
  private lazy val result = Linkage.run(spark, pages, Linkage.Config(workDir = workDir))

  test("pairwise F1 >= 0.99 on labeled pairs (north-rule gate)") {
    val m = Eval.pairwise(result.clusters, labeled)
    info(s"tp=${m.tp} fp=${m.fp} fn=${m.fn} tn=${m.tn} " +
      f"P=${m.precision}%.4f R=${m.recall}%.4f F1=${m.f1}%.4f")
    assert(m.f1 >= 0.99, s"F1 ${m.f1} below gate")
  }

  test("clusters match planted entities exactly (stronger than the gate)") {
    val truth = pt.select($"url", $"entity_id")
    val joined = result.clusters.join(truth, "url")
    // every cluster maps to exactly one entity and vice versa
    assert(joined.groupBy("cluster_id").agg(countDistinct("entity_id").as("d"))
      .where($"d" > 1).count() == 0)
    assert(joined.groupBy("entity_id").agg(countDistinct("cluster_id").as("d"))
      .where($"d" > 1).count() == 0)
  }

  test("per-row invariant: text sha unchanged through the run") {
    result.clusters.count() // force pipeline
    val store = new SnapshotStore(spark, workDir, resume = true)
    val recorded = store.counter("ingest", "sha_sum")
    val now = pages.agg(expr("bit_xor(xxhash64(sha2(text, 256)))")).as[Long].collect()(0)
    assert(recorded.contains(now))
  }

  test("lineage counters present and plausible") {
    result.clusters.count()
    val store = new SnapshotStore(spark, workDir, resume = true)
    assert(store.counter("blocks", "blocks_built").exists(_ > 0))
    assert(store.counter("scored", "pairs_scored").exists(_ > 0))
    // one meaning in both staged pipelines: candidates evaluated by phase 1
    assert(store.counter("scored", "pairs_scored") == store.counter("pairs", "rows"))
    assert(store.counter("clusters", "merges_applied").isDefined)
    assert(store.counter("blocks", "blocks_dropped").contains(0L))
  }

  test("in-memory and staged self-linkage agree: clusters, pairs_scored == pairs.rows") {
    val acc = spark.sparkContext.longAccumulator("light_pairs_scored")
    val light = Linkage.runLight(spark, pages, pairsScored = Some(acc))
      .orderBy("url").collect()
    val staged = result.clusters.orderBy("url").collect()
    assert(light.length == n)
    assert(light.sameElements(staged), "runLight clusters differ from run clusters")
    assert(result.counters.get("pairs.rows").contains(acc.value.longValue),
      s"runLight pairs_scored ${acc.value} vs run pairs.rows ${result.counters.get("pairs.rows")}")
  }

  test("resume: a rerun recomputes nothing and yields identical clusters") {
    val before = result.clusters.orderBy("url").collect()
    val resumed = Linkage.run(spark, pages,
      Linkage.Config(workDir = workDir, resume = true))
    assert(resumed.resumedStages ==
      Seq("projected", "attrs", "blocks", "pairs", "scored", "clusters"))
    assert(resumed.clusters.orderBy("url").collect().sameElements(before))
  }

  test("resume is scan-free: zero data rows read until an action on the result (counter-carried guard)") {
    result.clusters.count() // ensure the workdir is complete
    // a resume still runs small parquet FOOTER jobs (schema inference per
    // snapshot read) — the claim is no DATA scan: round 4 paid a full
    // count+countDistinct aggregate over the attrs snapshot per rerun; the
    // guard now reads manifest counters
    val rowsRead = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        rowsRead.addAndGet(sc.stageInfo.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val resumed = Linkage.run(spark, pages,
        Linkage.Config(workDir = workDir, resume = true))
      assert(resumed.resumedStages.size == 6)
      Thread.sleep(1000) // let in-flight stage-completed events drain
      assert(rowsRead.get() == 0L,
        s"resume read ${rowsRead.get()} data rows; the id guard must read manifest counters, not re-scan")
      assert(resumed.counters.get("attrs.distinct_ids").exists(_ > 0))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("id-uniqueness guard fires on duplicated input urls (from stage counters)") {
    val dir = tempDir("e2e-dup").toString
    val small = pages.limit(200).cache()
    small.count() // pin the limit's choice — the union must truly duplicate
    val dup = small.unionAll(small)
    val e = intercept[IllegalArgumentException] {
      Linkage.run(spark, dup, Linkage.Config(workDir = dir))
    }
    assert(e.getMessage.contains("duplicate page id"), e.getMessage)
  }

  test("kill/resume: only missing stages recompute after partial run") {
    val dir2 = tempDir("e2e-partial").toString
    val cfg = Linkage.Config(workDir = dir2)
    // simulate a killed run: copy completed early stages only
    val full = new java.io.File(workDir)
    for (stage <- Seq("ingest", "projected", "attrs", "blocks")) {
      val src = new java.io.File(full, stage)
      val dst = new java.io.File(dir2, stage)
      org.apache.commons.io.FileUtils.copyDirectory(src, dst)
    }
    val resumed = Linkage.run(spark, pages, cfg.copy(resume = true))
    assert(resumed.resumedStages == Seq("projected", "attrs", "blocks"))
    val m = Eval.pairwise(resumed.clusters, labeled)
    assert(m.f1 >= 0.99)
  }

  test("resume without the ingest manifest: projected recomputes, ingest counters identical") {
    result.clusters.count()
    val dir = tempDir("e2e-noingest").toString
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(workDir), new java.io.File(dir))
    Files.delete(java.nio.file.Paths.get(s"$dir/ingest/manifest.json"))
    // a kill between projected's manifest and ingest's leaves exactly this
    // work dir: the projected stage must not resume over an unrecorded input
    val resumed = Linkage.run(spark, pages, Linkage.Config(workDir = dir, resume = true))
    assert(resumed.resumedStages == Seq("attrs", "blocks", "pairs", "scored", "clusters"),
      s"got ${resumed.resumedStages}")
    def ingest(c: Map[String, Long]) = c.filter(_._1.startsWith("ingest."))
    assert(ingest(resumed.counters).keySet == Set("ingest.rows", "ingest.sha_sum"))
    assert(ingest(resumed.counters) == ingest(result.counters))
    val (now, before) = (new SnapshotStore(spark, dir, resume = true),
      new SnapshotStore(spark, workDir, resume = true))
    for (stage <- Seq("ingest", "projected"))
      assert(now.counters(stage) == before.counters(stage), stage)
  }

  test("counter-less attrs manifest: the id guard fails, naming the missing counter") {
    result.clusters.count()
    val dir = tempDir("e2e-counterless").toString
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(workDir), new java.io.File(dir))
    val store = new SnapshotStore(spark, dir, resume = true)
    val manifestPath = s"$dir/attrs/manifest.json"
    val attrsCounters = store.counters("attrs")
    def stripCounters(keys: Set[String]): Unit = {
      val fields = Seq("stage", "fingerprint", "status", "format")
        .flatMap(k => graft.lineage.Snapshots.readManifestField(manifestPath, k)
          .map(k -> _)).toMap
      graft.lineage.Snapshots.writeManifest(manifestPath, fields,
        attrsCounters -- keys, Seq.empty)
    }
    def resumeFails(): String = intercept[IllegalArgumentException] {
      Linkage.run(spark, pages, Linkage.Config(workDir = dir, resume = true))
    }.getMessage
    // 1) a complete manifest without distinct_ids: the guard cannot run, so
    // the resume refuses instead of silently skipping it
    stripCounters(Set("distinct_ids"))
    assert(store.counter("attrs", "distinct_ids").isEmpty)
    val e1 = resumeFails()
    assert(e1.contains("distinct_ids") && !e1.contains("rows"), e1)
    // 2) doctored snapshot (one duplicated row) under a manifest stripped of
    // both counters: the resume throws, naming both missing counters
    val attrsPath = s"$dir/attrs/data.parquet"
    val attrsDf = spark.read.parquet(attrsPath)
    val doctoredRows = attrsDf.unionByName(attrsDf.limit(1)).collect()
    val tmpOut = tempDir("e2e-doctor").toString
    spark.createDataFrame(
        spark.sparkContext.parallelize(doctoredRows.toIndexedSeq), attrsDf.schema)
      .write.mode("overwrite").parquet(tmpOut)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(attrsPath))
    org.apache.commons.io.FileUtils.moveDirectory(
      new java.io.File(tmpOut), new java.io.File(attrsPath))
    stripCounters(Set("distinct_ids", "rows"))
    val e2 = resumeFails()
    assert(e2.contains("rows") && e2.contains("distinct_ids"), e2)
  }

  test("re-threshold resume: data stages incl. the pair join resume; only scoring/clustering recompute") {
    // the deployment tuning loop: same corpus, different weights/threshold.
    // Data stages key on the weights-INDEPENDENT fingerprint, so everything
    // up to the expensive pair join resumes; at 100 TB that is a scoring
    // pass instead of a full recompute. (Copied workdir: the new scored/
    // clusters snapshots must not clobber the sibling tests' manifests.)
    result.clusters.count()
    val dir3 = tempDir("e2e-rethresh").toString
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(workDir), new java.io.File(dir3))
    val strict = Linkage.run(spark, pages, Linkage.Config(workDir = dir3,
      resume = true,
      weights = graft.scoring.Scoring.Weights(threshold = 0.999)))
    assert(strict.resumedStages == Seq("projected", "attrs", "blocks", "pairs"),
      s"got ${strict.resumedStages}")
    // the stricter threshold really re-clustered: only saturated near-exact
    // copies stay linked, so the cluster count rises well above the default
    // run's — proof that scored/clusters recomputed under the new weights
    val nDefault = result.clusters.select("cluster_id").distinct().count()
    val nStrict = strict.clusters.select("cluster_id").distinct().count()
    assert(nStrict > nDefault + 1000,
      s"strict threshold produced $nStrict clusters vs default $nDefault — scored/clusters not recomputed?")
  }
}
