package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.Streams

/** Structured Streaming surface: the same transforms run as a stream (memory
  * sink, parquet source) and as a batch frame — results must agree. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val batchEvents = graft.core.Tables(spark, dir, "events")

  /** FileStreamSource needs a directory; stage the single parquet file. */
  private lazy val streamDir: String = {
    val d = tempDir("stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  test("windowed aggregation: streaming result equals batch result") {
    val schema = batchEvents.schema
    val stream = spark.readStream.schema(schema).parquet(streamDir)
    val q = Streams.windowedAgg(stream).writeStream
      .outputMode("append")
      .format("memory").queryName("win_agg")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    // double sums are order-sensitive across partitionings: compare rounded
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"bucket", $"event_type", $"n", round($"total", 6).as("total"))
    val streamed = canon(spark.table("win_agg"))
    val batch = canon(Streams.windowedAgg(batchEvents))
    assert(streamed.count() > 0)
    // every emitted window matches batch exactly
    assert(streamed.exceptAll(batch).count() == 0)
    // append mode withholds windows still inside the watermark horizon:
    // anything batch-only must sit within (watermark + window) of max ts
    val maxTs = batchEvents.agg(max($"ts".cast("timestamp"))).collect()(0).getTimestamp(0)
    val cutoff = new java.sql.Timestamp(maxTs.getTime - (2 + 1) * 3600 * 1000L)
    val missingEarly = batch.exceptAll(streamed).where($"bucket" < cutoff)
    assert(missingEarly.count() == 0)
  }

  test("dedup within watermark: stream drops duplicate event ids") {
    val schema = batchEvents.schema
    val stream = spark.readStream.schema(schema).parquet(streamDir)
    val doubled = stream.union(stream) // duplicate every event
    val q = Streams.dedupWithinWatermark(doubled).writeStream
      .outputMode("append")
      .format("memory").queryName("dedup_stream")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    assert(spark.table("dedup_stream").count() == batchEvents.count())
  }

  test("sessionization state spans micro-batches: exactly-once, never split") {
    import java.nio.file.{Files, Paths}
    val d = tempDir("sess-stream")
    def writeChunk(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = tempDir("sess-chunk").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(d.toString, name))
    }
    // two time-ordered drops: open sessions at the cut MUST span micro-batches
    val med = batchEvents.select(unix_millis($"ts".cast("timestamp")).as("ms"))
      .stat.approxQuantile("ms", Array(0.5), 0.0)(0).toLong
    writeChunk(batchEvents.where(unix_millis($"ts".cast("timestamp")) <= med), "000.parquet")
    writeChunk(batchEvents.where(unix_millis($"ts".cast("timestamp")) > med), "001.parquet")
    // sentinel batches for a dummy user push the watermark past every real
    // session close (+4h, +5h against a 2h watermark and 30-min gap), so all
    // real sessions emit via state timeout before the stream drains
    val maxTs = batchEvents.agg(max($"ts".cast("timestamp"))).collect()(0).getTimestamp(0)
    def sentinel(offsetH: Int, name: String): Unit = {
      val ts = new java.sql.Timestamp(maxTs.getTime + offsetH * 3600 * 1000L)
      writeChunk(
        Seq((9000000L + offsetH, ts, 999999L, "sentinel", 0.0))
          .toDF("event_id", "ts", "user_id", "event_type", "value")
          .select($"event_id", $"ts".cast("timestamp_ntz").as("ts"), $"user_id",
            $"event_type", $"value"),
        name)
    }
    sentinel(4, "002.parquet")
    sentinel(5, "003.parquet")

    val stream = spark.readStream.schema(batchEvents.schema)
      .option("maxFilesPerTrigger", 1).parquet(d.toString)
    val q = Streams.sessionize(spark, stream.as[Streams.Event]).writeStream
      .outputMode("append")
      .format("memory").queryName("sess_stream")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("sess_stream").where($"user_id" =!= 999999L)
    val expected = Streams.sessionize(spark, batchEvents.as[Streams.Event]).toDF()
    // exact set equality with the batch answer: a session split across the
    // micro-batch boundary or emitted twice would break it
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(got).count() == 0)
  }

  test("streaming ingest: two-chunk page stream builds the identical block table") {
    import java.nio.file.{Files, Paths}
    val pages = graft.fixtures.Fixture.pages(spark, 500).toDF().cache()
    val d = tempDir("ingest-stream")
    def writeChunk(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = tempDir("ingest-chunk").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(d.toString, name))
    }
    // two drops with a 100-page overlap: the cross-batch duplicate urls MUST
    // be deduped by the streaming state, not re-emitted
    val first = pages.where(xxhash64($"url") % 2 === 0)
    val second = pages.where(xxhash64($"url") % 2 =!= 0)
    val overlap = first.limit(100)
    writeChunk(first, "000.parquet")
    writeChunk(second.unionByName(overlap), "001.parquet")

    val stream = spark.readStream.schema(pages.schema)
      .option("maxFilesPerTrigger", 1).parquet(d.toString)
    val q = Streams.ingestBlockTable(stream).writeStream
      .outputMode("append")
      .format("memory").queryName("ingest_blocks")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("ingest_blocks")
    val batch = Streams.ingestBlockTable(pages)
    // identical block table: same (block_key, id) multiset — a page deduped
    // wrongly (missing or doubled) breaks multiset equality
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("incremental ingest: batches score only new-page pairs; union equals the one-shot run") {
    import graft.blocking.Blocking
    import graft.scoring.Scoring
    val cfg = Blocking.Config()
    val w = Scoring.Weights()
    val pages = graft.fixtures.Fixture.pages(spark, 1000).toDF().cache()
    val chunk1 = pages.where(xxhash64($"url") % 2 === 0).cache()
    val chunk2 = pages.where(xxhash64($"url") % 2 =!= 0).cache()
    // accumulated state after each ingest batch (what the scheduled job reads)
    val proj1 = Scoring.projected(chunk1).localCheckpoint()
    val projAll = Scoring.projected(pages).localCheckpoint()
    val blocks1 = Blocking.blockTableFromProjected(proj1, cfg).localCheckpoint()
    val blocksAll = Blocking.blockTableFromProjected(projAll, cfg).localCheckpoint()

    // batch 1: every page is new; batch 2: only chunk-2 ids are new
    val pairs1 = Blocking.deltaPairs(blocks1, proj1.select("id"), cfg).cache()
    val ids2 = Scoring.projected(chunk2).select("id")
    val pairs2 = Blocking.deltaPairs(blocksAll, ids2, cfg).cache()

    // old×old pairs are NEVER generated by the delta join
    val oldIds = proj1.select("id")
    val oldOld = pairs2
      .join(oldIds.select($"id".as("id1")), Seq("id1"), "left_semi")
      .join(oldIds.select($"id".as("id2")), Seq("id2"), "left_semi")
    assert(oldOld.count() == 0, "delta join re-emitted an old×old pair")

    // batches are disjoint and their union IS the one-shot candidate set
    assert(pairs1.intersect(pairs2).count() == 0)
    val union = pairs1.unionByName(pairs2)
    val oneShot = Blocking.candidatePairs(blocksAll, cfg)
    assert(union.exceptAll(oneShot).count() == 0)
    assert(oneShot.exceptAll(union).count() == 0)

    // end-to-end: scoring each batch's delta pairs with the attrs available
    // at that batch, then clustering the accumulated edges, reproduces the
    // one-shot clusters exactly (average composition attrs are per-page, so
    // batch-1 scores never change once emitted)
    val attrs1 = Scoring.attrsFromProjected(spark, proj1)
    val attrsAll = Scoring.attrsFromProjected(spark, projAll)
    def edgesOf(p: org.apache.spark.sql.DataFrame, a: org.apache.spark.sql.Dataset[graft.core.ScoreAttrs]) =
      Scoring.score(spark, p, a, w).toDF().where($"score" >= w.threshold)
        .select($"id1".as("src"), $"id2".as("dst"))
    // each scheduled batch materializes its own edges (also dodges the
    // duplicate observe() metric a single union plan would carry)
    val allEdges = edgesOf(pairs1, attrs1).localCheckpoint()
      .unionByName(edgesOf(pairs2, attrsAll).localCheckpoint())
    val idUrl = attrsAll.toDF().select($"id".as("node"), $"url")
    val cc = graft.clustering.ConnectedComponents.run(spark, allEdges.localCheckpoint(),
      nodes = Some(idUrl.select("node")))
    val incClusters = cc.assignments.join(idUrl, "node")
      .groupBy("root").agg(min("url").as("cluster_id"), collect_set("url").as("members"))
      .select(explode($"members").as("url"), $"cluster_id")
    val oneShotClusters = graft.pipeline.Linkage.runLight(spark, pages)
    assert(incClusters.exceptAll(oneShotClusters).count() == 0)
    assert(oneShotClusters.exceptAll(incClusters).count() == 0)
  }

  test("stateful sessionization groups events by 30-min gaps") {
    val events = batchEvents.as[Streams.Event]
    val sessions = Streams.sessionize(spark, events).cache()
    // every user's events are covered, session bounds ordered
    assert(sessions.where($"session_end" < $"session_start").count() == 0)
    val eventsPerUser = batchEvents.groupBy("user_id").count()
    val sessionEventsPerUser = sessions.groupBy("user_id")
      .agg(sum("n_events").as("n"))
    val mismatch = eventsPerUser.join(sessionEventsPerUser, "user_id")
      .where($"count" =!= $"n")
    assert(mismatch.count() == 0)
    // matches the SQL-window sessionization used in q31
    val q31 = graft.Queries.q31_sessionize(spark, dir)
    val fromState = sessions.groupBy("user_id").count()
      .groupBy("count").agg(count(lit(1)).as("n_users"))
      .select($"count".as("n_sessions"), $"n_users")
    assert(q31.exceptAll(fromState).count() == 0)
    assert(fromState.exceptAll(q31).count() == 0)
  }

  test("streaming two-table ingest: right-catalog stream of chunks produces matches ≡ one-shot") {
    import java.nio.file.{Files, Paths}
    import graft.blocking.Blocking
    import graft.core.ScoreAttrs
    import graft.scoring.Scoring
    val cfg = Blocking.Config()
    val w = Scoring.Weights()
    // stable LEFT catalog (canonical pages) vs a RIGHT catalog (duplicate
    // copies) arriving as a real file stream — the round-5 VERDICT stretch
    val pt = graft.fixtures.Fixture.pagesWithTruth(spark, 23L * 60).cache()
    val left = pt.where($"url".endsWith("/c0")).drop("entity_id").cache()
    val right = pt.where(!$"url".endsWith("/c0")).drop("entity_id").cache()
    val projL = Scoring.projected(left).localCheckpoint()
    val projR = Scoring.projected(right).localCheckpoint()
    val blocksL = Blocking.blockTableFromProjected(projL, cfg).localCheckpoint()
    // Average composition: a page's attrs are corpus-independent, so attrs
    // computed once equal every batch's accumulated-time attrs
    val attrsL = Scoring.attrsWithIdf(spark, projL, Map.empty)
      .toDF().localCheckpoint().as[ScoreAttrs]
    val attrsR = Scoring.attrsWithIdf(spark, projR, Map.empty)
      .toDF().localCheckpoint().as[ScoreAttrs]

    val d = tempDir("tt-stream")
    def writeChunk(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = tempDir("tt-chunk").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(d.toString, name))
    }
    // two drops with a 50-page duplicate-url overlap: the within-watermark
    // dedup must absorb it, or the overlap pages re-pair in batch 2 and the
    // per-batch disjointness assertion below fails
    val first = right.where(xxhash64($"url") % 2 === 0)
    val second = right.where(xxhash64($"url") % 2 =!= 0)
    writeChunk(first, "000.parquet")
    writeChunk(second.unionByName(first.limit(50)), "001.parquet")

    // foreachBatch IS the deployment shape: each micro-batch appends its NEW
    // block entries to the accumulated right table, then emits that batch's
    // delta matches — old×old never re-joined (newIdsLeft stays empty: the
    // left catalog is stable)
    val noNewLeft = blocksL.select("id").limit(0).localCheckpoint()
    var accumBlocksR: org.apache.spark.sql.DataFrame = null
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[Set[(String, String)]]
    val stream = spark.readStream.schema(right.schema)
      .option("maxFilesPerTrigger", 1).parquet(d.toString)
    val q = Streams.ingestBlockTable(stream).writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.localCheckpoint()
        if (b.count() > 0) {
          val newIds = b.select("id").distinct().localCheckpoint()
          accumBlocksR = (if (accumBlocksR == null) b
                          else accumBlocksR.unionByName(b)).localCheckpoint()
          val m = Streams.twoTableDeltaMatches(spark, blocksL, accumBlocksR,
            noNewLeft, newIds, attrsL, attrsR, w, cfg)
          perBatch += m.select("url1", "url2").collect()
            .map(r => (r.getString(0), r.getString(1))).toSet
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()

    assert(perBatch.size == 2, s"expected 2 micro-batches, saw ${perBatch.size}")
    // per-batch emissions are FINAL and disjoint (nothing re-emitted)
    assert(perBatch(0).intersect(perBatch(1)).isEmpty,
      "batch 2 re-emitted a batch-1 match — dedup or delta coverage broken")
    // union over batches ≡ the one-shot two-table run on the final catalogs
    val streamed = perBatch.reduce(_ ++ _)
    val oneShot = graft.pipeline.Linkage.runTwoTable(spark, left, right)
      .select("url1", "url2").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(streamed == oneShot,
      s"streamed matches (${streamed.size}) differ from one-shot (${oneShot.size})")
  }
}
