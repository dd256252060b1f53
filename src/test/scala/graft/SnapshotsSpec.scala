package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import graft.lineage.{SnapshotStore, Snapshots}

class SnapshotsSpec extends SparkSpec {

  test("concurrent manifest writers: one writer's content survives, no temp file left") {
    val dir = tempDir("manifest-race")
    val path = dir.resolve("stage").resolve("manifest.json").toString
    val writers = 8
    def fields(w: Int) = Map("stage" -> s"writer$w", "fingerprint" -> s"fp$w", "status" -> "complete")
    def counters(w: Int) = (0 until 200).map(k => s"c$k" -> (w * 1000L + k)).toMap
    def partitions(w: Int) = (0 until 50).map(p => (p, w * 100L + p))
    val pool = Executors.newFixedThreadPool(writers)
    val start = new CountDownLatch(1)
    try {
      val done = (0 until writers).map { w =>
        pool.submit(new Runnable {
          def run(): Unit = {
            start.await()
            (0 until 20).foreach(_ => Snapshots.writeManifest(path, fields(w), counters(w), partitions(w)))
          }
        })
      }
      start.countDown()
      done.foreach(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdownNow()

    val stage = Snapshots.readManifestField(path, "stage")
    val w = stage.map(_.stripPrefix("writer").toInt)
    assert(w.exists(i => i >= 0 && i < writers), s"unparseable manifest stage $stage")
    val expected = tempDir("manifest-one").resolve("manifest.json").toString
    Snapshots.writeManifest(expected, fields(w.get), counters(w.get), partitions(w.get))
    assert(Files.readString(Paths.get(path)) == Files.readString(Paths.get(expected)),
      "the manifest mixes several writers' content")
    val leftovers = Files.list(Paths.get(path).getParent).toArray.map(_.toString)
      .filter(_.endsWith(".tmp"))
    assert(leftovers.isEmpty, s"temp files left: ${leftovers.mkString(", ")}")
  }

  test("counter reads only the counters object, never the partition list") {
    val root = tempDir("manifest-counter")
    Snapshots.writeManifest(root.resolve("stage").resolve("manifest.json").toString,
      Map("stage" -> "stage", "status" -> "complete"), Map("blocks_built" -> 7L),
      Seq((0, 41L), (1, 42L)))
    val store = new SnapshotStore(spark, root.toString, resume = true)
    assert(store.counter("stage", "blocks_built").contains(7L))
    assert(store.counter("stage", "rows").isEmpty,
      "a key missing from counters must not be read from the partition list")
    assert(store.counters("stage") == Map("blocks_built" -> 7L))
  }
}
