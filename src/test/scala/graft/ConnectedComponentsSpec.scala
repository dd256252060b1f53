package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame

import graft.clustering.ConnectedComponents
import graft.lineage.SnapshotStore

/** A 128-bit page id as the pipeline clusters it: struct<hi, lo>. */
case class CcId(hi: Long, lo: Long)

/** Every union-find case runs twelve ways: finished in the driver before
  * any round, by distributed rounds only, or by rounds and then in the
  * driver; each staged and in memory, with string ids and with
  * struct<hi,lo> ids. */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** Staged rounds: snapshot stages of a store in `dir`. */
  private def staged(dir: String, resume: Boolean = false): Option[ConnectedComponents.Stage] = {
    val store = new SnapshotStore(spark, dir, resume)
    Some((name, observed) => df => store.stage(name, "fp", observed = observed)(df))
  }

  /** Driver-side union-find oracle. */
  private def oracle(edges: Seq[(String, String)], nodes: Seq[String]): Map[String, String] = {
    val parent = scala.collection.mutable.Map[String, String]()
    def find(x: String): String = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: String, b: String): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    edges.foreach { case (a, b) => union(a, b) }
    // normalize: component id = min member
    val all = (nodes ++ edges.flatMap(e => Seq(e._1, e._2))).distinct
    val byRoot = all.groupBy(find)
    byRoot.flatMap { case (_, members) =>
      val m = members.min
      members.map(_ -> m)
    }.toMap
  }

  /** One way of running a case. */
  private case class Way(finish: String, staged: Boolean, structIds: Boolean) {
    override def toString = s"$finish/${if (staged) "staged" else "in-memory"}/" +
      (if (structIds) "struct" else "string")
  }

  private val ways = for {
    finish <- Seq("local", "rounds", "rounds+local")
    staged <- Seq(true, false)
    structIds <- Seq(false, true)
  } yield Way(finish, staged, structIds)

  /** Struct ids in the order of the string ids they stand for: `hi` spans
    * negative and positive values, and the two ids sharing a `hi` differ
    * only in the sign of `lo`, so only a signed, field-by-field ordering
    * keeps the strings' minimum the root. */
  private def structIds(universe: Seq[String]): Map[String, CcId] = {
    val sorted = universe.distinct.sorted
    sorted.indices.map { r =>
      val k = r - sorted.size / 2
      sorted(r) -> CcId(Math.floorDiv(k, 2), if (Math.floorMod(k, 2) == 0) Long.MinValue else Long.MaxValue)
    }.toMap
  }

  /** Runs `edges` every way. Each way's string assignments come with its
    * result; its iteration count and unions are checked against the
    * oracle's forest: none before any round, at least one round when
    * rounds are forced, and rounds and then the driver skip the
    * confirm-only round that rounds alone run. */
  private def everyWay(edges: Seq[(String, String)], nodes: Option[Seq[String]] = None)
      : Seq[(Way, Map[String, String], ConnectedComponents.Result)] = {
    val expected = oracle(edges, nodes.getOrElse(Nil))
    val forest = expected.count { case (n, r) => n != r }
    val hasEdges = edges.exists { case (a, b) => a != b }
    val runs = ways.map { way =>
      // rounds then the driver: each edge in both orientations, so the input
      // exceeds the forest and at least one round runs before it fits
      val (input, bound) = way.finish match {
        case "local" => (edges, ConnectedComponents.LocalFinishRows)
        case "rounds" => (edges, -1)
        case "rounds+local" => (edges ++ edges.map(_.swap), forest)
      }
      val ids = structIds(edges.flatMap(e => Seq(e._1, e._2)) ++ nodes.getOrElse(Nil))
      val name = ids.map(_.swap)
      val (e, n) =
        if (way.structIds) (input.map { case (a, b) => (ids(a), ids(b)) }.toDF("src", "dst"),
          nodes.map(_.map(i => Tuple1(ids(i))).toDF("node")))
        else (input.toDF("src", "dst"), nodes.map(_.toDF("node")))
      val res = ConnectedComponents.run(spark, e, n, maxIter = 30,
        stage = if (way.staged) staged(tempDir("cc").toString) else None, localFinishRows = bound)
      val got =
        if (way.structIds) res.assignments.as[(CcId, CcId)].collect().map { case (a, b) => name(a) -> name(b) }
        else res.assignments.as[(String, String)].collect()
      (way, got.toMap, res)
    }
    runs.foreach { case (way, _, res) =>
      assert(res.mergesApplied == forest, s"$way: ${res.mergesApplied} merges, forest $forest")
      way.finish match {
        case "local" => assert(res.iterations == 0, way)
        case _ => assert(res.iterations >= (if (hasEdges) 1 else 0), way)
      }
    }
    for ((w, _, rtl) <- runs if w.finish == "rounds+local") {
      val rounds = runs.collectFirst { case (v, _, r) if v == w.copy(finish = "rounds") => r }.get
      assert(rtl.iterations < rounds.iterations || rounds.iterations <= 1,
        s"$w ran ${rtl.iterations} rounds, rounds alone ${rounds.iterations}")
    }
    runs
  }

  private def cc(edges: Seq[(String, String)], nodes: Option[Seq[String]] = None)
      : Seq[(Way, Map[String, String])] =
    everyWay(edges, nodes).map { case (w, got, _) => (w, got) }

  test("chain collapses to min") {
    for ((way, got) <- cc(Seq(("a", "b"), ("b", "c"), ("c", "d"))))
      assert(got == Map("b" -> "a", "c" -> "a", "d" -> "a", "a" -> "a"), way)
  }

  test("star, two components, self-loop") {
    for ((way, got) <- cc(Seq(("e", "a"), ("e", "b"), ("e", "c"), ("x", "y"), ("z", "z")))) {
      assert(got("e") == "a" && got("b") == "a" && got("c") == "a", way)
      assert(got("y") == "x" && got("x") == "x", way)
      assert(got.getOrElse("z", "z") == "z", way) // self-loop is dropped; z maps to itself
    }
  }

  test("singletons from node universe get own cluster") {
    for ((way, got) <- cc(Seq(("a", "b")), Some(Seq("a", "b", "lonely")))) {
      assert(got("lonely") == "lonely", way)
      assert(got("b") == "a", way)
    }
  }

  test("empty edge set") {
    for ((way, got) <- cc(Seq.empty, Some(Seq("p", "q"))))
      assert(got == Map("p" -> "p", "q" -> "q"), way)
  }

  test("long path (worst case for star algorithms) converges") {
    val n = 64
    val edges = (0 until n - 1).map(i => (f"v$i%03d", f"v${i + 1}%03d"))
    for ((way, got) <- cc(edges)) {
      assert(got.values.toSet == Set("v000"), way)
      assert(got.size == n, way)
    }
  }

  test("random graphs match union-find oracle") {
    val r = new scala.util.Random(5)
    for (trial <- 1 to 5) {
      val nNodes = 30 + r.nextInt(40)
      val nodes = (0 until nNodes).map(i => f"n$i%03d")
      val nEdges = r.nextInt(nNodes * 2)
      val edges = (0 until nEdges).map { _ =>
        (nodes(r.nextInt(nNodes)), nodes(r.nextInt(nNodes)))
      }.filter(e => e._1 != e._2)
      val expected = oracle(edges, nodes)
      for ((way, got) <- cc(edges, Some(nodes)))
        assert(got == expected, s"trial $trial mismatch ($way)")
    }
  }

  test("assignments hold each node EXACTLY once (no diff-join fan-out)") {
    // a node carries several roots mid-convergence; each node must still
    // come out with exactly one root, whichever way the graph is finished
    val r = new scala.util.Random(11)
    val nodes = (0 until 60).map(i => f"m$i%03d")
    val edges = (0 until 150).map { _ =>
      (nodes(r.nextInt(nodes.size)), nodes(r.nextInt(nodes.size)))
    }.filter(e => e._1 != e._2)
    for ((way, _, res) <- everyWay(edges, Some(nodes))) {
      val dup = res.assignments.groupBy("node").count().where($"count" > 1)
      assert(dup.count() == 0, s"$way duplicated assignments")
      assert(res.assignments.count() == nodes.size.toLong, way)
    }
  }

  test("iteration count is logarithmic-ish and merges tracked") {
    val n = 128
    val edges = (0 until n - 1).map(i => (f"v$i%03d", f"v${i + 1}%03d"))
    for ((way, _, res) <- everyWay(edges)) {
      assert(res.iterations <= 12, s"$way: too many iterations: ${res.iterations}")
      assert(res.mergesApplied == n - 1, way)
    }
  }

  test("kill/resume after every staged round continues from it") {
    val r = new scala.util.Random(11)
    val nodes = (0 until 60).map(i => f"k$i%03d")
    val edges = (0 until 150).map(_ => (nodes(r.nextInt(60)), nodes(r.nextInt(60))))
      .filter(e => e._1 != e._2)
    val forest = oracle(edges, nodes).count { case (n, root) => n != root }
    // rounds to convergence, and rounds then the driver once the forest fits
    for ((input, bound) <- Seq((edges, -1), (edges ++ edges.map(_.swap), forest))) {
      def run(dir: String, resume: Boolean) = ConnectedComponents.run(spark,
        input.toDF("src", "dst"), Some(nodes.toDF("node")), maxIter = 30,
        stage = staged(dir, resume), localFinishRows = bound)
      def sorted(df: DataFrame) = df.orderBy("node").collect().toSeq
      val base = tempDir("cc-base").toString
      val full = run(base, resume = false)
      val expected = sorted(full.assignments)
      val rounds = (0 to full.iterations).map(i => s"edges_iter_$i")
      assert(new java.io.File(base).list().toSet == rounds.toSet)
      for (boundary <- rounds.indices.init) {
        val (done, rest) = rounds.splitAt(boundary + 1)
        val at = s"bound $bound, killed after ${done.last}"
        // every later manifest is gone, and the next round's write was cut
        // short: no commit marker, half its files, the first truncated
        val dir = tempDir("cc-kill").toString
        FileUtils.copyDirectory(new java.io.File(base), new java.io.File(dir))
        rest.foreach(s => Files.delete(Paths.get(s"$dir/$s/manifest.json")))
        val files = Files.walk(Paths.get(s"$dir/${rest.head}")).iterator.asScala
          .filter(Files.isRegularFile(_)).toSeq.sorted
        val parts = files.filter(_.getFileName.toString.startsWith("part-"))
        (files.diff(parts) ++ parts.drop((parts.size + 1) / 2)).foreach(Files.delete)
        Files.write(parts.head, Files.readAllBytes(parts.head).take(Files.size(parts.head).toInt / 2))

        var resumed: ConnectedComponents.Result = null
        var got = Seq.empty[org.apache.spark.sql.Row]
        val plans = ExecutedPlans.capture(spark) {
          resumed = run(dir, resume = true)
          got = sorted(resumed.assignments)
        }
        assert(plans.flatMap(ExecutedPlans.written)
          .map(_.stripPrefix(s"$dir/").stripSuffix("/data.parquet")) == rest, at)
        assert(got == expected, at)
        assert((resumed.iterations, resumed.mergesApplied) == (full.iterations, full.mergesApplied), at)
      }
    }
  }
}
