package graft

import java.nio.file.Files

import graft.clustering.ConnectedComponents
import graft.lineage.SnapshotStore

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** Staged iterations: snapshot stages of a fresh store in a temp dir. */
  private def staged(): Option[ConnectedComponents.Stage] = {
    val store = new SnapshotStore(spark, Files.createTempDirectory("graft-cc").toString, resume = false)
    Some((name, observed) => df => store.stage(name, "fp", observed = observed)(df))
  }

  private def cc(edges: Seq[(String, String)], nodes: Option[Seq[String]] = None)
      : Map[String, String] = {
    val e = edges.toDF("src", "dst")
    val n = nodes.map(_.toDF("node"))
    ConnectedComponents.run(spark, e, n)
      .assignments.as[(String, String)].collect().toMap
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

  test("chain collapses to min") {
    assert(cc(Seq(("a", "b"), ("b", "c"), ("c", "d"))) ==
      Map("b" -> "a", "c" -> "a", "d" -> "a", "a" -> "a"))
  }

  test("star, two components, self-loop") {
    val got = cc(Seq(("e", "a"), ("e", "b"), ("e", "c"), ("x", "y"), ("z", "z")))
    assert(got("e") == "a" && got("b") == "a" && got("c") == "a")
    assert(got("y") == "x" && got("x") == "x")
    assert(got.getOrElse("z", "z") == "z") // self-loop is dropped; z maps to itself
  }

  test("singletons from node universe get own cluster") {
    val got = cc(Seq(("a", "b")), Some(Seq("a", "b", "lonely")))
    assert(got("lonely") == "lonely")
    assert(got("b") == "a")
  }

  test("empty edge set") {
    val got = cc(Seq.empty, Some(Seq("p", "q")))
    assert(got == Map("p" -> "p", "q" -> "q"))
  }

  test("long path (worst case for star algorithms) converges") {
    val n = 64
    val edges = (0 until n - 1).map(i => (f"v$i%03d", f"v${i + 1}%03d"))
    val got = cc(edges)
    assert(got.values.toSet == Set("v000"))
    assert(got.size == n)
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
      val got = cc(edges, Some(nodes))
      assert(got == expected, s"trial $trial mismatch")
    }
  }

  test("assignments hold each node EXACTLY once (no diff-join fan-out)") {
    // regression: a node carries several roots mid-convergence; the
    // merge-tracking diff must join on (node, root), never on node alone —
    // joining on node alone silently duplicated edge rows (caught by the
    // CLI eval pair counts, not by set-compare tests)
    val r = new scala.util.Random(11)
    val nodes = (0 until 60).map(i => f"m$i%03d")
    val edges = (0 until 150).map { _ =>
      (nodes(r.nextInt(nodes.size)), nodes(r.nextInt(nodes.size)))
    }.filter(e => e._1 != e._2).toDF("src", "dst")
    for (stage <- Seq(staged(), None)) {
      val res = ConnectedComponents.run(spark, edges,
        nodes = Some(nodes.toDF("node")), stage = stage)
      val dup = res.assignments.groupBy("node").count().where($"count" > 1)
      assert(dup.count() == 0, s"staged=${stage.isDefined} duplicated assignments")
      assert(res.assignments.count() == nodes.size.toLong)
    }
  }

  test("iteration count is logarithmic-ish and merges tracked") {
    val n = 128
    val edges = (0 until n - 1).map(i => (f"v$i%03d", f"v${i + 1}%03d")).toDF("src", "dst")
    val res = ConnectedComponents.run(spark, edges, stage = staged())
    assert(res.iterations <= 12, s"too many iterations: ${res.iterations}")
    assert(res.mergesApplied > 0)
  }
}
