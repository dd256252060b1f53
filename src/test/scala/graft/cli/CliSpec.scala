package graft.cli

import java.nio.file.{Files, Path}

import graft.{SparkEntry, SparkSpec}

/** The CLI surface: `Profile.run` under each sink, its stage listener's
  * lifetime, and the argument parser shared with `LinkageMain`. */
class CliSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"
  private val two = Seq("q01_scan_filter_project", "q02_group_agg")

  private def tmp(): Path = tempDir("cli")

  /** Listeners on the session's listener bus, which Spark keeps package-private. */
  private def listenerCount: Int = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("listeners").invoke(bus).asInstanceOf[java.util.List[_]].size
  }

  test("--sink explain writes one non-empty plan file per named query") {
    val out = tmp()
    Profile.run(spark, Profile.Opts(dir, two, sink = "explain", out = Some(out.toString)), _ => ())
    val files = out.toFile.list().toSeq.sorted
    assert(files == two.map(q => s"$q.txt"))
    two.foreach { q =>
      val plan = new String(Files.readAllBytes(out.resolve(s"$q.txt")), "UTF-8")
      assert(plan.contains("Physical Plan"), s"$q plan: ${plan.take(200)}")
    }
  }

  test("--sink parquet writes each query's table row for row") {
    val out = tmp()
    Profile.run(spark, Profile.Opts(dir, two, sink = "parquet", out = Some(out.toString)), _ => ())
    two.foreach { q =>
      val written = spark.read.parquet(s"$out/$q")
      val expected = SparkEntry.queries(q)(spark, dir)
      assert(written.columns.toSeq == expected.columns.toSeq)
      assert(written.count() == expected.count() && written.count() > 0)
      assert(written.exceptAll(expected).isEmpty, s"$q: rows not in the query result")
      assert(expected.exceptAll(written).isEmpty, s"$q: rows missing from the written table")
    }
  }

  test("--stages prints stage lines for the query and removes its listener") {
    val before = listenerCount
    val lines = Seq.newBuilder[String]
    Profile.run(spark, Profile.Opts(dir, Seq("q02_group_agg"), reps = 2, stages = true),
      lines += _)
    val out = lines.result()
    assert(out.count(_.startsWith("[profile] q02_group_agg")) == 3, out.mkString("\n"))
    val stages = out.filter(_.startsWith("[stage]"))
    assert(stages.nonEmpty, out.mkString("\n"))
    assert(stages.exists(_.contains("q02_group_agg")), stages.mkString("\n"))
    assert(listenerCount == before)
  }

  test("an unknown query name fails before any query runs") {
    val out = tmp()
    val e = intercept[IllegalArgumentException] {
      Profile.run(spark, Profile.Opts(dir, Seq("q01_scan_filter_project", "q99_nope"),
        sink = "parquet", out = Some(out.toString)), _ => ())
    }
    assert(e.getMessage.contains("q99_nope"))
    assert(out.toFile.list().isEmpty, "a query ran before the name check")
  }

  test("Profile arguments: defaults, all, and rejected keys and values") {
    val env = Map("SPARK_GRAFT_SF_DIR" -> dir)
    val d = Profile.parseArgs(Seq.empty, env)
    assert(d == Profile.Opts(dir, graft.Bench.headline))
    val o = Profile.parseArgs(
      Seq("--sink", "noop", "--reps", "2", "--stages", "--sf", "x", "q22_minhash_dedup"), env)
    assert(o == Profile.Opts("x", Seq("q22_minhash_dedup"), sink = "noop", reps = 2, stages = true))
    assert(Profile.parseArgs(Seq("all"), env).queries == SparkEntry.queries.keys.toSeq.sorted)
    assert(intercept[IllegalArgumentException](
      Profile.parseArgs(Seq("--sink", "csv"), env)).getMessage.contains("csv"))
    assert(intercept[IllegalArgumentException](
      Profile.parseArgs(Seq("--rep", "2"), env)).getMessage.contains("--rep"))
    assert(intercept[IllegalArgumentException](Profile.parseArgs(Seq.empty, Map.empty))
      .getMessage.contains("SPARK_GRAFT_SF_DIR"))
  }

  test("LinkageMain arguments: unknown keys and values are rejected") {
    assert(intercept[IllegalArgumentException](
      LinkageMain.parseArgs(Seq("--treshold", "0.9"))).getMessage.contains("--treshold"))
    assert(intercept[IllegalArgumentException](
      LinkageMain.parseArgs(Seq("--composition", "idf2"))).getMessage.contains("idf2"))
    assert(intercept[IllegalArgumentException](
      LinkageMain.parseArgs(Seq("--out"))).getMessage.contains("--out"))
    assert(intercept[IllegalArgumentException](
      LinkageMain.parseArgs(Seq("fixture:10000"))).getMessage.contains("fixture:10000"))
  }

  test("LinkageMain arguments: the verify workflow's flags parse") {
    val opts = LinkageMain.parseArgs(Seq("--input", "fixture:10000", "--out", "w",
      "--parallelism", "16", "--eval", "--resume", "--threshold", "0.999"))
    assert(opts == Map("input" -> "fixture:10000", "out" -> "w", "parallelism" -> "16",
      "eval" -> "true", "resume" -> "true", "threshold" -> "0.999"))
    assert(LinkageMain.parseArgs(Seq("--composition", "idf")) == Map("composition" -> "idf"))
  }
}
