package perfbench

import java.util.Locale

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{Similarity, TextNorm}
import graft.scoring.Scoring

/** Kernel timing loop of the traced run: each codegen expression's kernel
  * body (the static function its generated code calls) over rows generated
  * from the workload's seed, with the pipeline's own parameters. Warm-up
  * passes first, then the minimum over `passes` timed passes, in ns/row. */
object Kernels {
  private var sink = 0L

  private def nsPerRow(rows: Int, passes: Int)(body: Int => Long): Double = {
    var best = Long.MaxValue
    for (p <- 0 until passes + 3) {
      val t0 = System.nanoTime()
      var acc = 0L
      var i = 0
      while (i < rows) { acc += body(i); i += 1 }
      val dt = System.nanoTime() - t0
      sink += acc
      if (p >= 3) best = math.min(best, dt)
    }
    best.toDouble / rows
  }

  def run(gen: Gen, rows: Int = 2000, passes: Int = 5): Map[String, Double] = {
    val pages = Array.tabulate(math.min(rows, gen.pages))(gen.page)
    val n = pages.length
    val text = pages.map(p => UTF8String.fromString(p.text))
    val norm = text.map(TextNorm.normalize)
    val prefix = norm.map(s => if (s.numChars <= Scoring.LevCap) s else s.substring(0, Scoring.LevCap))
    val title = norm.map(s => UTF8String.fromString(s.toString.split(' ').take(Scoring.TitleTokens).mkString(" ")))
    val lower = text.map(s => UTF8String.fromString(s.toString.toLowerCase(Locale.ROOT)))
    val sortedTokens: Array[ArrayData] = lower.map { s =>
      new GenericArrayData(s.toString.split(" ", -1).distinct.sorted.map(UTF8String.fromString))
    }
    val tokenBands: Array[ArrayData] = lower.map(Similarity.minHashBandsTokensArray(_, 32, 4, 42L))
    val html = pages.map(_.html)
    // neighbours in doc-id order are mostly copies of one entity: the pairs
    // the pair kernels see after blocking
    def nb(i: Int) = (i + 1) % n
    Map(
      "norm_text" -> nsPerRow(n, passes)(i => TextNorm.normalize(text(i)).numBytes),
      "minhash_bands" -> nsPerRow(n, passes)(i =>
        Similarity.minHashBandsArray(norm(i), 16, 6, 42L).getLong(0)),
      "jaro_winkler" -> nsPerRow(n, passes)(i =>
        java.lang.Double.doubleToLongBits(Similarity.jaroWinkler(title(i), title(nb(i))))),
      "levenshtein_sim" -> nsPerRow(n, passes)(i =>
        java.lang.Double.doubleToLongBits(Similarity.levenshteinSimFast(prefix(i), prefix(nb(i)), Scoring.LevCap))),
      "jaccard_sorted" -> nsPerRow(n, passes)(i =>
        java.lang.Double.doubleToLongBits(Similarity.jaccardSorted(sortedTokens(i), sortedTokens(nb(i))))),
      "first_equal_index" -> nsPerRow(n, passes)(i =>
        Similarity.firstEqualIndex(tokenBands(i), tokenBands(nb(i))).toLong),
      "multi_avg_pool_embed" -> nsPerRow(n, passes)(i =>
        Similarity.multiAvgPool(html(i), Scoring.ImgDim).numElements().toLong)
    ).map { case (k, v) => s"functions.$k.ns_per_row" -> v }
  }
}
