package perfbench

import java.sql.Timestamp
import java.util.Locale

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.fixtures.Fixture

/** One generated page plus its planted truth. `entity_id` groups a canonical
  * page with its perturbed copies; templated pages all share entity -1. */
case class GenPage(doc_id: Long, url: String, warc_ts: Timestamp, html: Array[Byte],
                   text: String, lang: String, entity_id: Long)

/** Seeded page generator following FIXTURES.md §1–2, with the seed as a
  * parameter (the program's own fixture has a fixed seed):
  *   - cluster sizes drawn from {1,1,1,2,2,3,5,8}: most entities have one
  *     page, and about 65% of pages are copies;
  *   - canonical texts of 30–120 Zipf-drawn tokens from the fixture
  *     vocabulary (the frozen embedding artifact covers exactly that
  *     vocabulary, so the scorer sees in-vocabulary tokens);
  *   - copies perturbed by ≤3% token drop and swap, casing and punctuation
  *     noise, a differently formatted price, a re-hosted url on a
  *     Zipf-drawn domain, and an embedded image with ~2% byte noise.
  * `templated` > 0 appends a slice of that many pages that share one
  * boilerplate body, half of them verbatim and half with one token
  * substituted, so every pair inside the slice is a near duplicate and its
  * LSH buckets are hot.
  *
  * Every page is a pure function of (seed, doc_id), so Spark generates the
  * table distributedly and the checks regenerate any page locally. */
final class Gen(val seed: Long, val pages: Int, val templated: Int = 0) extends Serializable {
  import Gen._

  private val clustered = pages - templated

  /** First doc id of each entity (entity i owns [starts(i), starts(i+1))). */
  private val starts: Array[Int] = {
    val r = new Random(mix(seed, 0x5eedL))
    val b = Array.newBuilder[Int]
    var at = 0
    while (at < clustered) { b += at; at += Sizes(r.nextInt(Sizes.length)) }
    b += clustered
    b.result()
  }
  val entities: Int = starts.length - 1

  /** Doc ids of every planted cluster with at least two pages. */
  def clusters: Iterator[Range] =
    (0 until entities).iterator.map(e => starts(e) until starts(e + 1)).filter(_.size > 1)

  def templatedIds: Range = clustered until pages

  def entityOf(doc: Int): Int = {
    val i = java.util.Arrays.binarySearch(starts, doc)
    if (i >= 0) i else -i - 2
  }

  private def tokensOf(r: Random, len: Int): Array[String] =
    Array.fill(len)(Fixture.vocab(zipf(r, Fixture.VocabSize, 1.5)))

  def page(doc: Int): GenPage = {
    val dr = new Random(mix(seed, doc * 0x9E3779B97F4A7C15L + 1))
    if (doc >= clustered) return templatedPage(doc, dr)
    val e = entityOf(doc)
    val copy = doc - starts(e)
    val er = new Random(mix(seed, e * 2654435761L))
    val base = tokensOf(er, 30 + er.nextInt(91))
    val price = (10 + er.nextInt(4990)) + er.nextInt(100) / 100.0
    val tokens = if (copy == 0) base else perturb(base, dr)
    val text = render(tokens, price, copy, dr)
    val dom = if (copy == 0) zipf(new Random(mix(seed, e * 31L + 17)), Fixture.NumDomains)
              else zipf(dr, Fixture.NumDomains)
    val img = new Array[Byte](Fixture.ImgBytes)
    new Random(mix(seed, e * 7340033L + 5)).nextBytes(img)
    if (copy > 0) {
      var k = 0
      while (k < img.length) {
        if (dr.nextDouble() < 0.02) img(k) = dr.nextInt(256).toByte
        k += 1
      }
    }
    GenPage(doc, s"https://${Fixture.domains(dom)}/e$e/c$copy", ts(doc), html(text, img),
      text, if (e % 37 == 0) "ru" else "en", e)
  }

  /** The boilerplate body: 200 distinct tokens, so one substitution moves
    * its Jaccard and SimHash only slightly and every seed plants about the
    * same number of near-duplicate pairs. */
  @transient private lazy val template: Array[String] =
    new Random(mix(seed, 0x7e3L)).shuffle(Fixture.vocab.toVector).take(200).toArray

  private def templatedPage(doc: Int, dr: Random): GenPage = {
    val body = template.clone()
    if (dr.nextBoolean()) body(dr.nextInt(body.length)) = Fixture.vocab(dr.nextInt(Fixture.VocabSize))
    val text = render(body, 19.99, 0, dr)
    GenPage(doc, s"https://boilerplate.example.com/t/$doc", ts(doc),
      html(text, Array.emptyByteArray), text, "en", -1L)
  }

  def toDF(spark: SparkSession, parts: Int): DataFrame = {
    import spark.implicits._
    val g = this
    spark.range(0, pages, 1, parts).map(d => g.page(d.toInt)).toDF()
  }
}

object Gen {
  val Sizes: Array[Int] = Array(1, 1, 1, 2, 2, 3, 5, 8)
  private val BaseEpochMs = 1690000000000L

  def mix(a: Long, b: Long): Long = {
    var x = a ^ (b * 0x9E3779B97F4A7C15L)
    x ^= (x >>> 32); x *= 0xFF51AFD7ED558CCDL; x ^= (x >>> 32)
    x
  }

  private def zipf(r: Random, n: Int, alpha: Double = 2.0): Int =
    math.min(n - 1, (n * math.pow(r.nextDouble(), alpha)).toInt)

  private def ts(doc: Int) = new Timestamp(BaseEpochMs + doc * 1000L)

  private def perturb(tokens: Array[String], dr: Random): Array[String] = {
    val kept = tokens.filter(_ => dr.nextDouble() >= 0.03)
    val out = if (kept.length >= 20) kept else tokens.clone()
    var i = 0
    while (i < out.length - 1) {
      if (dr.nextDouble() < 0.03) { val t = out(i); out(i) = out(i + 1); out(i + 1) = t; i += 2 }
      else i += 1
    }
    out
  }

  private def render(tokens: Array[String], price: Double, copy: Int, dr: Random): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < tokens.length) {
      sb.append(if (copy > 0 && dr.nextDouble() < 0.05) tokens(i).capitalize else tokens(i))
      if (copy > 0 && dr.nextDouble() < 0.04) sb.append(',')
      if ((i + 1) % 12 == 0) sb.append('.')
      if (i < tokens.length - 1) sb.append(' ')
      i += 1
    }
    val p = Double.box(price)
    sb.append(". ").append(copy % 3 match {
      case 0 => String.format(Locale.US, "price $%.2f", p)
      case 1 => String.format(Locale.US, "price %,.2f", p)
      case _ => String.format(Locale.US, "price %.2f usd", p)
    }).toString
  }

  private def html(text: String, img: Array[Byte]): Array[Byte] = {
    val media =
      if (img.isEmpty) ""
      else "<img src=\"data:image/fake;base64," + java.util.Base64.getEncoder.encodeToString(img) + "\">"
    ("<html><body>" + text + media + "</body></html>").getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }
}
