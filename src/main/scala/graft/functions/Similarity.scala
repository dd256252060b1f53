package graft.functions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Static similarity / hashing kernels.
  *
  * These are plain static methods so that generated whole-stage-codegen code
  * can call them directly (see expressions.scala) and the mapPartitions
  * scoring kernel can reuse the exact same implementations.
  *
  * Semantics re-expressed from the reference:
  *  - cosine over composed vectors: Deeper.py:296-298 (Dot(axes=1, normalize=True))
  *  - exp(-L1) / exp(-L2): Deeper.py:299-305
  *  - scaled/unscaled numeric sims + min-max ratio: Deeper.py:327-343
  *  - Jaro-Winkler / Levenshtein are the north-star's string-similarity additions.
  */
object Similarity {

  // ---------------------------------------------------------------- strings

  // thread-local match-flag scratch (allocation-free in codegen'd hot loops)
  private val jaroBuf = new ThreadLocal[(Array[Boolean], Array[Boolean])] {
    override def initialValue(): (Array[Boolean], Array[Boolean]) =
      (new Array[Boolean](512), new Array[Boolean](512))
  }

  /** Standard Jaro similarity. */
  def jaro(s1: String, s2: String): Double = {
    val len1 = s1.length; val len2 = s2.length
    if (len1 == 0 && len2 == 0) return 1.0
    if (len1 == 0 || len2 == 0) return 0.0
    val window = math.max(0, math.max(len1, len2) / 2 - 1)
    var (m1, m2) = jaroBuf.get()
    if (m1.length < len1 || m2.length < len2) {
      m1 = new Array[Boolean](math.max(len1, 512))
      m2 = new Array[Boolean](math.max(len2, 512))
      jaroBuf.set((m1, m2))
    }
    java.util.Arrays.fill(m1, 0, len1, false)
    java.util.Arrays.fill(m2, 0, len2, false)
    var matches = 0
    var i = 0
    while (i < len1) {
      val lo = math.max(0, i - window)
      val hi = math.min(len2 - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var t = 0
    var j2 = 0
    i = 0
    while (i < len1) {
      if (m1(i)) {
        while (!m2(j2)) j2 += 1
        if (s1.charAt(i) != s2.charAt(j2)) t += 1
        j2 += 1
      }
      i += 1
    }
    val tr = t / 2.0
    val m = matches.toDouble
    (m / len1 + m / len2 + (m - tr) / m) / 3.0
  }

  /** Jaro-Winkler with the standard 0.7 boost threshold and prefix cap 4. */
  def jaroWinkler(s1: String, s2: String): Double = {
    val j = jaro(s1, s2)
    if (j <= 0.7) return j
    val maxPrefix = math.min(4, math.min(s1.length, s2.length))
    var l = 0
    while (l < maxPrefix && s1.charAt(l) == s2.charAt(l)) l += 1
    j + l * 0.1 * (1.0 - j)
  }

  def jaroWinkler(a: UTF8String, b: UTF8String): Double =
    jaroWinkler(a.toString, b.toString)

  /** Levenshtein distance with an optional character cap (both inputs are
    * truncated to `cap` chars first — the reference's cost-control truncations,
    * Deeper.py:163 / conver_test.py:123-126, applied to similarity). */
  def levenshtein(s1raw: String, s2raw: String, cap: Int): Int = {
    val s1 = if (s1raw.length > cap) s1raw.substring(0, cap) else s1raw
    val s2 = if (s2raw.length > cap) s2raw.substring(0, cap) else s2raw
    val n = s1.length; val m = s2.length
    if (n == 0) return m
    if (m == 0) return n
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    var j = 0
    while (j <= m) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= n) {
      cur(0) = i
      val c1 = s1.charAt(i - 1)
      j = 1
      while (j <= m) {
        val cost = if (c1 == s2.charAt(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        j += 1
      }
      val tmp = prev; prev = cur; cur = tmp
      i += 1
    }
    prev(m)
  }

  /** Normalized Levenshtein similarity in [0,1] over capped prefixes. */
  def levenshteinSim(s1: String, s2: String, cap: Int): Double = {
    val l1 = math.min(s1.length, cap); val l2 = math.min(s2.length, cap)
    val mx = math.max(l1, l2)
    if (mx == 0) 1.0 else 1.0 - levenshtein(s1, s2, cap).toDouble / mx
  }

  // thread-local DP scratch so codegen'd per-row calls allocate nothing
  private val levBuf = new ThreadLocal[(Array[Int], Array[Int])] {
    override def initialValue(): (Array[Int], Array[Int]) =
      (new Array[Int](1024), new Array[Int](1024))
  }

  /** Allocation-free capped Levenshtein similarity (codegen entry point). */
  def levenshteinSimFast(a: UTF8String, b: UTF8String, cap: Int): Double = {
    val s1 = a.toString; val s2 = b.toString
    val n = math.min(s1.length, cap)
    val m = math.min(s2.length, cap)
    if (n == 0 && m == 0) return 1.0
    if (n == 0 || m == 0) return 0.0
    var (prev, cur) = levBuf.get()
    if (prev.length <= m) {
      prev = new Array[Int](m + 1); cur = new Array[Int](m + 1)
      levBuf.set((prev, cur))
    }
    var j = 0
    while (j <= m) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= n) {
      cur(0) = i
      val c1 = s1.charAt(i - 1)
      j = 1
      while (j <= m) {
        val cost = if (c1 == s2.charAt(j - 1)) 0 else 1
        var best = cur(j - 1) + 1
        val del = prev(j) + 1
        if (del < best) best = del
        val sub = prev(j - 1) + cost
        if (sub < best) best = sub
        cur(j) = best
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    levBuf.set((prev, cur))
    1.0 - prev(m).toDouble / math.max(n, m)
  }

  // ---------------------------------------------------------------- vectors

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Cosine over two Catalyst float arrays (codegen entry point). */
  def cosineFloat(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Cosine over two Catalyst double arrays (codegen entry point). */
  def cosineDouble(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** exp(−Σ|aᵢ−bᵢ|) — Deeper.py:299-301 (codegen entry points). */
  def invL1Float(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += math.abs(a.getFloat(i).toDouble - b.getFloat(i).toDouble); i += 1 }
    math.exp(-s)
  }

  def invL1Double(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += math.abs(a.getDouble(i) - b.getDouble(i)); i += 1 }
    math.exp(-s)
  }

  /** exp(−√Σ(aᵢ−bᵢ)²) — Deeper.py:302-305 (codegen entry points). */
  def invL2Float(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) {
      val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble; s += d * d; i += 1
    }
    math.exp(-math.sqrt(s))
  }

  def invL2Double(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) { val d = a.getDouble(i) - b.getDouble(i); s += d * d; i += 1 }
    math.exp(-math.sqrt(s))
  }

  /** Block-average pooling of a byte payload into `dim` centered floats
    * (chunk mean / 255 − 0.5, so unrelated payloads are near-orthogonal) —
    * the locality-preserving image featurizer behind avg_pool_embed: nearby
    * payloads (a re-encoded copy of the same product photo) pool to nearby
    * vectors, the property the ER scorer's image similarities need and a
    * plain content hash destroys. Empty payload → empty array (no media). */
  def avgPool(bytes: Array[Byte], dim: Int): ArrayData = {
    val n = bytes.length
    if (n == 0) return new GenericArrayData(new Array[Float](0))
    val sums = new Array[Double](dim)
    val counts = new Array[Int](dim)
    var i = 0
    while (i < n) {
      val b = (i.toLong * dim / n).toInt
      sums(b) += (bytes(i) & 0xFF)
      counts(b) += 1
      i += 1
    }
    val out = new Array[Float](dim)
    var j = 0
    while (j < dim) {
      out(j) = if (counts(j) == 0) 0f else (sums(j) / counts(j) / 255.0 - 0.5).toFloat
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Single-pass multi-image pooling over raw html bytes: find EVERY
    * `data:image/<subtype>;base64,<payload>` occurrence, decode, block-
    * average-pool each payload ([[avgPool]] semantics), and return the
    * element-wise mean across the page's image set (the reference featurizes
    * a record's whole image SET — imagess/dir_image.py:94-152,
    * train_deeper.py:59-70). One scan, no regex, no intermediate arrays —
    * the compositional regexp_extract_all + aggregate/zip_with form
    * re-evaluated the full-html regex per expression reference and allocated
    * per-image arrays per row (measured +34% on the er hot path). Markers
    * and base64 runs are ASCII, so scanning UTF-8 bytes directly is exact.
    * Payloads that decode to zero bytes are skipped; a payload the lenient
    * MIME decoder rejects outright is skipped too (the strict column form
    * would fail the whole row — a kernel must not). Empty result = no media
    * (the scorer zero-gates on it). */
  def multiAvgPool(html: Array[Byte], dim: Int): ArrayData = {
    val n = html.length
    val marker = MultiPoolMarker
    val sums = new Array[Double](dim)
    var images = 0
    var i = 0
    while (i < n - marker.length) {
      // cheap first-byte gate, then full marker compare
      if (html(i) == 'd' && startsWith(html, i, marker)) {
        var j = i + marker.length
        // [a-zA-Z]+ subtype
        val subStart = j
        while (j < n && (((html(j) | 0x20) >= 'a') && ((html(j) | 0x20) <= 'z'))) j += 1
        if (j > subStart && startsWith(html, j, MultiPoolBase64)) {
          j += MultiPoolBase64.length
          val payloadStart = j
          while (j < n && isBase64Char(html(j))) j += 1
          if (j > payloadStart) {
            val slice = java.util.Arrays.copyOfRange(html, payloadStart, j)
            val decoded =
              try java.util.Base64.getMimeDecoder.decode(slice)
              catch { case _: IllegalArgumentException => Array.emptyByteArray }
            if (decoded.length > 0) {
              accumulatePool(decoded, dim, sums)
              images += 1
            }
          }
          i = j
        } else i += 1
      } else i += 1
    }
    if (images == 0) return new GenericArrayData(new Array[Float](0))
    val out = new Array[Float](dim)
    var k = 0
    while (k < dim) { out(k) = (sums(k) / images).toFloat; k += 1 }
    new GenericArrayData(out)
  }

  /** [[multiAvgPool]] over a string html column (UTF-8 bytes are scanned
    * identically — the markers are ASCII). */
  def multiAvgPoolStr(html: org.apache.spark.unsafe.types.UTF8String, dim: Int): ArrayData =
    multiAvgPool(html.getBytes, dim)

  private val MultiPoolMarker = "data:image/".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  private val MultiPoolBase64 = ";base64,".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  private def startsWith(h: Array[Byte], at: Int, pat: Array[Byte]): Boolean = {
    if (at + pat.length > h.length) return false
    var k = 0
    while (k < pat.length) { if (h(at + k) != pat(k)) return false; k += 1 }
    true
  }

  private def isBase64Char(b: Byte): Boolean =
    (b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9') ||
      b == '+' || b == '/' || b == '='

  /** One image's [[avgPool]] (float-exact per element) added into `sums`. */
  private def accumulatePool(bytes: Array[Byte], dim: Int, sums: Array[Double]): Unit = {
    val pooled = avgPool(bytes, dim)
    var j = 0
    while (j < dim) { sums(j) += pooled.getFloat(j); j += 1 }
  }

  def dot(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0; var i = 0
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  // ----------------------------------------------------- numeric sims (ref)

  /** exp(-2|a-b|/(a+b+1e-5)) — Deeper.py:327-329. */
  def scaledInverseLp(a: Double, b: Double): Double =
    math.exp(-2.0 * math.abs(a - b) / (a + b + 1e-5))

  /** exp(-|a-b|) — Deeper.py:330-332. */
  def unscaledInverseLp(a: Double, b: Double): Double = math.exp(-math.abs(a - b))

  /** min(a,b)/(max(a,b)+1e-5) — Deeper.py:338-343. */
  def minMaxRatio(a: Double, b: Double): Double =
    math.min(a, b) / (math.max(a, b) + 1e-5)

  // ------------------------------------------------------------- min-hash

  private final val GOLDEN = 0x9E3779B97F4A7C15L

  /** Thread-local open-addressing set of shingle base hashes already folded
    * into the minima this row: a DUPLICATE shingle contributes the identical
    * k remixes, so skipping it cannot change any minimum — and natural text
    * repeats a large fraction of its 3-grams/tokens, making the k-remix
    * inner loop (bands×rows hashes, the dominant blocking cost) run ~2×
    * fewer times for the exact same output. 0 marks an empty slot (a real
    * h0 of 0 is simply never deduped — harmless); insertion stops at ~3/4
    * occupancy so pathological long texts degrade to the old always-remix
    * behavior instead of thrashing. */
  private final val SeenCap = 4096
  private final val SeenMask = SeenCap - 1
  private final val SeenMax = SeenCap * 3 / 4
  private val seenBuf = new ThreadLocal[Array[Long]] {
    override def initialValue(): Array[Long] = new Array[Long](SeenCap)
  }

  private final val SeenHit = -1

  /** [[SeenHit]] if h0 was already seen this row (skip its remixes); else
    * the number of entries inserted: 1, or 0 when h0 == 0 or the table is at
    * [[SeenMax]]. Callers add it to the row's occupancy, so only real
    * inserts count. `seen` must be zero-filled at row start. */
  private def seenProbe(seen: Array[Long], occupancy: Int, h0: Long): Int = {
    if (h0 == 0L) return 0
    var slot = (h0 & SeenMask).toInt
    while (seen(slot) != 0L) {
      if (seen(slot) == h0) return SeenHit
      slot = (slot + 1) & SeenMask
    }
    if (occupancy < SeenMax) { seen(slot) = h0; 1 } else 0
  }

  /** Per-row minima of the k = bands * rows min-hashes, before any shingle. */
  private def newMins(bands: Int, rows: Int): Array[Long] = {
    val mins = new Array[Long](bands * rows)
    java.util.Arrays.fill(mins, Long.MaxValue)
    mins
  }

  /** Folds shingle hash h0's k cheap hashLong remixes into `mins`. */
  private def remix(mins: Array[Long], h0: Long, seed: Long): Unit = {
    var j = 0
    while (j < mins.length) {
      val h = XXH64.hashLong(h0, seed + GOLDEN * (j + 1))
      if (h < mins(j)) mins(j) = h
      j += 1
    }
  }

  /** Folds each band's `rows` minima into one 64-bit band key (band index
    * mixed in so keys never collide across bands). */
  private def bandKeys(mins: Array[Long], bands: Int, rows: Int, seed: Long): Array[Long] = {
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = seed + b
      var r = 0
      while (r < rows) { acc = XXH64.hashLong(mins(b * rows + r), acc); r += 1 }
      out(b) = acc
      b += 1
    }
    out
  }

  /** One-pass MinHash-LSH band keys over character (byte) 3-gram shingles.
    *
    * Computes bands*rows min-hashes in a single scan of the UTF8 bytes (one
    * base xxhash64 per shingle, then k cheap hashLong remixes) and folds each
    * band's `rows` minima into one 64-bit band key (band index mixed in so
    * keys never collide across bands). O(len * bands * rows), zero
    * intermediate shingle materialization — this is the scale path for
    * blocking at 10^12 documents.
    */
  def minHashBands(s: UTF8String, bands: Int, rows: Int, seed: Long): Array[Long] = {
    val mins = newMins(bands, rows)
    val n = s.numBytes()
    val base = s.getBaseObject
    val off = s.getBaseOffset
    if (n < 3) {
      // degenerate short text: hash the whole string once
      remix(mins, XXH64.hashUnsafeBytes(base, off, n, seed), seed)
    } else {
      val seen = seenBuf.get()
      java.util.Arrays.fill(seen, 0L)
      var occ = 0
      var i = 0
      val last = n - 3
      while (i <= last) {
        val h0 = XXH64.hashUnsafeBytes(base, off + i, 3, seed)
        val probe = seenProbe(seen, occ, h0)
        if (probe != SeenHit) { occ += probe; remix(mins, h0, seed) }
        i += 1
      }
    }
    bandKeys(mins, bands, rows, seed)
  }

  def minHashBandsArray(s: UTF8String, bands: Int, rows: Int, seed: Long): ArrayData =
    new GenericArrayData(minHashBands(s, bands, rows, seed))

  /** MinHash-LSH band keys over whitespace-token shingles (one hash per
    * token run of the UTF8 bytes; duplicate tokens hit identical hashes, so
    * the signature is exactly the DISTINCT-token-set MinHash). Use when the
    * downstream verifier computes token-set Jaccard — the collision
    * probability is then driven by precisely the verified quantity
    * (char-3-gram signatures underestimate it on multiplicity-skewed text).
    * Zero tokens degrades to a seed constant: all token-less texts share the
    * signature, matching their all-equal distinct-token sets. */
  def minHashBandsTokens(s: UTF8String, bands: Int, rows: Int, seed: Long): Array[Long] = {
    val mins = newMins(bands, rows)
    val n = s.numBytes()
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val seen = seenBuf.get()
    java.util.Arrays.fill(seen, 0L)
    var occ = 0
    var start = 0
    var i = 0
    var any = false
    while (i <= n) {
      if (i == n || Platform.getByte(base, off + i) == ' '.toByte) {
        if (i > start) {
          any = true
          val h0 = XXH64.hashUnsafeBytes(base, off + start, i - start, seed)
          val probe = seenProbe(seen, occ, h0)
          if (probe != SeenHit) { occ += probe; remix(mins, h0, seed) }
        }
        start = i + 1
      }
      i += 1
    }
    if (!any) remix(mins, seed, seed)
    bandKeys(mins, bands, rows, seed)
  }

  def minHashBandsTokensArray(s: UTF8String, bands: Int, rows: Int, seed: Long): ArrayData =
    new GenericArrayData(minHashBandsTokens(s, bands, rows, seed))

  // -------------------------------------------------------------- sim-hash

  /** 64-bit SimHash over whitespace tokens (document fingerprint for
    * near-duplicate detection; Charikar's scheme, public knowledge). */
  def simHash64(s: UTF8String, seed: Long): Long = {
    val str = s.toString
    val counts = new Array[Int](64)
    var start = 0
    val len = str.length
    var i = 0
    while (i <= len) {
      if (i == len || str.charAt(i) == ' ' || str.charAt(i) == '\t' || str.charAt(i) == '\n') {
        if (i > start) {
          val tok = str.substring(start, i)
          val bytes = tok.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val h = XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length, seed)
          var bit = 0
          while (bit < 64) {
            if (((h >>> bit) & 1L) == 1L) counts(bit) += 1 else counts(bit) -= 1
            bit += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 64) {
      if (counts(bit) > 0) out |= (1L << bit)
      bit += 1
    }
    out
  }

  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** First index where two long arrays hold equal values, −1 if none —
    * allocation-free codegen kernel behind the banded-LSH first-collision
    * rule: a pair sharing several band keys is EMITTED only from the first
    * shared band, so the quadratic candidate stream needs no global
    * pair-dedup shuffle afterwards (measured on q22: 92M duplicate candidate
    * rows, a 712 MB exchange plus two 92M-row hash-aggregate passes, for
    * 965k distinct candidates). */
  def firstEqualIndex(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) return i
      i += 1
    }
    -1
  }

  /** Distinct-set Jaccard of two SORTED string arrays by linear merge —
    * allocation-free (no per-row hash set, unlike array_intersect), exact:
    * same |A∩B| / |A∪B| as the set form for sorted+distinct inputs. Both
    * empty → 1.0 (two empty token sets are equal — matches the column-form
    * convention). The verify stage of the near-dup operators evaluates this
    * ~10^8 times per corpus pass; array_intersect's per-call hash set was
    * measured at ~10 µs/pair there (1022 s CPU of one sf1 q22 stage). */
  def jaccardSorted(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    val m = b.numElements()
    if (n == 0 && m == 0) return 1.0
    var i = 0
    var j = 0
    var inter = 0
    while (i < n && j < m) {
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val union = n + m - inter
    inter.toDouble / union
  }

  // -------------------------------------------------- n-gram repetition

  /** Per-document token n-gram repetition stats in ONE row-local pass —
    * (total n-grams, max single n-gram count, mass of n-grams occurring
    * more than once) over single-space tokens of the LOWERCASED text,
    * exactly the Gopher-style groupBy-per-(doc, gram) aggregation result.
    * These are per-DOCUMENT statistics: shipping every gram through two
    * corpus shuffles plus a join (the old shape) moved ~40 bytes per gram
    * across the cluster to compute numbers derivable where the row already
    * is. Because tokens are joined by the same single space they were split
    * on, every n-gram string is a SUBSTRING span of the lowered text — no
    * per-gram concatenation. */
  def ngramRepStats(raw: UTF8String, n: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val s = raw.toLowerCase.toString
    // token boundaries under split-on-' ' with empties preserved
    val starts = new scala.collection.mutable.ArrayBuffer[Int](64)
    starts += 0
    var i = 0
    while (i < s.length) { if (s.charAt(i) == ' ') starts += (i + 1); i += 1 }
    val m = starts.length // token count
    val total = math.max(m - n + 1, 0)
    if (total == 0)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](0L, 0L, 0L))
    val counts = new java.util.HashMap[String, Integer](total * 2)
    var g = 0
    while (g < total) {
      val from = starts(g)
      val to = if (g + n < m) starts(g + n) - 1 else s.length
      val gram = s.substring(from, to)
      val prev = counts.get(gram)
      counts.put(gram, if (prev == null) 1 else prev + 1)
      g += 1
    }
    var maxC = 0L
    var dupMass = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next().toLong
      if (c > maxC) maxC = c
      if (c > 1) dupMass += c
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](total.toLong, maxC, dupMass))
  }

  // -------------------------------------------- sign-random-projection LSH

  /** Deterministic hyperplane component in [-1, 1): first 15 md5 hex chars
    * of "seed:bit:i" as a 60-bit int, affinely mapped. md5-derived (not
    * XXH64) so a SQL oracle can recompute identical buckets:
    * DuckDB `('0x'||substr(md5(seed||':'||bit||':'||i),1,15))::BIGINT
    * / 2^59 - 1.0`. */
  def srpPlaneComponent(seed: Long, bit: Int, i: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(s"$seed:$bit:$i".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    // first 15 hex chars = high 60 bits of the first 8 bytes, dropping the
    // low nibble of byte 7
    var h = 0L
    var k = 0
    while (k < 8) { h = (h << 8) | (d(k) & 0xFFL); k += 1 }
    (h >>> 4).toDouble / 5.76460752303423488e17 - 1.0
  }

  /** Hyperplane matrix cache: computed ONCE per (seed, nBits, dim) — the
    * per-row cost of [[srpBucket]] is pure multiply-adds (was: O(dim·nBits)
    * hash calls per row, ~7k hashes/row in the 3-table ANN path). */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int, Int), Array[Array[Double]]]()

  def srpPlanes(seed: Long, nBits: Int, dim: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((seed, nBits, dim), { key =>
      val (s, b, d) = key
      Array.tabulate(b, d)((bit, i) => srpPlaneComponent(s, bit, i))
    })

  /** Sign-random-projection LSH bucket (nBits ≤ 32) for embedding vectors:
    * bit b = sign(v · h_b) with h_b a seeded deterministic hyperplane. Used to
    * bucket ANN / embedding near-dup search at scale. Float-element vectors;
    * [[srpBucketDouble]] is the array<double> kernel (SrpBucketExpr picks by
    * element type — an unconditional getFloat over UnsafeArrayData double
    * storage reads 4-byte halves of 8-byte lanes: deterministic garbage
    * buckets, i.e. silent recall loss). */
  def srpBucket(v: ArrayData, nBits: Int, seed: Long): Int = {
    val n = v.numElements()
    val planes = srpPlanes(seed, nBits, n)
    var out = 0
    var bit = 0
    while (bit < nBits) {
      val h = planes(bit)
      var s = 0.0
      var i = 0
      while (i < n) { s += v.getFloat(i).toDouble * h(i); i += 1 }
      if (s >= 0) out |= (1 << bit)
      bit += 1
    }
    out
  }

  /** [[srpBucket]] over array<double> vectors. Same planes, so a float vector
    * and its double widening land in the same bucket (sign pattern is
    * identical up to ties measure-zero in the plane distribution). */
  def srpBucketDouble(v: ArrayData, nBits: Int, seed: Long): Int = {
    val n = v.numElements()
    val planes = srpPlanes(seed, nBits, n)
    var out = 0
    var bit = 0
    while (bit < nBits) {
      val h = planes(bit)
      var s = 0.0
      var i = 0
      while (i < n) { s += v.getDouble(i) * h(i); i += 1 }
      if (s >= 0) out |= (1 << bit)
      bit += 1
    }
    out
  }
}
