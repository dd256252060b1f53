package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.blocking.Blocking
import graft.functions.GraftFunctions

/** Deduplication operators for large-scale training-data pipelines.
  * All are DataFrame-native (shuffle on content keys, no driver loops):
  *
  *  - exact:       hash-groupBy on text (one shuffle)
  *  - MinHash-LSH: shingle→minhash→band→salted bucket-join→exact verify
  *  - SimHash:     fingerprint banded into hamming-safe chunks (pigeonhole-
  *                 exact for maxHamming ≤ chunks-1), salted bucket join
  *  - n-gram Jaccard: token-set overlap verification within blocks
  *  - embedding cosine: SRP-LSH bucketed near-duplicate vectors
  *
  * Every pair-generating operator routes through
  * [[Blocking.saltedSelfJoinPairs]]: a hot band/chunk/block key is split
  * into ceil(n/cap) salts over the two-role salt grid, so no single join task
  * ever co-joins more than ~2·cap rows — the quadratic-hot-bucket failure
  * mode at 10^9 docs is bounded by construction, with zero recall loss.
  * Oversized blocks can additionally be dropped (maxBlock > 0, counted via
  * [[Blocking.blockStats]], never silent); the exact-result operators default
  * to maxBlock = 0, and the first-collision operators (minhash,
  * hamming/simhash) reject maxBlock > 0.
  *
  * The grid materializes its entries with a lazy local checkpoint, freed
  * once the returned frame is unreachable. Under AQE a lazy checkpoint runs
  * the shuffle stages below it when it is planned, so a pair-generating
  * operator call already reads its input and aggregates the block sizes
  * before any action on its result.
  */
object Dedup {

  /** Spread a SMALL input before an expensive per-row expansion (minhash
    * signatures, gram arrays, shingles): a sub-parallelism source — e.g. one
    * small parquet file, which Spark's split packing reads as a single task
    * — otherwise runs the whole expansion on one core before the first
    * exchange (measured: 2.2 s single-task stages on a 5k-doc corpus at 32
    * cores). Rows are repartitioned RAW (pre-expansion, when they are
    * cheapest to move); at real corpus sizes the scan has at least as many
    * partitions as the scheduler has slots and this is the identity.
    * Streaming frames pass through untouched (.rdd is illegal on them; the
    * micro-batch planner sizes those scans itself). */
  private[operators] def spread(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Exact duplicate groups: every row mapped to its group representative
    * (min id), plus the group size. One hash-partitioned aggregation. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("content_key"))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("group_size"))

  /** Summary counters of exact dedup (groups, duplicate rows removable). */
  def exactSummary(df: DataFrame, idCol: String, textCol: String): DataFrame =
    exact(df, idCol, textCol).agg(
      count(lit(1)).as("n_groups"),
      sum(col("group_size") - 1).as("n_dup_rows"))

  /** MinHash-LSH candidate pairs over whitespace-TOKEN shingles: rows
    * sharing any LSH band key become a candidate (id1 < id2, emitted once).
    * Token shingles (not char 3-grams) because the verifier
    * ([[minhashNearDup]]) computes distinct-token-set Jaccard — the LSH
    * collision probability is then a function of exactly the verified J.
    * Defaults (b=32, r=4) are the high-recall operating point:
    * P(miss | J = 0.9) = (1 − 0.9⁴)³² ≈ 1.4e−15; false candidates cost one
    * cheap Jaccard check each.
    *
    * FIRST-COLLISION emission (guide §2.3 "do fewer shuffles" applied to the
    * candidate stream): a near-dup-heavy corpus collides similar pairs in
    * MANY of the b bands at once — measured at sf0.1, 92.2M raw grid pair
    * rows for 10.5M distinct candidates (a 712 MB exchange plus two 92M-row
    * hash-aggregate dedup passes collapsing ~9× duplication). Each
    * side therefore carries its full band signature through the grid join
    * and a pair is emitted ONLY from the first band where the signatures
    * agree (`first_equal_index(bands₁, bands₂) == this band`): the same
    * candidate SET, each pair exactly once, no global pair-dedup shuffle.
    * (A pair co-occurring only through a cross-band 64-bit hash collision —
    * different band positions hashing to one key — is no longer emitted;
    * such pairs were never part of the same-band LSH recall guarantee and
    * arise with probability ~b²/2⁶⁴ per pair.)
    *
    * `maxBlock` must be 0: `first_equal_index` may name a band whose block
    * the over-cap gate dropped, and the pair would then vanish uncounted
    * (ROADMAP item C carries the root fix, a survived-keys mask). */
  def minhashCandidates(df0: DataFrame, idCol: String, textCol: String,
                        bands: Int = 32, rows: Int = 4, seed: Long = 42L,
                        cap: Int = 256, maxBlock: Int = 0): DataFrame = {
    requireNoBlockDrop(maxBlock)
    minhashCandidatesPruned(df0, idCol, textCol, bands, rows, seed, cap,
      maxBlock, sizeRatioTau = 0.0)
  }

  /** Until the first-collision rule learns which keys survived the over-cap
    * gate (ROADMAP item C), the operators using it refuse to drop blocks. */
  private def requireNoBlockDrop(maxBlock: Int): Unit =
    require(maxBlock == 0,
      s"maxBlock = $maxBlock: first-collision emission would silently lose pairs whose " +
        "first agreeing band is in a dropped block; pass maxBlock = 0 (root fix: " +
        "ROADMAP item C, a survived-keys mask per entry)")

  /** [[minhashCandidates]] with an optional EXACT-SAFE size-ratio prune
    * evaluated inside the grid join (sizeRatioTau > 0): each entry carries
    * its distinct-token-set size (4 bytes) and a pair is emitted only when
    * min/max ≥ τ — pairs that cannot reach token-Jaccard τ (J ≥ τ ⇒
    * |A|/|B| ∈ [τ, 1/τ]) die before the candidate exchange and the verify
    * joins instead of after them. Verification-path helper: with the prune
    * on, the output is the band-sharing pairs RESTRICTED to ratio-feasible
    * ones, exactly the set [[minhashNearDup]] must verify. */
  private[operators] def minhashCandidatesPruned(
      df0: DataFrame, idCol: String, textCol: String,
      bands: Int, rows: Int, seed: Long, cap: Int, maxBlock: Int,
      sizeRatioTau: Double): DataFrame = {
    val df = spread(df0)
    val prune = sizeRatioTau > 0.0
    val gsz = size(tokenNgrams(col(textCol), 1))
    val base = df.select(col(idCol).as("id"),
      GraftFunctions.minhash_token_bands(lower(col(textCol)), bands, rows, seed)
        .as("bands"),
      (if (prune) gsz else lit(0)).as("gsz"))
    val entries = base
      .select(col("id"), col("bands"), col("gsz"),
        posexplode(col("bands")).as(Seq("band_idx", "block_key")))
      .select("block_key", "id", "bands", "band_idx", "gsz")
    val payload = Seq("bands", "band_idx") ++ (if (prune) Seq("gsz") else Nil)
    val ratioOk =
      if (prune)
        least(col("gsz_1"), col("gsz_2")).cast("double") >=
          greatest(col("gsz_1"), col("gsz_2")) * sizeRatioTau
      else lit(true)
    Blocking.saltedSelfJoinPairs(
        entries.select(("block_key" +: "id" +: payload).map(col): _*),
        cap, maxBlock, payload = payload)
      .where(col("band_idx_1") === col("band_idx_2") &&
        GraftFunctions.first_equal_index(col("bands_1"), col("bands_2")) ===
          col("band_idx_1") && ratioOk)
      .select("id1", "id2")
  }

  /** MinHash near-duplicates = LSH candidates verified by exact token-set
    * Jaccard ≥ tau. The banded grid carries only signature metadata (band
    * array + 4-byte set size — never the token arrays); ratio-feasible
    * candidates then join the per-doc SORTED gram sets once per side and are
    * verified by the allocation-free merge kernel. `maxBlock` must be 0 (see
    * [[minhashCandidates]]). */
  def minhashNearDup(df: DataFrame, idCol: String, textCol: String, tau: Double,
                     bands: Int = 32, rows: Int = 4, seed: Long = 42L,
                     cap: Int = 256, maxBlock: Int = 0): DataFrame = {
    requireNoBlockDrop(maxBlock)
    // one explicit exchange on id1 between the grid and the verify joins:
    // the old pair-dedup shuffle used to play this role — without it the
    // candidate subtree (the expensive grid join) is inlined into BOTH
    // verify joins' builds and executes twice (measured: 2 × ~115 s CPU of
    // identical grid work at sf0.1). The exchange carries only the slim
    // (id1, id2) stream and is what the first join needs anyway.
    // It is NUMBERED: a by-column repartition is byte-sized by AQE, which
    // coalesced the sub-MB candidate stream into ONE partition — and the
    // verify joins plus the jaccard_sorted kernel behind it into one task
    // (measured at 6,000 pages on 4 cores: 55k pairs verified by a single
    // 2.5 s task, three cores idle). Verify tasks are CPU-dense per byte,
    // like the grid's; a numbered repartition is exempt from coalescing.
    // The count is at least one wave (defaultParallelism) and at least the
    // session's spark.sql.shuffle.partitions, so a cluster tuned for a
    // large corpus keeps its per-task verify tables small. Not the grid's
    // 8 waves: there a cores × 8 count measured slower and wrote 8× the
    // output files.
    // The exact-safe size-ratio prune (J ≥ τ ⇒ |A|/|B| ∈ [τ, 1/τ]) runs
    // INSIDE the grid join via a 4-byte size payload, so infeasible pairs
    // never reach the candidate exchange or the verify joins at all.
    val cands = minhashCandidatesPruned(df, idCol, textCol, bands, rows, seed,
        cap, maxBlock, sizeRatioTau = tau)
      .repartition(verifyPartitions(df.sparkSession), col("id1"))
    // grams sorted once per doc: the verify kernel is an allocation-free
    // linear merge (jaccard_sorted) instead of array_intersect's per-pair
    // hash set — the verify stage's dominant cost at ~10^8 pairs
    val grams = spread(df).select(col(idCol).as("id"),
      array_sort(tokenNgrams(col(textCol), 1)).as("g"))
    cands
      .join(grams.select(col("id").as("id1"), col("g").as("g1")), "id1")
      .join(grams.select(col("id").as("id2"), col("g").as("g2")), "id2")
      .select(col("id1"), col("id2"),
        GraftFunctions.jaccard_sorted(col("g1"), col("g2")).as("jaccard"))
      .where(col("jaccard") >= tau)
  }

  private def verifyPartitions(spark: SparkSession): Int =
    math.max(spark.sparkContext.defaultParallelism,
      spark.sessionState.conf.numShufflePartitions)

  /** Token n-gram Jaccard similarity column between two token-array columns
    * (distinct-set semantics, matching both engines' intersect). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(a) + size(b) - inter
    when(union === 0, lit(1.0)).otherwise(inter / union)
  }

  private def tokenNgrams(textCol: Column, n: Int): Column = {
    val toks = split(lower(textCol), " ")
    if (n == 1) array_distinct(toks)
    else {
      // sliding token windows joined by ''
      val idx = sequence(lit(0), greatest(size(toks) - n, lit(0)))
      array_distinct(transform(idx, i =>
        concat_ws("", slice(toks, i + 1, lit(n)))))
    }
  }

  /** Near-duplicate pairs by token n-gram Jaccard ≥ tau, blocked by
    * `blockCols` (never all-pairs: the self-join is block-local AND salted —
    * an `(en, web)`-sized hot block is salt-split across tasks). The
    * size-ratio prefilter (J ≥ τ ⇒ |A|/|B| ∈ [τ, 1/τ]) prunes pairs before
    * the array intersect without changing the result. */
  def ngramJaccardPairs(df0: DataFrame, idCol: String, textCol: String,
                        blockCols: Seq[String], n: Int, tau: Double,
                        cap: Int = 256, maxBlock: Int = 0): DataFrame = {
    val df = spread(df0)
    // empty blockCols = the unblocked (all-pairs) mode: one constant block —
    // still salted, so the task-size bound holds even without a blocking key
    val blockKey =
      if (blockCols.nonEmpty) xxhash64(blockCols.map(col): _*) else lit(0L)
    // grams sorted at entry construction: the per-pair verify is then the
    // allocation-free merge kernel (jaccard_sorted) instead of
    // array_intersect's per-pair hash set
    val entries = df.select(
      blockKey.as("block_key"),
      col(idCol).as("id"),
      array_sort(tokenNgrams(col(textCol), n)).as("grams"))
    val sz1 = size(col("grams_1")).cast("double")
    val sz2 = size(col("grams_2")).cast("double")
    Blocking.saltedSelfJoinPairs(entries, cap, maxBlock, payload = Seq("grams"))
      .where(least(sz1, sz2) >= greatest(sz1, sz2) * tau) // exact-safe prune
      .select(col("id1"), col("id2"),
        GraftFunctions.jaccard_sorted(col("grams_1"), col("grams_2")).as("jaccard"))
      .where(col("jaccard") >= tau)
  }

  /** Banded hamming near-dup join over any integral fingerprint column
    * (`id`, `fp`): the `bits`-bit fingerprint splits into `chunks` equal
    * bands; by pigeonhole any pair within hamming ≤ chunks−1 shares at least
    * one band, so banding + exact hamming filter is EXACT (not approximate)
    * for maxHamming ≤ chunks−1. Band buckets are salted like every other
    * pair join.
    *
    * FIRST-COLLISION emission (the [[minhashCandidates]] rule, here in pure
    * bit math): near-identical fingerprints agree on SEVERAL chunks, so the
    * grid emits each such pair once per agreeing chunk and the old global
    * dropDuplicates shuffled the whole quadratic candidate stream just to
    * collapse them. The chunk index rides the grid as payload, both sides'
    * chunk values are recomputed from fp₁ xor fp₂ in-join, and the pair is
    * kept only where its chunk is the FIRST agreeing one — same pair set,
    * exactly one emission, no pair-dedup exchange at all. `maxBlock` must be
    * 0 for the same reason as in [[minhashCandidates]]: the first agreeing
    * chunk's block may be the one the over-cap gate dropped. */
  def hammingNearDup(fps: DataFrame, bits: Int, chunks: Int, maxHamming: Int,
                     cap: Int = 256, maxBlock: Int = 0): DataFrame = {
    requireNoBlockDrop(maxBlock)
    require(maxHamming <= chunks - 1,
      s"$chunks-chunk banding guarantees recall only for hamming <= ${chunks - 1}")
    val width = bits / chunks
    val mask = (1L << width) - 1
    val entries = fps.select(col("id"), col("fp"),
      explode(array((0 until chunks).map(i =>
        struct(lit(i).as("c"),
          shiftright(col("fp"), i * width).bitwiseAND(lit(mask)).as("v"))): _*))
        .as("block_key"))
      .select(col("block_key"), col("id"), col("fp"), col("block_key.c").as("c"))
    val xorv = col("fp_1").bitwiseXOR(col("fp_2"))
    def chunkEq(i: Int) =
      shiftright(xorv, i * width).bitwiseAND(lit(mask)) === 0
    val firstEq = (0 until chunks).foldRight(lit(-1)) { (i, acc) =>
      when(chunkEq(i), lit(i)).otherwise(acc)
    }
    Blocking.saltedSelfJoinPairs(entries, cap, maxBlock, payload = Seq("fp", "c"))
      .where(firstEq === col("c_1"))
      .withColumn("hamming", bit_count(xorv))
      .where(col("hamming") <= maxHamming)
      .select("id1", "id2", "hamming")
  }

  /** SimHash near-duplicate pairs: 64-bit XXH64 simhash (one codegen pass,
    * SimHash64Expr) banded into four 16-bit chunks — exact for hamming ≤ 3.
    * `maxBlock` must be 0 (checked by [[hammingNearDup]]). */
  def simhashNearDup(df: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 3, seed: Long = 0L,
                     cap: Int = 256, maxBlock: Int = 0): DataFrame =
    hammingNearDup(
      df.select(col(idCol).as("id"),
        GraftFunctions.simhash64(lower(col(textCol)), seed).as("fp")),
      bits = 64, chunks = 4, maxHamming = maxHamming, cap = cap, maxBlock = maxBlock)

  /** Cross-engine-reproducible 60-bit token SimHash (md5-derived token
    * hashes, so a SQL oracle can recompute it bit-for-bit): per token,
    * h = first 15 md5 hex chars as a 60-bit int; fingerprint bit b is the
    * majority vote of token bits b. Same Charikar scheme as
    * [[graft.functions.Similarity.simHash64]], hash function swapped for
    * verifiability; the banded join downstream is the identical scale path. */
  def simhash60(df0: DataFrame, idCol: String, textCol: String): DataFrame = {
    val df = spread(df0)
    val tok = df.select(col(idCol).as("id"),
        explode(split(lower(col(textCol)), " ")).as("tok"))
      .where(col("tok") =!= "")
      .select(col("id"), conv(substring(md5(col("tok")), 1, 15), 16, 10)
        .cast("long").as("h"))
    val bitSums = (0 until 60).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"b$b"))
    tok.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"), (0 until 60).map(b =>
        when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
        .reduce(_ + _).as("fp"))
  }

  /** Cross-corpus shingle novelty (the CCNet/Falcon-style curation signal):
    * for each doc, the fraction of its DISTINCT token n-gram shingles whose
    * corpus-wide first owner (min doc id) is this doc. Low novelty = the
    * text is mostly recycled from earlier documents. Two shuffles, both
    * partial-aggregating: shingle→min-owner groupBy, then the ownership
    * join back (1:1 per exploded row — a hot shingle cannot fan out). */
  def shingleNovelty(df0: DataFrame, idCol: String, textCol: String,
                     n: Int = 5): DataFrame = {
    val df = spread(df0)
    val exploded = df
      .select(col(idCol).as("id"), explode(tokenNgrams(col(textCol), n)).as("g"))
    val owners = exploded.groupBy("g").agg(min(col("id")).as("owner"))
    exploded.join(owners, "g")
      .groupBy("id").agg(
        count(lit(1)).as("n_shingles"),
        (sum(when(col("owner") === col("id"), 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as("novel_frac"))
  }

  /** Embedding near-duplicate pairs: SRP-LSH bucket join (scale path — a
    * bucketed shuffle instead of an all-pairs cross join), exact-cosine
    * verified. `nBits = 0` degrades to brute force (testing / tiny inputs).
    *
    * The bucket self-join routes through [[Blocking.saltedSelfJoinPairs]]
    * like every other pair generator: web-scale embeddings CLUSTER (that is
    * the point of embedding them), so a dense SRP bucket is guaranteed at
    * 10^9 rows and a plain `bucket === bucket` join would hand one task
    * ~n²/2 pairs. The VECTOR travels as salted-join payload — unlike the
    * minhash/ngram operators (sparse candidates, ids-only is cheaper),
    * every bucket co-resident here IS a candidate, so the pair set is
    * quadratic in the bucket and joining vectors back at pair level costs
    * ~n_b²·|vec| shuffle bytes; payload replication costs only n_b·k·|vec|
    * (k = ceil(n_b/cap) ≪ n_b/2), and the cosine evaluates inside the join
    * with no further shuffle (measured 2.3× on q25).
    *
    * `tables` is the recall lever (the L-tables LSH construction — same
    * lever as [[Ann.srpTopK]] and the minhash BANDS): a pair is a candidate
    * if its two vectors agree on all `nBits` signs in ANY of the `tables`
    * independent SRP codes, so candidate recall at cosine τ is
    * 1 − (1 − p^nBits)^tables with p = 1 − arccos(τ)/π. A single table at
    * near-dup thresholds is a recall cliff (nBits = 12, τ = 0.9 → 0.16);
    * nBits = 8 × tables = 12 holds ~0.98 at τ = 0.9 for 12× the entry rows
    * — linear cost for exponential recall. Each table is an independent
    * block space (block_key = hash(table, bucket)); a pair sharing several
    * tables dedups at the end like every emitted pair. Symmetric self-join,
    * so no multiprobe needed (both sides land in all tables). */
  def embeddingNearDup(df0: DataFrame, idCol: String, vecCol: String,
                       tau: Double, nBits: Int = 12, seed: Long = 42L,
                       cap: Int = 256, maxBlock: Int = 0,
                       tables: Int = 1): DataFrame = {
    val df = spread(df0)
    val entries =
      if (nBits <= 0)
        df.select(lit(0L).as("block_key"), col(idCol).as("id"), col(vecCol).as("v"))
      else if (tables <= 1)
        df.select(GraftFunctions.srp_bucket(col(vecCol), nBits, seed).as("block_key"),
          col(idCol).as("id"), col(vecCol).as("v"))
      else
        df.select(col(idCol).as("id"), col(vecCol).as("v"),
          explode(array((0 until tables).map(t =>
            xxhash64(lit(t),
              GraftFunctions.srp_bucket(col(vecCol), nBits, seed + 7919L * t))): _*))
            .as("block_key"))
    Blocking.saltedSelfJoinPairs(entries, cap, maxBlock, payload = Seq("v"))
      .select(col("id1"), col("id2"),
        GraftFunctions.cosine_sim(col("v_1"), col("v_2")).as("cosine"))
      .where(col("cosine") >= tau)
      .dropDuplicates("id1", "id2")
  }

  /** The (block_key = SRP bucket, id) entry table behind [[embeddingNearDup]]
    * — exposed so the planted-dense-bucket bound test can assert the per-task
    * row bound the salt grid guarantees. */
  private[graft] def embeddingEntries(df: DataFrame, idCol: String, vecCol: String,
                                      nBits: Int, seed: Long): DataFrame = {
    val bucket =
      if (nBits <= 0) lit(0) else GraftFunctions.srp_bucket(col(vecCol), nBits, seed)
    df.select(bucket.as("block_key"), col(idCol).as("id"))
  }
}
