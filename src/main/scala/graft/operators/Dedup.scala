package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection at corpus scale: MinHash+LSH, SimHash with
  * pigeonhole banding, and n-gram Jaccard verification.
  *
  * Scale shape (the part that matters at 100 TB):
  *  - signatures/buckets are computed per-row (narrow, codegen'd — the
  *    whole signature pipeline is built-in higher-order functions, no
  *    UDFs);
  *  - candidate generation is an equi-join on (band, bucket-hash), i.e.
  *    ONE shuffle keyed by bucket, never an O(n²) cross join;
  *  - exact verification runs only on bucket-collision pairs.
  * Bucket skew (a hot bucket from boilerplate text) is the known failure
  * mode — AQE skew-join handles moderate cases; pathological buckets are
  * count-capped via `maxBucket` (run exact dedup FIRST: a clone cluster
  * is hot in every band, so the cap would drop it wholesale, which is
  * the right call only once identical copies are already collapsed).
  */
object Dedup {

  /** Distinct word n-grams (space-joined). */
  def wordNgrams(tokens: Column, n: Int): Column =
    array_distinct(
      transform(sequence(lit(1), greatest(size(tokens) - (n - 1), lit(1))),
        i => array_join(slice(tokens, i, lit(n)), " ")))

  /** Exact Jaccard similarity of two distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - inter)
  }

  /** Distinct hashed word n-grams, EXPLODED: one (id, gh) row per
    * distinct n-gram, built entirely from codegen'd expressions.
    *
    * Why not an array column of n-grams? Array construction via
    * `transform(sequence, i -> array_join(slice(...)))` is an interpreted
    * higher-order function (CodegenFallback) — several seconds per
    * million grams. Exploding the POSITIONS first and assembling each
    * gram with `concat_ws`/`get` keeps everything in whole-stage codegen,
    * and the row form is exactly what the signature aggregation and the
    * sparse-join Jaccard verification consume. Grams are hashed to 64-bit
    * longs (collision odds ~1e-15 per pair — far below any threshold).
    *
    * Shorter-than-n docs produce their full token window as one gram
    * (concat_ws skips the missing tail), matching [[wordNgrams]].
    */
  def explodedNgrams(df: DataFrame, idCol: String, textCol: String, n: Int = 3,
                     keep: Seq[String] = Nil): DataFrame = {
    val keepCols = keep.map(col)
    // Per-doc gram dedup happens ROW-LOCALLY (array_distinct on the
    // per-doc hash array before explode), replacing the former
    // dropDuplicates(id, gh) — that was a full shuffle of the exploded
    // gram frame, the largest frame in every dedup pipeline; this shape
    // emits the identical (id, gh) set with ZERO exchanges (A/B'd at
    // sf0.1: ~35% faster here, and the removed shuffle is O(total
    // grams) network at cluster scale). NgramHash keeps the fused
    // token-slice hashing; `keep` columns are per-doc constants so they
    // ride along unchanged.
    val hashes = transform(
      sequence(lit(0), greatest(size(col("t")) - n, lit(0))),
      i => graft.functions.NgramKernels.ngramHashCol(col("t"), i, n))
    // NOT spreadToCores'd (measured: +0.3-0.8 s on every consumer):
    // xxhash64 gram hashing is cheap enough that fanning the single-
    // row-group scan across cores costs more in exchange overhead than
    // the single-threaded map stage saves — unlike the md5-based
    // kmGramFrame, where the same spread measured 0.3-0.6x
    df.select(col(idCol).as("id") +: col(textCol).as("__text") +: keepCols: _*)
      .select(col("id") +: TextAnalysis.wordTokens(col("__text")).as("t") +: keepCols: _*)
      .select(col("id") +: explode(array_distinct(hashes)).as("gh") +: keepCols: _*)
  }

  /** MinHash signatures via explode + grouped min aggregates.
    *
    * The naive shape — nested `transform(seeds, s -> array_min(
    * transform(shingles, h -> hash(s, h))))` — is correct but runs
    * INTERPRETED: Spark's higher-order functions are CodegenFallback, so
    * every per-element hash pays expression-tree dispatch (~1 µs; 74 s
    * for 5k docs × 430 shingles × 32 hashes). Exploding instead puts the
    * 32 `xxhash64` calls per shingle inside whole-stage codegen, and
    * map-side partial aggregation collapses the explosion back to
    * |docs| × numHashes before the (tiny) shuffle. Same result, ~30×
    * faster, and the explode never amplifies shuffled bytes at scale.
    */
  def minhashSignatures(explodedGrams: DataFrame, numHashes: Int): DataFrame = {
    val aggs = (0 until numHashes).map(s => min(xxhash64(lit(s), col("gh"))).as(s"m$s"))
    explodedGrams.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"), array((0 until numHashes).map(s => col(s"m$s")): _*).as("sig"))
  }

  /** Drop grams whose document frequency (within `keyCols` + the gram
    * hash) exceeds `maxDocFreq` — the exact-Jaccard sibling of
    * [[capBuckets]]. A boilerplate gram shared by m same-key docs turns
    * the gram-equality pair join quadratic (m·(m−1)/2 rows from that one
    * gram); rare-gram Jaccard is the standard fix. The hot set is found
    * with one grouped count (map-side combined — the shuffle carries
    * distinct grams, not gram occurrences) and removed with a BROADCAST
    * anti-join, so the gram frame itself never reshuffles. Sizes must be
    * computed from the capped frame (callers here do), keeping the
    * Jaccard a true rare-gram Jaccard rather than a biased estimate.
    */
  def capGramDocFreq(grams: DataFrame, maxDocFreq: Int,
                     keyCols: Seq[String] = Nil): DataFrame =
    if (maxDocFreq == Int.MaxValue) grams
    else {
      val keys = keyCols :+ "gh"
      val hot = grams.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__df")).filter(col("__df") > maxDocFreq)
        .select(keys.map(k => col(k).as(s"__hot_$k")): _*)
      grams.join(broadcast(hot),
        keys.map(k => col(k) === col(s"__hot_$k")).reduce(_ && _), "left_anti")
    }

  /** Candidate pairs via banded MinHash-LSH.
    *
    * @param df       input with an id column and a text column
    * @param bands    number of LSH bands
    * @param rowsPer  signature rows per band (bands*rowsPer hashes total)
    * @return distinct (a_id, b_id) with a_id < b_id
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        bands: Int = 8, rowsPer: Int = 4,
                        maxBucket: Int = Int.MaxValue): DataFrame =
    candidatesFromGrams(explodedNgrams(df, idCol, textCol), bands, rowsPer, maxBucket)

  /** Drop LSH buckets holding more than `maxBucket` members before the
    * pair join. A boilerplate bucket of size m yields m·(m−1)/2
    * candidates — the quadratic failure mode at corpus scale; docs that
    * really are near-dups still meet in their OTHER, sparser buckets
    * (multi-band redundancy), so the cap trades a sliver of recall on
    * boilerplate for a hard bound on join fan-out.
    */
  private def capBuckets(banded: DataFrame, maxBucket: Int): DataFrame =
    if (maxBucket == Int.MaxValue) banded
    else {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "key")
      banded.withColumn("__bn", count(lit(1)).over(w))
        .filter(col("__bn") <= maxBucket).drop("__bn")
    }

  private def candidatesFromGrams(grams: DataFrame, bands: Int, rowsPer: Int,
                                  maxBucket: Int = Int.MaxValue): DataFrame = {
    val banded = capBuckets(minhashSignatures(grams, bands * rowsPer)
      .select(col("id"), posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * rowsPer + lit(1), lit(rowsPer))))))
      .toDF("doc_id", "band", "key"), maxBucket)
    bandCandidates(banded).select(col("doc_id").as("a_id"), col("b_id")).distinct()
  }

  /** MinHash-LSH near-dup pairs, verified with exact n-gram-set Jaccard
    * ≥ threshold via the sparse join: a candidate pair's intersection is
    * counted by joining its two gram sets on the gram hash — no per-pair
    * set materialization anywhere.
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double, bands: Int = 8, rowsPer: Int = 4,
                      maxBucket: Int = Int.MaxValue,
                      maxDocFreq: Int = Int.MaxValue): DataFrame = {
    // materialized once (strategy via [[Materialize]]): signatures + both
    // Jaccard sides + sizes would otherwise recompute the gram dedup
    // shuffle four times (local timing is a wash — 5-run A/B within noise
    // — but one exchange vs four is the scale-correct shape). The doc-
    // frequency cap applies BEFORE signatures so the whole pipeline —
    // buckets, intersections, sizes — sees the same rare-gram universe.
    val grams = Materialize(
      capGramDocFreq(explodedNgrams(df, idCol, textCol), maxDocFreq))
    minhashNearDupsFromGrams(grams, threshold, bands, rowsPer, maxBucket)
  }

  /** [[minhashNearDups]] over a caller-built (and ideally already
    * materialized + doc-frequency-capped) exploded gram frame — lets a
    * caller that needs the gram frame for its own joins (e.g. a recall
    * audit computing the exact truth set) pay the gram pipeline once.
    */
  def minhashNearDupsFromGrams(grams: DataFrame, threshold: Double,
                               bands: Int = 8, rowsPer: Int = 4,
                               maxBucket: Int = Int.MaxValue): DataFrame = {
    val cands = candidatesFromGrams(grams, bands, rowsPer, maxBucket)
    verifyJaccard(cands, grams, threshold)
  }

  /** Exact Jaccard over candidate pairs from an exploded gram frame:
    * inter(a,b) = |join of a's and b's grams|; sizes from a grouped count.
    */
  def verifyJaccard(cands: DataFrame, grams: DataFrame, threshold: Double): DataFrame = {
    // aliased selects (not .as("x")): `grams` may arrive checkpointed, and
    // dataset-alias self-joins over a checkpointed frame hit the
    // AttributeMap analyzer bug; fresh exprIds via plain selects don't
    val ga = grams.select(col("id").as("ga_id"), col("gh").as("ga_gh"))
    val gb = grams.select(col("id").as("gb_id"), col("gh").as("gb_gh"))
    val sizes = grams.groupBy(col("id")).agg(count(lit(1)).cast("double").as("n"))
    val na = sizes.select(col("id").as("na_id"), col("n").as("na_n"))
    val nb = sizes.select(col("id").as("nb_id"), col("n").as("nb_n"))
    cands
      .join(ga, col("a_id") === col("ga_id"))
      .join(gb, col("b_id") === col("gb_id") && col("ga_gh") === col("gb_gh"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).cast("double").as("inter"))
      .join(na, col("a_id") === col("na_id"))
      .join(nb, col("b_id") === col("nb_id"))
      .select(col("a_id"), col("b_id"),
        (col("inter") / (col("na_n") + col("nb_n") - col("inter"))).as("jac_raw"))
      .filter(col("jac_raw") >= threshold) // threshold on the RAW value
      .select(col("a_id"), col("b_id"), round(col("jac_raw"), 6).as("jaccard_sim"))
  }

  /** 64-bit SimHash from PRE-HASHED tokens: each bit's counter is a
    * static codegen'd fold (the bit index is a compile-time constant, so
    * no dynamic shifts), reading a materialized long array. Callers must
    * stage the token hashes in their own projection — inlining the hash
    * here would recompute it for every one of the 64 folds.
    */
  def simhashFromHashes(tokenHashes: Column): Column = {
    val bitCols = (0 until 64).map { i =>
      val votes = aggregate(tokenHashes, lit(0),
        (acc, h) => acc + when(shiftrightunsigned(h, i).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1))
      when(votes > 0, lit(1L << i)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** Convenience: simhash of a token array (stages internally when used
    * through [[simhashNearDups]]).
    */
  def simhash64(tokens: Column): Column =
    simhashFromHashes(transform(tokens, t => xxhash64(t)))

  /** SimHash signatures via explode + LANE-PACKED grouped bit-vote sums
    * — the codegen'd sibling of [[simhashFromHashes]] (same
    * interpreted-HOF rationale as [[minhashSignatures]]).
    *
    * Votes are packed 2-per-long in 32-bit lanes: accumulator j sums
    * bits 2j and 2j+1 of each token hash shifted into disjoint lanes,
    * so the aggregation carries 32 longs + a count instead of 64
    * conditional ±1 sums (2× smaller agg buffer, no branches in the
    * update path — pure shift/mask/add, all inside whole-stage
    * codegen). 32-bit lanes rather than 4×16: under Spark 4's default
    * ANSI mode a signed-long sum that crosses 2⁶³ THROWS, and a 16-bit
    * top lane at offset 48 crosses it at 32 768 set bits — real
    * documents can exceed that; with the top lane at offset 32 the
    * accumulator stays below 2⁶³ for any doc under 2³¹ tokens, and
    * lanes can't carry into each other either. Bit i of the signature
    * is set iff 2·ones_i > n — identical tie behavior to the ±1-vote
    * form (sum > 0 ⟺ ones > n/2).
    */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val exploded = df
      .select(col(idCol).as("id"),
        explode(TextAnalysis.wordTokens(col(textCol))).as("tok"))
      .select(col("id"), xxhash64(col("tok")).as("h"))
    val laneAggs = (0 until 32).map { j =>
      val packed =
        shiftrightunsigned(col("h"), 2 * j).bitwiseAND(lit(1L)) +
        shiftrightunsigned(col("h"), 2 * j + 1).bitwiseAND(lit(1L)) * lit(1L << 32)
      sum(packed).as(s"acc$j")
    }
    val aggs = laneAggs :+ count(lit(1)).as("n")
    exploded.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"),
        (for { j <- 0 until 32; k <- 0 until 2 } yield {
          val ones = shiftrightunsigned(col(s"acc$j"), 32 * k).bitwiseAND(lit(0xFFFFFFFFL))
          when(ones * 2 > col("n"), lit(1L << (2 * j + k))).otherwise(lit(0L))
        }).reduce(_ + _).as("sim"))
  }

  /** SimHash near-dup pairs: pigeonhole on four 16-bit bands (hamming ≤ 3
    * guarantees ≥ 1 identical band), then verify with the exact Hamming
    * distance — [[hammingPairs]] over [[sliceBands]], `hamming` as a long.
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3,
                      maxBucket: Int = Int.MaxValue): DataFrame = {
    val withSig = simhashSignatures(df, idCol, textCol)
      .select(col("id").as("doc_id"), col("sim").as("h64"))
    hammingPairs(sliceBands(withSig, maxBucket), maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming").cast("long").as("hamming"))
  }

  /** Four 16-bit slice bands of a 64-bit `(doc_id, h64)` frame: one
    * `(doc_id, h64, band, key)` row per band, `key` = bits
    * `16·band … 16·band+15`. Pigeonhole-complete for Hamming ≤ 3 (any
    * pair within the radius agrees on ≥ 1 whole band); wider radii only
    * lose recall. `maxBucket` caps hot `(band, key)` buckets
    * ([[capBuckets]]).
    */
  def sliceBands(hashed: DataFrame, maxBucket: Int = Int.MaxValue): DataFrame =
    capBuckets(hashed.select(col("doc_id"), col("h64"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("key", expr("shiftright(h64, band * 16)").bitwiseAND(lit(0xFFFFL))),
      maxBucket)

  /** The banded candidate self-join: rows of `banded` that agree on
    * `(band, key)` — whatever produced those keys (MinHash band hashes,
    * hash slices for SimHash and the image/video hashes, melody-contour
    * bands for audio) — paired with `doc_id < b_id`. Each `carry`
    * column rides along on both sides (`c` and `b_c`) for the caller's
    * verify. Materialized once before the self-join: otherwise BOTH
    * sides re-run the whole upstream plan (the signature aggregation,
    * or the media synth + decode + DSP pass). The pinned frame is
    * signature-sized (a few rows per doc), never payload-sized.
    */
  private[graft] def bandCandidates(banded: DataFrame, carry: String*): DataFrame = {
    // fresh-exprId right side: .as("l")/.as("r") over a checkpointed
    // frame trips the AttributeMap analyzer bug
    val mat = Materialize(banded.select(("doc_id" +: carry :+ "band" :+ "key").map(col): _*))
    val right = mat.select(col("doc_id").as("b_id") +: carry.map(c => col(c).as(s"b_$c")) :+
      col("band").as("b_band") :+ col("key").as("b_key"): _*)
    mat.join(right,
      col("band") === col("b_band") && col("key") === col("b_key") &&
        col("doc_id") < col("b_id"))
  }

  /** Near-duplicate pairs of a banded 64-bit frame `(doc_id, h64, band,
    * key)`: [[bandCandidates]], then the exact `bit_count(xor) ≤
    * maxHamming` verify, distinct `(a_id, b_id, hamming: int)`. The one
    * Hamming pair join behind SimHash and the image, video and audio
    * near-dup operators; never an all-pairs comparison.
    */
  def hammingPairs(banded: DataFrame, maxHamming: Int): DataFrame =
    bandCandidates(banded, "h64")
      .select(col("doc_id").as("a_id"), col("b_id"),
        bit_count(col("h64").bitwiseXOR(col("b_h64"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
}
