package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale corpora: exact, MinHash+LSH,
  * SimHash and exact n-gram Jaccard. All are expressed as declarative
  * DataFrame plans so Catalyst handles pushdown/pruning; the only
  * shuffles are the ones the algorithms fundamentally need (group by
  * content key / band bucket / gram).
  *
  * Scale notes:
  *   - exact dedup shuffles once on a 32-byte content key (map-side
  *     partial aggregation applies);
  *   - MinHash/SimHash signatures are computed row-local (no shuffle),
  *     and candidate generation shuffles only (band, bucket) pairs —
  *     the classic LSH trade: O(rows × bands) small rows instead of
  *     O(rows²) comparisons;
  *   - pair verification joins only within buckets; a final exact
  *     Jaccard check removes LSH false positives.
  */
object Dedup {

  /** Exact duplicate clusters by normalized content key.
    * Returns (content_key, n_dups, canonical_id = min id).
    */
  def exactClusters(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), TextOps.content_key(col(textCol)).as("content_key"))
      .groupBy("content_key")
      .agg(count(lit(1)).as("n_dups"), min(col("id")).as("canonical_id"))

  /** Rows surviving exact dedup (keep the min-id row per content key) —
    * the standard "keep one representative" pass.
    */
  def dropExactDups(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keyed = df.withColumn("content_key", TextOps.content_key(col(textCol)))
    val keep = keyed.groupBy(col("content_key"))
      .agg(min(col(idCol)).as(idCol + "_keep"))
    keyed.join(keep,
               keyed("content_key") === keep("content_key") &&
                 col(idCol) === col(idCol + "_keep"))
      .select(df.columns.map(keyed(_)): _*)
  }

  /** Word n-gram (shingle) array, distinct (first occurrence wins),
    * from a text column. Texts with fewer than n words yield an empty
    * array (matches the SQL-oracle formulation exactly). One-pass
    * codegen'd expression.
    */
  def shingles(c: Column, n: Int): Column =
    HashOps.shingles_col(TextOps.words(c), n)

  /** MinHash signature of a shingle array: numHashes seeded hash
    * functions computed in ONE pass by the codegen'd
    * [[graft.ops.MinHashExpression]]. Row-local (no shuffle).
    */
  def minhashSignature(shingleArr: Column, numHashes: Int): Column =
    HashOps.minhash_col(shingleArr, numHashes)

  /** MinHash+LSH near-duplicate candidate pairs with exact-Jaccard
    * verification. Bands of `rowsPerBand` signature slots are hashed to
    * buckets; pairs sharing any bucket are verified with exact Jaccard
    * over shingle sets and kept when >= threshold.
    *
    * Contract. At threshold 1.0 the output is exactly the pairs with
    * equal shingle sets (equal sets give equal signatures, so they share
    * every band), unless bucket caps drop the pair from every band. Below
    * 1.0 it is a bounded subset of the exact-Jaccard pairs at that
    * threshold: every emitted pair is verified exactly, so there are no
    * false positives, but a pair whose signatures share no band is never
    * a candidate, so recall is the banding's collision probability, not
    * 1. Use [[ngramJaccardPairs]] when every pair is required.
    *
    * Scale shape: the banded exchange carries (band, bucket, id[, tag])
    * rows only; shingle arrays join back once per surviving candidate
    * pair ([[LshPairs.verifyJoin]]). Buckets are capped at `maxBucket`
    * rows so a near-identical-heavy corpus cannot blow one task up
    * quadratically; drops are counted in a named accumulator.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b.
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3, numHashes: Int = 32,
                      rowsPerBand: Int = 4, threshold: Double = 0.8,
                      maxBucket: Int = 1024,
                      acc: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    // exact-dup mode (threshold >= 1.0, the at-scale/pipeline setting):
    // signature EQUALITY is a lossless prefilter — equal shingle sets
    // imply equal minhash signatures, so a candidate pair with ANY
    // differing signature slot cannot reach jaccard 1.0. The prefilter
    // rides INSIDE pair generation as a per-row tag (a hash of the full
    // signature), so the pair set stays at the true-duplicate scale and
    // the verify join pins and prunes it (LshPairs' prune rule). Below
    // 1.0 no prefilter exists and the verify join stays one action.
    //
    // Signatures come from the FUSED words->gram-hash MinHash kernel
    // (HashOps.minhashText): the word array and every gram string are
    // never materialized for banding; rows with < shingleN words come
    // back null and are dropped.
    val exactOnly = threshold >= 1.0
    val banded = df
      .select(col(idCol).cast("long").as("id"),
              HashOps.minhash_text_col(col(textCol), shingleN, numHashes)
                .as("sig"))
      .filter(col("sig").isNotNull)
      .select(
        col("id") +: (if (exactOnly) Seq(xxhash64(col("sig")).as("tag")) else Nil) :+
        posexplode(HashOps.band_buckets_col(col("sig"), rowsPerBand))
          .as(Seq("band", "bucket")): _*)
    val cand = LshPairs.cappedIdPairs(banded, maxBucket, acc, matchTag = exactOnly)
    // pinned, shingles are computed only for the pair-surviving ids;
    // unpinned, rows without shingles (they never pair) drop before the
    // joins
    val texts = df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
    LshPairs.verifyJoin(
        cand,
        if (exactOnly) texts else texts.filter(size(shingles(col("text"), shingleN)) > 0),
        pinned = exactOnly, payload = shingles(_, shingleN))
      .transform(jaccardAtLeast(threshold))
  }

  /** (id_a, id_b, jaccard) of verified pairs whose shingle sets
    * (payload_a, payload_b) reach `threshold`, compared before rounding.
    */
  private[ops] def jaccardAtLeast(threshold: Double)(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("inter", size(array_intersect(col("payload_a"), col("payload_b"))).cast("double"))
      .withColumn("uni", size(array_union(col("payload_a"), col("payload_b"))).cast("double"))
      .withColumn("jaccard_raw", col("inter") / greatest(col("uni"), lit(1.0)))
      .filter(col("jaccard_raw") >= threshold) // filter BEFORE rounding
      .withColumn("jaccard", round(col("jaccard_raw"), 4))
      .select("id_a", "id_b", "jaccard")

  /** 64-bit SimHash over word tokens, computed in one pass by the
    * codegen'd [[graft.ops.SimHash64Expression]]. Row-local.
    */
  def simhash64(c: Column): Column = HashOps.simhash_col(TextOps.words(c))

  /** SimHash near-dup pairs: bucket by 4 x 16-bit bands (a pair within
    * hamming distance <=3 of each other shares at least one exact band —
    * pigeonhole), verify by popcount(xor) <= maxHamming. Buckets capped
    * like [[minhashNearDups]]; signatures joined back per pair.
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, maxBucket: Int = 1024): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("id"),
                         simhash64(col(textCol)).as("sim"))
    val banded = base.select(
      col("id"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sim"), b * 16).bitwiseAND(lit(0xffffL))): _*))
        .as(Seq("band", "bucket")))
    LshPairs.verifyJoin(LshPairs.cappedIdPairs(banded, maxBucket), base,
                        pinned = false)
      .withColumn("hamming", bit_count(col("payload_a").bitwiseXOR(col("payload_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Exact n-gram Jaccard similarity for all pairs sharing at least one
    * gram — fully SQL-expressible (the DuckDB oracle runs the same
    * algebra). Intended for bounded subsets; the LSH variants are the
    * scale path.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double): DataFrame = {
    val grams = df.select(col(idCol).cast("long").as("id"),
                          explode(shingles(col(textCol), n)).as("gram"))
    val sizes = grams.groupBy("id").agg(countDistinct("gram").as("n_grams"))
    val a = grams.select(col("id").as("id_a"), col("gram"))
    val b = grams.select(col("id").as("id_b"), col("gram"))
    val inter = a.join(b, "gram").filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_grams", "na"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_grams", "nb"), "id_b")
      .withColumn("jaccard_raw",
        col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jaccard_raw") >= threshold) // matches the SQL oracle:
      // threshold applies to the unrounded value, rounding is output-only
      .withColumn("jaccard", round(col("jaccard_raw"), 4))
      .select("id_a", "id_b", "jaccard")
  }
}
