package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** Incremental near-duplicate maintenance: check each crawl round's NEW
  * documents against a persisted LSH index instead of re-running dedup
  * over the whole corpus.
  *
  * Why it exists at 100 TB: a training-data pipeline ingests documents
  * in rounds (this engine's crawl commits docs per scheduling round —
  * reference behavior it scales: recursive discovery keeps appending,
  * indeed/main.go:66-70). Batch [[Dedup.minhashNearDups]] is
  * O(|corpus|) per run, so re-running it per round makes cumulative
  * dedup cost quadratic in rounds. This operator makes the per-round
  * cost O(|new| + |touched buckets|):
  *
  *   - the index is two append-only parquet tables under `indexDir`:
  *     `bands` (band, bucket, id, tag — the skinny LSH postings; `tag`
  *     is the xxhash64 of the row's full minhash signature, feeding the
  *     exact-dup prefilter at pair emission) and
  *     `shingles` (id, sh — the verification payloads), one `r<k>`
  *     subdirectory per ingest round (same LSM cadence as the crawl's
  *     seen state). Reads take only rounds present in BOTH tables and
  *     a round's writes go to its own slot with overwrite semantics,
  *     so an append that dies between the two writes is invisible to
  *     readers and simply redone — never served half, never duplicated;
  *   - a round computes signatures for NEW docs only (row-local,
  *     codegen'd one-pass [[MinHashExpression]]);
  *   - candidate generation joins the new bands against the index on
  *     (band, bucket) — Catalyst plans a shuffle of the NEW side and
  *     the matching index partitions only; buckets the new docs never
  *     touch are pruned by the join, not scanned quadratically;
  *   - within a touched bucket, pairs must include >= 1 new id (an
  *     old-old pair was already emitted in the earlier doc-arrival
  *     round), so each unordered pair is emitted exactly once across
  *     all rounds: in the arrival round of its LATER member;
  *   - pairs come from [[LshPairs.cappedNewPairs]] (buckets capped to
  *     their smallest ids, counted drops — never silent) and verify
  *     through [[LshPairs.verifyJoin]], pinned and pruned; the round
  *     protocol (slots, reads, append, compaction) is
  *     [[RoundSlots.bandIndexRound]].
  *
  * Exactness contract (pinned in OpsSpecs and oracled as q62): with
  * caps not engaged, the UNION of per-round incremental outputs equals
  * the batch [[Dedup.minhashNearDups]] output on the final corpus —
  * band hashing does not depend on arrival round, so bucket membership
  * at the end of round r is exactly the batch membership restricted to
  * docs seen so far. Under engaged caps the incremental union is a
  * superset of the batch output (early rounds cap over fewer members),
  * which is the desirable direction for dedup recall.
  */
object IncrementalLsh {

  /** Skinny LSH posting rows (band, bucket, id) of a corpus slice —
    * identical banding to [[Dedup.minhashNearDups]], so incremental and
    * batch bucket membership agree by construction.
    */
  def bands(df: DataFrame, idCol: String, textCol: String,
            shingleN: Int = 3, numHashes: Int = 32,
            rowsPerBand: Int = 4): DataFrame =
    bandsFromShingled(
      df.select(col(idCol).cast("long").as("id"),
                Dedup.shingles(col(textCol), shingleN).as("sh"))
        .filter(size(col("sh")) > 0),
      numHashes, rowsPerBand)

  /** [[bands]] over an already-shingled (id, sh) frame — lets
    * roundPairs derive postings from its PERSISTED shingle slice
    * instead of re-evaluating the caller's source plan a second time.
    *
    * Each posting also carries `tag` = xxhash64 of the FULL minhash
    * signature — the same per-row tag [[Dedup.minhashNearDups]] feeds
    * its exact-dup prefilter. Storing it with the posting costs 8
    * bytes/row and lets threshold-1.0 incremental rounds suppress
    * sig-unequal candidates AT EMISSION, instead of re-reading the fat
    * shingle store to recompute every signature for a post-hoc filter.
    */
  def bandsFromShingled(shingled: DataFrame, numHashes: Int,
                        rowsPerBand: Int): DataFrame =
    shingled
      .withColumn("sig", Dedup.minhashSignature(col("sh"), numHashes))
      .select(
        col("id"),
        xxhash64(col("sig")).as("tag"),
        posexplode(HashOps.band_buckets_col(col("sig"), rowsPerBand))
          .as(Seq("band", "bucket")))

  /** Fold all complete rounds into a fresh single-slot generation
    * (crash-safe: committed by marker, old generation serves until
    * then) and drop superseded generations. Call on the same cadence
    * as the crawl's seen-state compaction.
    */
  def compact(spark: SparkSession, indexDir: String): Boolean =
    RoundSlots.compactBandIndex(spark, indexDir, "shingles")

  /** One maintenance round: verified near-dup pairs of `newDocs`
    * against the index (and among themselves), then the index is
    * appended with the new round's postings + shingles.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b — the same output
    * contract as [[Dedup.minhashNearDups]]. Verification is exact
    * Jaccard over shingle sets, joined back once per surviving pair
    * from the shingle store (old side) / the new slice (new side) —
    * fat arrays never ride the banded exchange, matching the batch
    * operator's scale shape.
    *
    * The result is materialized (it is also the precondition for the
    * index append — pairs must be computed against the PRE-append
    * index); callers get a small already-computed frame back.
    * `slot` and `compactEvery` follow [[RoundSlots.bandIndexRound]].
    */
  def roundPairs(spark: SparkSession, indexDir: String, newDocs: DataFrame,
                 idCol: String, textCol: String,
                 shingleN: Int = 3, numHashes: Int = 32,
                 rowsPerBand: Int = 4, threshold: Double = 0.8,
                 maxBucket: Int = 1024,
                 acc: Option[LongAccumulator] = None,
                 compactEvery: Int = 0,
                 slot: Option[Int] = None): DataFrame = {
    import spark.implicits._
    RoundSlots.bandIndexRound(
        spark, indexDir, "shingles",
        emptyBands = Seq.empty[(Int, Long, Long, Long)]
          .toDF("band", "bucket", "id", "tag"),
        emptyPayload = spark.emptyDataset[(Long, Seq[String])].toDF("id", "sh"),
        newPayload = newDocs
          .select(col(idCol).cast("long").as("id"),
                  Dedup.shingles(col(textCol), shingleN).as("sh"))
          .filter(size(col("sh")) > 0),
        bandsOf = bandsFromShingled(_, numHashes, rowsPerBand),
        slot = slot, compactEvery = compactEvery) { (oldBands, newBands, shingles) =>
      // exact-dup mode (threshold >= 1.0): the signature tag STORED with
      // each posting is the same lossless prefilter as the batch
      // operator's, applied at pair emission — no re-read of the fat
      // shingle store. A posting written before the tag existed reads
      // back with a null tag, which matches any tag: it loses only the
      // prefilter, and the exact verification still decides.
      LshPairs.verifyJoin(
          LshPairs.cappedNewPairs(oldBands, newBands, maxBucket, acc,
                                  matchTag = threshold >= 1.0),
          shingles, pinned = true)
        .transform(Dedup.jaccardAtLeast(threshold))
    }
  }
}
