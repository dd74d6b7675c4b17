package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** The LSH candidate-and-verify core of the dedup/similarity family:
  * band the rows, emit capped candidate pairs within each
  * (band, bucket), verify every pair exactly against its payloads.
  *
  * Callers:
  *   - [[Dedup.minhashNearDups]] — MinHash bands, tag-matched at
  *     threshold 1.0, exact-Jaccard verify;
  *   - [[Dedup.simhashNearDups]] — SimHash 16-bit bands, hamming verify;
  *   - [[Similarity.cosineNearDups]] — [[hyperplaneBands]], exact-cosine
  *     verify;
  *   - [[IncrementalLsh.roundPairs]] / [[IncrementalAnn.roundPairs]] —
  *     [[cappedNewPairs]] against a persisted band index, then the same
  *     verify as their batch operators;
  *   - [[Similarity.lshTopK]] — [[hyperplaneBands]] and, per
  *     (query, table, bucket), [[keepSmallest]].
  *
  * Capping. An LSH self-join explodes quadratically on a pathological
  * bucket: a corpus that is mostly near-identical lands m rows in one
  * (band, bucket) and would yield m² pairs in one task. Every bucket
  * keeps its `cap` smallest ids — deterministic, O(cap) task memory,
  * O(cap²) task output — and the rows it drops are counted in a named
  * `LongAccumulator`. Task retries and repeated actions over an
  * un-cached result re-add their counts, so read it as a saw-truncation
  * indicator and upper bound, not an exact tally. A row dropped from one
  * bucket can still pair through its other bands, so recall degrades
  * gracefully instead of the job dying.
  *
  * The banded input carries (band, bucket, id[, tag]) only: fat payloads
  * (shingle arrays, vectors) join back once per surviving pair in
  * [[verifyJoin]], never replicated bands× through the pair exchange.
  *
  * Prune rule. [[verifyJoin]] pins and prunes (checkpoint, count, payload
  * lookup semi-joined to pair ids, measured-count broadcast guards) only
  * when the candidates are tag-matched or an index append follows: then
  * the pair set is a sliver of the input, or it must be fixed before the
  * index changes. Otherwise the candidate set is O(bucket overlap) of the
  * input, and the pin's extra actions cost more than joining the whole
  * payload once.
  */
object LshPairs {

  /** Distinct (id_a, id_b) candidate pairs (id_a < id_b) from rows
    * sharing a (band, bucket), each bucket capped to its `cap` smallest
    * ids. `banded` needs columns (band, bucket, id), int/long-castable.
    *
    * `matchTag`: when true, `banded` must additionally carry a long
    * `tag` column and a pair is emitted only when both members' tags
    * are equal. This is the in-generation form of the exact-dup
    * signature prefilter (tag = a hash of the full minhash signature):
    * at verification threshold 1.0 a pair with differing signatures
    * cannot verify, and suppressing it here keeps the pair set at the
    * true-duplicate scale instead of the O(bucket²) candidate scale.
    * Tag collisions only add candidates (removed by the exact verify);
    * the cap keeps the same smallest-id bucket members regardless of
    * tags. A null tag matches any tag.
    */
  def cappedIdPairs(banded: DataFrame, cap: Int,
                    acc: Option[LongAccumulator] = None,
                    matchTag: Boolean = false): DataFrame =
    cappedPairs(postings(banded, isNew = true, matchTag), cap, acc)

  /** Distinct capped candidate pairs (id_a < id_b) touching >= 1 row of
    * `newBands`: the incremental form of [[cappedIdPairs]] (same cap,
    * same tag rule). Old-old pairs are suppressed — they were emitted in
    * the round their later member arrived. Ids must be disjoint between
    * the two inputs (arrival rounds partition the corpus).
    *
    * Buckets the new rows never touch contribute nothing, so the old
    * postings are semi-joined down to touched buckets before grouping:
    * the grouped exchange carries O(|new| + |old in touched buckets|)
    * rows, never the whole index.
    */
  def cappedNewPairs(oldBands: DataFrame, newBands: DataFrame, cap: Int,
                     acc: Option[LongAccumulator] = None,
                     matchTag: Boolean = false): DataFrame = {
    val touched = postings(newBands, isNew = true, matchTag)
    val oldTouched = postings(oldBands, isNew = false, matchTag)
      .join(touched.select(col("band").as("t_band"),
                           col("bucket").as("t_bucket")).distinct(),
            col("band") === col("t_band") && col("bucket") === col("t_bucket"),
            "left_semi")
    cappedPairs(touched.unionByName(oldTouched), cap, acc)
  }

  private def postings(banded: DataFrame, isNew: Boolean,
                       matchTag: Boolean): DataFrame =
    banded.select(col("band").cast("int"), col("bucket").cast("long"),
                  col("id").cast("long"), lit(isNew).as("is_new"),
                  (if (matchTag) col("tag").cast("long") else lit(0L)).as("tag"))

  /** The pair kernel over (band, bucket, id, is_new, tag): per bucket,
    * keep the `cap` smallest ids, then emit every pair with >= 1 new
    * member whose tags match (equal, or either null).
    */
  private def cappedPairs(rows: DataFrame, cap: Int,
                          acc: Option[LongAccumulator]): DataFrame = {
    require(cap > 1, s"cap must be > 1, got $cap")
    val spark = rows.sparkSession
    import spark.implicits._
    val dropped = acc.getOrElse(
      spark.sparkContext.longAccumulator("lsh_capped_dropped_rows"))
    rows.as[(Int, Long, Long, Boolean, java.lang.Long)]
      .groupByKey(t => (t._1, t._2))
      .flatMapGroups { (_: (Int, Long),
                        it: Iterator[(Int, Long, Long, Boolean, java.lang.Long)]) =>
        val kept = keepSmallest(it, cap, dropped)(_._3)
        kept.indices.iterator.flatMap { i =>
          val a = kept(i)
          (i + 1 until kept.length).iterator
            .filter { j =>
              val b = kept(j)
              (a._4 || b._4) && (a._5 == null || b._5 == null || a._5 == b._5)
            }
            .map(j => (a._3, kept(j)._3))
        }
      }
      .toDF("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }

  /** The `cap` elements of `it` with the smallest `id`, ascending by id;
    * every element beyond the cap adds 1 to `dropped`. Deterministic
    * regardless of arrival order. The common bucket is tiny, so elements
    * collect into a flat buffer and only heapify on overflow — a
    * `PriorityQueue` per group was measurably the hot spot.
    */
  private[graft] def keepSmallest[T](it: Iterator[T], cap: Int,
                                     dropped: LongAccumulator)
                                    (id: T => Long): scala.collection.Seq[T] = {
    val ord: Ordering[T] = Ordering.by(id)
    val buf = new mutable.ArrayBuffer[T](4)
    var heap: mutable.PriorityQueue[T] = null // max-heap: head = largest kept
    it.foreach { e =>
      if (heap == null) {
        buf += e
        if (buf.length > cap) {
          heap = mutable.PriorityQueue.empty[T](ord)
          heap ++= buf
          heap.dequeue() // shed the max back down to cap
          dropped.add(1L)
        }
      } else if (id(e) < id(heap.head)) {
        heap.dequeue(); heap.enqueue(e); dropped.add(1L)
      } else dropped.add(1L)
    }
    if (heap == null) buf.sortInPlace()(ord) else heap.dequeueAll.reverse
  }

  /** Random-hyperplane bands of an (id, vec) frame: one (band, bucket, id)
    * row per table, the bucket being that table's `bits`-bit signature,
    * all tables signed in one codegen'd pass ([[HashOps.hyperplaneSigs]]).
    */
  def hyperplaneBands(vecs: DataFrame, tables: Int, bits: Int,
                      seed: Long): DataFrame =
    vecs.select(col("id"),
                posexplode(HashOps.hyperplane_sigs_col(col("vec"), tables, bits,
                                                       seed))
                  .as(Seq("band", "bucket")))
      .select(col("band"), col("bucket"), col("id"))

  /** Broadcast `df` only when `rows * bytesPerRow` fits the session's
    * autoBroadcastJoinThreshold, else return it unhinted. A checkpointed
    * frame has no catalyst size estimate, so without the hint the planner
    * assumes it is huge and shuffles the (possibly fat) other side.
    */
  private def broadcastIfFits(df: DataFrame, rows: Long,
                              bytesPerRow: Long): DataFrame = {
    val bcLimit = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (bcLimit > 0 && rows * bytesPerRow <= bcLimit) broadcast(df) else df
  }

  /** Joins `lookup` (id, x) onto both members of the candidate pairs
    * `cand` (id_a, id_b): returns id_a, id_b, payload_a, payload_b, the
    * payload being `payload(x)`, evaluated after pruning.
    *
    * `pinned` (see the prune rule in the object doc): the pair set is
    * checkpointed once and counted, the lookup is semi-joined down to the
    * ids that occur in a pair, and both the id set and the pair set are
    * broadcast when their measured size (24 bytes per id, 48 per pair
    * row) fits the session threshold, else joined unhinted. Unpinned,
    * the lookup joins as is, in the caller's one action.
    */
  def verifyJoin(cand: DataFrame, lookup: DataFrame, pinned: Boolean,
                 payload: Column => Column = identity): DataFrame = {
    val (pairSide, pruned) =
      if (pinned) {
        val pairs = cand.localCheckpoint()
        val n = pairs.count()
        val ids = pairs.select(explode(array(col("id_a"), col("id_b"))).as("id"))
          .distinct()
        (broadcastIfFits(pairs, n, 48L),
         lookup.join(broadcastIfFits(ids, 2L * n, 24L), Seq("id"), "left_semi"))
      } else (cand, lookup)
    val lk = pruned.select(col("id"), payload(col(lookup.columns(1))))
    pairSide
      .join(lk.toDF("id_a", "payload_a"), "id_a")
      .join(lk.toDF("id_b", "payload_b"), "id_b")
  }
}
