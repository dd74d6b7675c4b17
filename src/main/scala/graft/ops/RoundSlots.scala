package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-round slot commit protocol shared by the incremental index
  * maintainers ([[IncrementalLsh]], [[IncrementalAnn]]).
  *
  * An incremental index is a set of parallel append-only parquet tables
  * under one directory, each holding one `r<k>` subdirectory per ingest
  * round. A round is COMMITTED only when every table's slot carries the
  * `_SUCCESS` marker the Hadoop commit protocol writes after all task
  * files are finalized — bare directory existence is not commit
  * evidence (a crash DURING a write leaves the subdir present but
  * partial, e.g. only `_temporary`). Readers take only rounds committed
  * in ALL tables; a retried append lands in the first uncommitted slot
  * with overwrite semantics, so a death between or during the writes is
  * invisible: never served half, never duplicated.
  *
  * A second, coarser layer bounds the SLOT count: tables live inside a
  * generation directory `g<j>`, and [[compactTables]] folds all
  * complete rounds into `g<j+1>/…/r0` (marker-committed, old
  * generation serves until the marker lands) — the same LSM fold the
  * crawl's seen state performs, without which a per-ingest-round index
  * accumulates parquet directories forever.
  */
private[graft] object RoundSlots {

  /** Committed round indices under `dir` (slots `r0`, `r1`, ...,
    * `_SUCCESS`-gated). A name must be `r` + at least one digit — a
    * bare "r" is junk, not a slot. Delegates to [[committedIdxs]] —
    * the ONE marker-gated scan — so a fix there reaches this listing
    * too (this was a byte-identical copy before).
    */
  def roundIdxs(dir: String): Set[Int] =
    committedIdxs(dir, "r", "_SUCCESS").toSet

  /** Rounds committed in EVERY one of `dirs`, ascending. */
  def completeRounds(dirs: Seq[String]): Seq[Int] =
    dirs.map(roundIdxs).reduceLeft(_ intersect _).toSeq.sorted

  // ------------------------------------------------------------------
  // generations: the compaction layer over round slots
  // ------------------------------------------------------------------
  //
  // Without compaction an incremental index accumulates one r<k> slot
  // per ingest round FOREVER — at 100 TB cadence that is thousands of
  // parquet directories whose listing/footer overhead grows per round
  // (the data volume is the same; the file count is not). The fix
  // mirrors the crawl's seen-state LSM fold and IvfIndex's epochs: all
  // complete rounds fold into slot r0 of a NEW generation directory
  // `g<j+1>`, committed by a marker file written LAST — readers resolve
  // the highest committed generation per call, so the switch is atomic
  // and a compaction that dies mid-write leaves the old generation
  // fully serving (the dangling g<j+1> is overwritten on retry).
  private val CommitMarker = "_COMMITTED"

  /** Committed indices of `prefix`-numbered children of `dir` (dirs
    * `<prefix>0`, `<prefix>1`, ...), gated on `marker` — a path
    * RELATIVE to each child whose existence is the commit evidence.
    * One implementation of the marker-gated listing shared by the
    * generation layer (`g<j>` / `_COMMITTED`) and IvfIndex's epochs
    * (`e<j>` / `centroids/_SUCCESS`), so a fix to either scan cannot
    * silently miss the other.
    */
  def committedIdxs(dir: String, prefix: String, marker: String): Seq[Int] = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(p)) Seq.empty
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      val s = java.nio.file.Files.list(p)
      try s.forEach { c =>
        val n = c.getFileName.toString
        if (n.startsWith(prefix) && n.length > prefix.length
            && n.drop(prefix.length).forall(_.isDigit)
            && java.nio.file.Files.exists(c.resolve(marker)))
          out += n.drop(prefix.length).toInt
      } finally s.close()
      out.toSeq.sorted
    }
  }

  /** Delete `prefix`-numbered children of `dir` with index below
    * `keepFrom`, committed or not (a superseded or dangling write).
    * The shared reverse-walk delete of the GC paths.
    */
  def gcBelow(dir: String, prefix: String, keepFrom: Int): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(p)) return
    val olds = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    val ls = java.nio.file.Files.list(p)
    try ls.forEach { c =>
      val n = c.getFileName.toString
      if (n.startsWith(prefix) && n.length > prefix.length
          && n.drop(prefix.length).forall(_.isDigit)
          && n.drop(prefix.length).toInt < keepFrom)
        olds += c
    } finally ls.close()
    olds.foreach { root =>
      val s = java.nio.file.Files.walk(root)
      try {
        s.sorted(java.util.Comparator.reverseOrder())
          .forEach(q => java.nio.file.Files.deleteIfExists(q))
      } finally s.close()
    }
  }

  /** Committed generation indices under `indexDir` (dirs `g0`, `g1`,
    * ..., gated on the marker file written after every table fold).
    */
  def genIdxs(indexDir: String): Seq[Int] =
    committedIdxs(indexDir, "g", CommitMarker)

  /** Active (highest committed) generation, or 0 when the index is
    * empty/fresh — generation 0 needs no marker: an empty index serves
    * empty reads, and its first round append makes it real.
    */
  def activeGen(indexDir: String): Int = genIdxs(indexDir).lastOption.getOrElse(0)

  def genDir(indexDir: String, j: Int): String = s"$indexDir/g$j"

  /** Commit generation `j`: marker written LAST, atomically via create
    * (all table folds must already be on disk with their `_SUCCESS`).
    */
  def commitGen(indexDir: String, j: Int): Unit = {
    val d = java.nio.file.Paths.get(genDir(indexDir, j))
    java.nio.file.Files.createDirectories(d)
    try java.nio.file.Files.createFile(d.resolve(CommitMarker))
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
  }

  /** Fold every complete round of the active generation's `tables` into
    * slot r0 of generation j+1 and commit it (marker last). No-op below
    * 2 complete rounds. Returns whether a fold happened. The fold is
    * the LSM move: data volume unchanged, slot/file count reset to 1 —
    * without it a per-ingest-round index accumulates directories
    * forever and pays growing listing/footer overhead per read.
    */
  def compactTables(spark: SparkSession,
                    indexDir: String, tables: Seq[String]): Boolean = {
    val j = activeGen(indexDir)
    val rounds = completeRounds(tables.map(t => s"${genDir(indexDir, j)}/$t"))
    if (rounds.size <= 1) false
    else {
      tables.foreach { t =>
        spark.read.parquet(rounds.map(k => s"${genDir(indexDir, j)}/$t/r$k"): _*)
          .write.mode("overwrite")
          .parquet(s"${genDir(indexDir, j + 1)}/$t/r0")
      }
      commitGen(indexDir, j + 1)
      true
    }
  }

  /** Delete generations below the active one (safe once no reader holds
    * an open scan over them — callers schedule this between rounds).
    * Deletes ANY g<i> below the active, committed or not — generation 0
    * never carries a marker (activeGen defaults to it), and an
    * uncommitted g<i> below the active is a dead dangling write.
    */
  def gcOldGenerations(indexDir: String): Unit =
    gcBelow(indexDir, "g", activeGen(indexDir))

  // ------------------------------------------------------------------
  // the round driver of an incremental band index
  // ------------------------------------------------------------------
  //
  // A band index ([[IncrementalLsh]], [[IncrementalAnn]]) is two tables
  // in the active generation: `bands` (band, bucket, id[, tag]) postings
  // and one payload table (id, payload) that verification joins back.

  private def tableDir(indexDir: String, table: String): String =
    s"${genDir(indexDir, activeGen(indexDir))}/$table"

  /** Fold all complete rounds of a band index into a fresh single-slot
    * generation (crash-safe, marker-committed) and drop superseded
    * generations. Returns whether a fold happened.
    */
  def compactBandIndex(spark: SparkSession, indexDir: String,
                       payload: String): Boolean = {
    val folded = compactTables(spark, indexDir, Seq("bands", payload))
    if (folded) gcOldGenerations(indexDir)
    folded
  }

  private def readRounds(spark: SparkSession, dir: String, rounds: Seq[Int],
                         empty: DataFrame): DataFrame =
    if (rounds.isEmpty) empty
    // explicit schema (from the caller's empty frame): a committed slot
    // whose round held zero rows (e.g. a micro-batch where every doc
    // fell below shingleN words) has a _SUCCESS marker and no part
    // files, and schema INFERENCE over such slots throws — wedging the
    // index and, through the streaming sinks, replaying the same batch
    // forever. An empty round is valid state.
    else spark.read.schema(empty.schema)
      .parquet(rounds.map(k => s"$dir/r$k"): _*)

  /** One maintenance round of the band index under `indexDir`.
    *
    * `newPayload` is the round's (id, payload) slice and `bandsOf`
    * derives its postings; both are persisted for the round (pair
    * generation, its touched-bucket semi-join and the append each
    * consume them). `emptyBands`/`emptyPayload` give the tables' read
    * schemas. `pairsOf(oldBands, newBands, payloads)` computes the
    * round's result against the PRE-append index, `payloads` being every
    * committed payload row plus the new slice; the result is
    * materialized before the round's slot is written, then the index is
    * compacted on the `compactEvery` cadence.
    *
    * The round reads only rounds committed in BOTH tables (see the
    * object doc), and writes slot k = one past the last complete round —
    * a dangling slot from a died append is overwritten, never appended
    * beside, so ids never repeat across "old" rounds (which would break
    * [[LshPairs.cappedNewPairs]]' disjoint-ids precondition and admit
    * self-pairs).
    *
    * `slot`: pin the round's slot (and the set of rounds read as "old")
    * to an EXTERNAL round number instead of deriving it from the slot
    * count. Required for at-least-once drivers (Structured Streaming
    * foreachBatch): a replayed batch k re-reads exactly rounds 0..k-1
    * and overwrites slot k — bit-identical recompute, never a duplicate
    * append beside its own earlier attempt. Requires rounds 0..k-1 all
    * committed (streaming delivers batches in order, so a gap means
    * external corruption — fail loud) and is incompatible with
    * compactEvery (generation folds renumber slots).
    */
  def bandIndexRound(spark: SparkSession, indexDir: String, payload: String,
                     emptyBands: DataFrame, emptyPayload: DataFrame,
                     newPayload: DataFrame, bandsOf: DataFrame => DataFrame,
                     slot: Option[Int], compactEvery: Int)
                    (pairsOf: (DataFrame, DataFrame, DataFrame) => DataFrame)
      : DataFrame = {
    require(slot.isEmpty || compactEvery == 0,
            "slot-pinned rounds cannot combine with compactEvery " +
              "(generation folds renumber slots)")
    val newP = newPayload.persist()
    val newBands = bandsOf(newP).persist()
    val committed = completeRounds(Seq(tableDir(indexDir, "bands"),
                                       tableDir(indexDir, payload)))
    val complete = slot match {
      case None => committed
      case Some(k) =>
        val prior = committed.filter(_ < k)
        require(prior == (0 until k),
                s"slot $k requires committed rounds 0..${k - 1}, found $prior")
        prior
    }
    val oldBands = readRounds(spark, tableDir(indexDir, "bands"), complete,
                              emptyBands)
    val oldPayload = readRounds(spark, tableDir(indexDir, payload), complete,
                                emptyPayload)
    val pairs = pairsOf(oldBands, newBands, oldPayload.unionByName(newP))
      .localCheckpoint() // force BEFORE the append mutates the index
    val k = slot.getOrElse(complete.size)
    newBands.write.mode("overwrite").parquet(s"${tableDir(indexDir, "bands")}/r$k")
    newP.write.mode("overwrite").parquet(s"${tableDir(indexDir, payload)}/r$k")
    newBands.unpersist()
    newP.unpersist()
    // LSM fold on the caller's cadence: bounded slot count, same data
    if (compactEvery > 0 && k + 1 >= compactEvery)
      compactBandIndex(spark, indexDir, payload)
    pairs
  }
}
