package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Chunking, ConnectedComponents, Decontaminate, Dedup, GlobalIndex,
                  IncrementalAnn, IncrementalLsh, Similarity, TextOps}

/** One operator call: its time and whether its output passed the check. */
final case class Op(name: String, seconds: Double, ok: Boolean)

/** One corpus pass: its operator calls and the operators' own counters. */
final case class Pass(ops: Seq[Op], dropped: Long, ccRounds: Int)

/** The training-data pipeline over seeded inputs with planted structure,
  * so every operator's output has an exact expected value:
  *   - documents: `nBase` seeded texts, each copied `copies` times — copy
  *     0 is the original, copy 1 an exact mirror, copy 2 the original
  *     plus a fragment of a synthetic benchmark item whose vocabulary is
  *     disjoint from the corpus, the rest salted variants;
  *   - vectors: `nVec` seeded vectors, each with one exact mirror and
  *     `vecCopies - 2` independent random vectors;
  *   - graph: a random forest of `groups` trees of `groupLen` nodes.
  * One pass runs the whole chain once; each operator call is one
  * operation. It is the first part of the `analytics` unit.
  */
final class CorpusPipeline {
  private val nBase = 800
  private val copies = 8
  private val nVec = 600
  private val vecCopies = 8
  private val nDelta = 100
  private val groups = 100
  private val groupLen = 100
  private val nBench = 200
  private val annBits = 12
  private val ccMaxRounds = 16

  private var docs: DataFrame = _
  private var vecs: DataFrame = _
  private var delta: DataFrame = _
  private var edges: DataFrame = _
  private var bench: DataFrame = _
  private var expectChunks = 0L
  private var ccRounds = 0

  def setup(b: Bench): Unit = {
    Seq(docs, vecs, delta, edges, bench).filter(_ != null).foreach(_.unpersist())
    val s = b.spark
    val seed = b.seed
    val base = s.range(0, nBase).select(col("id").as("id0"),
      DataGen.text(seed, col("id"), (DataGen.u(seed, col("id"), 1, 40) + 24).cast("int"), 2)
        .as("text0"))
    // benchmark items: words "bq<item>w<j>" never occur in the corpus
    bench = s.range(0, nBench).select(
      concat_ws(" ", transform(sequence(lit(0), lit(11)),
        j => concat(lit("bq"), col("id"), lit("w"), j))).as("text")).persist()
    val frag = concat_ws(" ", transform(sequence(lit(0), lit(6)),
      j => concat(lit("bq"), pmod(col("id0"), lit(nBench)), lit("w"), j)))
    docs = base.crossJoin(s.range(0, copies).select(col("id").cast("int").as("k")))
      .select((col("id0") * 16 + col("k")).as("id"),
              when(col("k") <= 1, col("text0"))
                .when(col("k") === 2, concat(col("text0"), lit(" "), frag))
                .otherwise(concat(col("text0"), lit(" salt"), col("k"),
                                  lit(" v"), pmod(col("id0"), lit(997))))
                .as("text"))
      .persist()
    val vbase = s.range(0, nVec).select(col("id").as("id0"),
      DataGen.vector(seed, col("id"), 64, 3).as("v0"))
    vecs = vbase.crossJoin(s.range(0, vecCopies).select(col("id").cast("int").as("k")))
      .select((col("id0") * 64 + col("k")).as("id"),
              when(col("k") <= 1, col("v0"))
                .otherwise(DataGen.vector(seed, col("id0") * 64 + col("k"), 64, 4))
                .as("vec"))
      .persist()
    delta = vbase.filter(col("id0") < nDelta)
      .select((lit(100000000L) + col("id0")).as("id"), col("v0").as("vec")).persist()
    val off = pmod(col("id"), lit(groupLen.toLong))
    edges = s.range(0, groups.toLong * groupLen).filter(off =!= 0)
      .select(col("id").as("id_a"),
              (col("id") - off + pmod(xxhash64(lit(seed), col("id")), off)).as("id_b"))
      .persist()
    Seq(docs, vecs, delta, edges, bench).foreach(_.count())
    // the chunk count follows from the word counts alone
    expectChunks = docs.select(size(TextOps.words(col("text"))).cast("long").as("len"))
      .select(when(col("len") === 0, lit(0L)).when(col("len") <= 12, lit(1L))
        .otherwise(lit(1L) + ceil((col("len") - 12).cast("double") / 8.0).cast("long"))
        .as("nc"))
      .agg(sum("nc")).head().getLong(0)
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Runs the chain once. */
  private def pass(b: Bench, acc: org.apache.spark.util.LongAccumulator): Seq[Op] = {
    val s = b.spark
    val sc = s.sparkContext
    val t = b.trace
    val out = mutable.ArrayBuffer.empty[Op]
    /** Times `f` as one operation and checks its output: `None` when it
      * threw or failed the check, so the operations that depend on it
      * fail too.
      */
    def op[T](name: String)(f: => T)(check: T => Boolean): Option[T] = {
      sc.setJobGroup(s"perfbench:ops.$name", s"perfbench ops.$name")
      val a = t.now()
      val got =
        try Some(t.span(name)(f))
        catch { case e: Exception => b.log(s"corpus $name threw: $e"); None }
      val z = t.now()
      val ok = got.exists(check)
      if (got.isDefined && !ok) b.log(s"corpus $name check failed: ${got.get.toString.take(200)}")
      out += Op(name, z - a, ok)
      got.filter(_ => ok)
    }
    /** The incremental rounds' union covers every `batch` pair. */
    def covered(batch: Option[Set[(Long, Long)]], rounds: Option[Set[(Long, Long)]]*) =
      (batch +: rounds).forall(_.isDefined) &&
        (batch.get -- rounds.flatMap(_.get)).isEmpty
    val lshIdx = b.freshDir("lsh-index")
    val annIdx = b.freshDir("ann-index")
    val even = pmod(col("id"), lit(2)) === 0
    op("exact_clusters") {
      Dedup.exactClusters(docs, "id", "text").filter(col("n_dups") > 1).count()
    }(_ == nBase)
    // the only pair at Jaccard 1.0 is each original with its mirror
    val batch = op("minhash_near_dups") {
      pairs(Dedup.minhashNearDups(docs, "id", "text", shingleN = 3, numHashes = 32,
        rowsPerBand = 4, threshold = 1.0, maxBucket = 1024, acc = Some(acc)))
    }(_.size == nBase)
    // incremental: copies 0, 2, 4, 6 (even ids, no pair among them)
    // arrive first, the mirrors and other odd copies second
    val r1 = op("incr_lsh_round1") {
      pairs(IncrementalLsh.roundPairs(s, lshIdx, docs.filter(even), "id", "text",
        shingleN = 3, numHashes = 32, rowsPerBand = 4, threshold = 1.0, maxBucket = 1024))
    }(_.isEmpty)
    op("incr_lsh_round") {
      pairs(IncrementalLsh.roundPairs(s, lshIdx, docs.filter(!even), "id", "text",
        shingleN = 3, numHashes = 32, rowsPerBand = 4, threshold = 1.0, maxBucket = 1024))
    }(p => p.size == nBase && covered(batch, r1, Some(p)))
    val annBatch = op("cosine_near_dups") {
      pairs(Similarity.cosineNearDups(s, vecs, "id", "vec", threshold = 0.9999, bits = annBits))
    }(_.size == nVec)
    val a1 = op("incr_ann_round1") {
      pairs(IncrementalAnn.roundPairs(s, annIdx, vecs.filter(even), "id", "vec",
        threshold = 0.9999, bits = annBits))
    }(_.isEmpty)
    op("incr_ann_round") {
      pairs(IncrementalAnn.roundPairs(s, annIdx, vecs.filter(!even), "id", "vec",
        threshold = 0.9999, bits = annBits))
    }(p => p.size == nVec && covered(annBatch, a1, Some(p)))
    // each delta vector mirrors one original and its mirror
    op("incr_ann_delta") {
      pairs(IncrementalAnn.roundPairs(s, annIdx, delta, "id", "vec",
        threshold = 0.9999, bits = annBits)).size
    }(_ == 2 * nDelta)
    op("components") {
      val (comp, rounds) = ConnectedComponents.componentsWithRounds(edges)
      ccRounds = rounds
      val sizes = comp.groupBy("component_id").count()
      (sizes.filter(col("count") =!= groupLen.toLong).count(), sizes.count(), rounds)
    } { case (bad, n, rounds) => bad == 0 && n == groups && rounds <= ccMaxRounds }
    op("decontaminate") {
      val agg = Decontaminate.overlap(docs, bench, "id", "text", n = 5)
        .filter(col("contaminated"))
        .agg(count(lit(1)), coalesce(sum("n_hit_grams"), lit(0L))).head()
      (agg.getLong(0), agg.getLong(1))
    }(_ == ((nBase.toLong, 3L * nBase)))
    op("chunk_index") {
      val ch = Chunking.slidingChunks(docs, "id", "text", 12, 8)
      val idx = GlobalIndex.globalRowNumber(
        ch, Seq(col("n_tokens").desc, col("id"), col("chunk_idx")), numPartitions = b.cores)
      val got = idx.agg(count(lit(1)), countDistinct(col("global_idx")),
                        min("global_idx"), max("global_idx")).head()
      (got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3))
    }(_ == ((expectChunks, expectChunks, 0L, expectChunks - 1)))
    sc.clearJobGroup()
    Bench.deleteTree(java.nio.file.Paths.get(lshIdx))
    Bench.deleteTree(java.nio.file.Paths.get(annIdx))
    out.toSeq
  }

  def unit(b: Bench, rep: Int): UnitResult = {
    val acc = b.spark.sparkContext.longAccumulator("perfbench_lsh_dropped")
    val c0 = b.cpuNow()
    val a = b.trace.now()
    val ops = b.trace.span(s"corpus pass $rep")(pass(b, acc))
    val z = b.trace.now()
    val c1 = b.cpuNow()
    val failed = ops.count(!_.ok)
    UnitResult(wall = z - a, cpu = c1 - c0, items = copies.toLong * nBase,
               attempted = ops.size, failed = failed, start = a, end = z,
               detail = Pass(ops, acc.value.toLong, ccRounds))
  }

  private val timed = Seq("exact_clusters", "minhash_near_dups", "incr_lsh_round",
                          "cosine_near_dups", "incr_ann_round", "incr_ann_delta",
                          "components", "decontaminate", "chunk_index")

  def layerNames: Seq[String] =
    timed.map(n => s"ops.${n}_s") ++ Seq("ops.lsh_dropped_rows", "ops.cc_rounds")

  def layers(b: Bench, units: Seq[UnitResult]): Map[String, Double] = {
    val passes = units.map(_.detail).collect { case p: Pass => p }
    timed.map { n =>
      s"ops.${n}_s" -> Stats.median(passes.flatMap(_.ops.filter(_.name == n).map(_.seconds)))
    }.toMap ++ Map(
      "ops.lsh_dropped_rows" -> passes.map(_.dropped.toDouble).maxOption.getOrElse(0.0),
      "ops.cc_rounds" -> passes.map(_.ccRounds.toDouble).maxOption.getOrElse(0.0))
  }
}
