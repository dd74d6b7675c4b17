package perfbench

import scala.collection.mutable

import graft.SparkEntry

/** One query execution: planning and execution seconds, digest check. */
final case class Exec(leaf: String, plan: Double, exec: Double, ok: Boolean)

/** The headline `SparkEntry.queries` leaves over seeded tables at sf 0.1,
  * the scale of the frozen `graft.Bench` query leg. One pass runs every
  * leaf once in a seeded order; one operation is one query, timed as
  * planning (until `executedPlan` returns) plus execution (collecting
  * the result). The warm-up pass records each query's result digest;
  * every later pass of the run must reproduce it.
  */
final class QueryPasses {

  val leaves: Seq[String] = Seq(
    "q01_agg_pricing", "q05_join_region", "q10_window_ffill", "q13_topk",
    "q16_trimhtml", "q23_content_key", "q25_exact_dedup", "q26_ngram_jaccard",
    "q27_minhash_lsh", "q28_simhash", "q30_quality", "q33_cosine_topk",
    "q35_ann_lsh")

  private val sf = 0.1

  private var dir: String = _
  private val digests = mutable.Map.empty[String, (Long, Int)]

  private def runQuery(b: Bench, leaf: String, record: Boolean): Exec = {
    val t = b.trace
    b.spark.sparkContext.setJobGroup(s"perfbench:queries.$leaf", s"perfbench $leaf")
    t.span(leaf) {
      val a = t.now()
      val df = SparkEntry.queries(leaf)(b.spark, dir)
      df.queryExecution.executedPlan
      val p = t.now()
      val rows = df.collect()
      val z = t.now()
      val d = (scala.util.hashing.MurmurHash3.orderedHash(rows.iterator.map(_.toString)).toLong,
               rows.length)
      if (record) digests(leaf) = d
      val ok = digests.get(leaf).contains(d)
      if (!ok) b.log(s"queries $leaf digest $d differs from ${digests.get(leaf)}")
      Exec(leaf, p - a, z - p, ok)
    }
  }

  def setup(b: Bench): Unit = {
    if (dir != null) Bench.deleteTree(java.nio.file.Paths.get(dir))
    dir = b.freshDir("tables")
    DataGen.writeTables(b.spark, b.seed, dir, sf)
    digests.clear()
  }

  /** One untimed pass that records the digests. */
  def warmup(b: Bench): Unit = {
    leaves.foreach { l =>
      try runQuery(b, l, record = true)
      catch { case e: Exception => b.log(s"queries $l threw in the warm-up: $e") }
    }
    b.spark.sparkContext.clearJobGroup()
  }

  def unit(b: Bench, rep: Int): UnitResult = {
    val rnd = new scala.util.Random(b.seed * 1000003L + rep)
    val order = rnd.shuffle(leaves)
    val c0 = b.cpuNow()
    val a = b.trace.now()
    val execs = b.trace.span(s"queries pass $rep") {
      order.map { l =>
        try runQuery(b, l, record = false)
        catch { case e: Exception => b.log(s"queries $l threw: $e"); Exec(l, 0, 0, false) }
      }
    }
    b.spark.sparkContext.clearJobGroup()
    val z = b.trace.now()
    val c1 = b.cpuNow()
    UnitResult(wall = z - a, cpu = c1 - c0, items = execs.size,
               attempted = execs.size, failed = execs.count(!_.ok), start = a, end = z,
               detail = execs)
  }

  def layerNames: Seq[String] =
    Seq("queries.plan_s", "queries.exec_s") ++ leaves.map(l => s"queries.${l}_s")

  def layers(b: Bench, units: Seq[UnitResult]): Map[String, Double] = {
    val execs = units.flatMap(_.detail match {
      case xs: Seq[_] => xs.collect { case e: Exec => e }
      case _          => Nil
    })
    Map("queries.plan_s" -> Stats.median(execs.map(_.plan)),
        "queries.exec_s" -> Stats.median(execs.map(_.exec))) ++
      leaves.map(l => s"queries.${l}_s" ->
        Stats.median(execs.filter(_.leaf == l).map(e => e.plan + e.exec)))
  }
}

/** One analytics unit: the corpus pass and the query pass. */
final case class Both(c: UnitResult, q: UnitResult)

/** The corpus pipeline followed by one pass over the headline queries:
  * every operator of the `ops` layer and every query leaf, in one unit.
  * The warm-up runs the queries once, which records their digests and
  * takes their first-run JIT and code-generation cost off the measured
  * pass. The corpus chain runs cold: warming it would cost a whole pass.
  */
final class AnalyticsWorkload extends Workload {
  override val name = "analytics"
  private val corpus = new CorpusPipeline
  private val queries = new QueryPasses

  override def setup(b: Bench): Unit = { corpus.setup(b); queries.setup(b) }

  override def warmup(b: Bench): Unit = queries.warmup(b)

  override def unit(b: Bench, rep: Int, traced: Boolean): UnitResult = {
    val c = corpus.unit(b, rep)
    val q = queries.unit(b, rep)
    UnitResult(wall = c.wall + q.wall, cpu = c.cpu + q.cpu, items = c.items,
               attempted = c.attempted + q.attempted, failed = c.failed + q.failed,
               start = c.start, end = q.end, detail = Both(c, q))
  }

  override def layerNames: Seq[String] = corpus.layerNames ++ queries.layerNames

  override def layers(b: Bench, units: Seq[UnitResult]): Map[String, Double] = {
    val both = units.map(_.detail).collect { case x: Both => x }
    corpus.layers(b, both.map(_.c)) ++ queries.layers(b, both.map(_.q))
  }
}
