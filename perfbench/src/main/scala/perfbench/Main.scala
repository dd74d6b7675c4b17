package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One complete, checked unit of a workload (one crawl, one corpus
  * pipeline pass, one pass over the headline queries). `cpu` is the
  * process CPU time of the timed part; `attempted` counts the unit's
  * operations (crawl rounds, operator calls, queries); `start`/`end` are
  * trace seconds; `detail` is what the workload's per-layer metrics need.
  */
final case class UnitResult(wall: Double, cpu: Double, items: Long,
                            attempted: Int, failed: Int, start: Double,
                            end: Double, detail: Any = null)

trait Workload {
  def name: String
  /** Builds the inputs from `b.seed`, replacing any earlier ones. Runs
    * several times per run; set-up time counts the median.
    */
  def setup(b: Bench): Unit
  /** Runs once after set-up, before the measurement, and counts as
    * set-up time: warms what the first measured unit would otherwise
    * pay for (JIT, code generation) when that is cheaper than the unit.
    */
  def warmup(b: Bench): Unit = ()
  /** Runs and checks one unit. Only `wall` and `ops` are timed. */
  def unit(b: Bench, rep: Int, traced: Boolean): UnitResult
  def layerNames: Seq[String]
  /** Per-layer metrics from the traced units. */
  def layers(b: Bench, units: Seq[UnitResult]): Map[String, Double]
  def cleanup(u: UnitResult): Unit = ()
}

/** Run state shared by the workloads. */
final class Bench(val seed: Long, val work: Path, val cores: Int,
                  val runId: String) {
  val t0: Long = System.nanoTime()
  val trace = new Trace(runId, t0)
  var spark: SparkSession = _
  private val dirSeq = new java.util.concurrent.atomic.AtomicInteger

  def freshDir(prefix: String): String = {
    val d = work.resolve(s"$prefix-${dirSeq.incrementAndGet()}")
    Files.createDirectories(d)
    d.toString
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this process has used, all threads. */
  def cpuNow(): Double = os.getProcessCpuTime / 1e9

  def startSession(): Unit = {
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  def stopSession(): Unit = if (spark != null) { spark.stop(); spark = null }
}

object Bench {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }

  /** (bytes, files) of the regular files under `p`. */
  def treeSize(p: Path): (Long, Long) = {
    val s = Files.walk(p)
    try {
      val fs = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (fs.map(Files.size).sum, fs.size.toLong)
    } finally s.close()
  }
}

object Main {
  val workloads: Map[String, () => Workload] = Map(
    "crawl" -> (() => new CrawlWorkload),
    "analytics" -> (() => new AnalyticsWorkload))

  private val setupReps = 3

  /** (steal, total) jiffies summed over all CPUs, from /proc/stat. */
  private def cpuTicks(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Exception => (0L, 0L) }

  private def vmHwmMb(): Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    } catch { case _: Exception => Double.NaN }

  /** Heap in use after full collections, in MB: what the program keeps.
    * The second collection takes what Spark's context cleaner released in
    * response to the first (shuffle and broadcast blocks of dropped data);
    * the cleaner can take over a second, and after 2 s later collections
    * freed no more than a few KB.
    */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(2000)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def stealPct(t0: (Long, Long), t1: (Long, Long)): Double =
    if (t1._2 > t0._2) 100.0 * (t1._1 - t0._1) / (t1._2 - t0._2) else 0.0

  /** Runs units back to back until their timed walls add up to
    * `seconds` (at least one unit). Records each unit's steal % and the
    * heap it leaves in use.
    */
  private def measure(b: Bench, w: Workload, seconds: Double, traced: Boolean,
                      steal: mutable.Buffer[Double],
                      heap: mutable.Buffer[Double]): Seq[UnitResult] = {
    val out = mutable.ArrayBuffer.empty[UnitResult]
    var measured = 0.0
    while ((measured < seconds || out.isEmpty) && out.size < 10000) {
      // collect the previous unit's garbage outside the timed window
      System.gc()
      val ticks = cpuTicks()
      val a = b.trace.now()
      val u =
        try w.unit(b, out.size, traced)
        catch {
          case e: Exception =>
            b.log(s"${w.name} unit ${out.size} threw: $e")
            val z = b.trace.now()
            UnitResult(z - a, 0.0, 0L, 1, 1, a, z)
        }
      out += u
      steal += stealPct(ticks, cpuTicks())
      heap += liveHeapMb()
      measured += u.wall
    }
    out.toSeq
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wname = opts.getOrElse("workload", sys.error("--workload is required"))
    val w = workloads.getOrElse(wname,
      sys.error(s"unknown workload $wname; known: ${workloads.keys.toSeq.sorted.mkString(", ")}"))()
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val results = Paths.get(opts("results")).toAbsolutePath
    Files.createDirectories(work)
    Files.createDirectories(results)
    val cores = Runtime.getRuntime.availableProcessors()
    val runId = s"$wname-s$seed-t${if (traced) 1 else 0}-${System.currentTimeMillis()}"
    val b = new Bench(seed, work, cores, runId)

    val line =
      try {
        // set-up: session start, input generation (repeated; the median
        // counts) and the workload's warm-up
        def timed(name: String)(f: => Unit): Double = {
          val a = System.nanoTime()
          b.trace.span(name)(f)
          (System.nanoTime() - a) / 1e9
        }
        val sessionS = timed("session start")(b.startSession())
        // (a traced run reports no set-up time: one input build will do)
        val inputS = (1 to (if (traced) 1 else setupReps)).map(i =>
          timed(s"inputs $i")(w.setup(b)))
        val warmS = timed("warm-up")(w.warmup(b))
        val setupS = sessionS + Stats.median(inputS) + warmS
        val ticks0 = cpuTicks()
        val unitSteal = mutable.ArrayBuffer.empty[Double]
        val unitHeap = mutable.ArrayBuffer.empty[Double]
        val plain = b.trace.span("measure") {
          measure(b, w, seconds, traced = false, unitSteal, unitHeap)
        }
        val liveHeap = Stats.median(unitHeap.toSeq)
        // the first units run in a fresh JVM; the traced units are compared
        // with untraced ones run right before them, under the same warmth
        val (reference, tracedUnits) =
          if (!traced) (Nil, Nil)
          else {
            val ref = b.trace.span("measure reference") {
              measure(b, w, 0, traced = false, unitSteal, unitHeap)
            }
            b.spark.sparkContext.addSparkListener(b.trace)
            try (ref, b.trace.span("measure traced") {
              measure(b, w, 0, traced = true, unitSteal, unitHeap)
            })
            finally {
              b.trace.drain(b.spark.sparkContext)
              b.spark.sparkContext.removeSparkListener(b.trace)
            }
          }
        val runSteal = stealPct(ticks0, cpuTicks())
        val all = plain ++ reference ++ tracedUnits
        val attempted = all.map(_.attempted).sum
        val failed = all.map(_.failed).sum
        val wall = Stats.median(plain.map(_.wall))

        val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
        if (!traced) {
          metrics("setup_s") = (setupS, "s")
          metrics("wall_s") = (wall, "s")
          metrics("cpu_s") = (Stats.median(plain.map(_.cpu)), "s")
          metrics("items_per_s") = (plain.map(_.items).sum / plain.map(_.wall).sum, "1/s")
          metrics("live_heap_mb") = (liveHeap, "MB")
        } else {
          val tot = b.trace.totals
          val nu = tracedUnits.size.toDouble
          val window = tracedUnits.map(_.wall).sum
          val lay = w.layers(b, tracedUnits) ++ Map(
            "fail_frac" -> failed.toDouble / attempted,
            "trace.overhead_frac" ->
              (Stats.median(tracedUnits.map(_.wall)) / Stats.median(reference.map(_.wall)) - 1.0),
            "spark.jobs" -> b.trace.jobRecs.size / nu,
            "spark.stages" -> b.trace.stagesSeen / nu,
            "spark.tasks" -> tot.tasks / nu,
            "spark.task_s" -> tot.runMs / 1e3 / nu,
            "spark.cpu_s" -> tot.cpuNs / 1e9 / nu,
            "spark.gc_s" -> tot.gcMs / 1e3 / nu,
            "spark.shuffle_read_bytes" -> tot.shuffleRead / nu,
            "spark.shuffle_write_bytes" -> tot.shuffleWrite / nu,
            "spark.spill_mem_bytes" -> tot.spillMem / nu,
            "spark.spill_disk_bytes" -> tot.spillDisk / nu,
            "spark.peak_exec_mem_bytes" -> tot.peakExecMem.toDouble,
            "spark.utilization" -> tot.runMs / 1e3 / (window * cores))
          // every traced run prints every layer; untouched layers read 0
          Layers.names.foreach(n => metrics(n) = (lay.getOrElse(n, 0.0), Units.of(n)))
        }
        val finite = metrics.values.forall(v => !v._1.isNaN && !v._1.isInfinite)
        val correct = failed == 0 && finite && attempted > 0
        if (!finite)
          b.log(s"non-finite metrics: ${metrics.filter(m => m._2._1.isNaN || m._2._1.isInfinite).keys}")

        val context = Json.obj(
          "run_id" -> runId, "workload" -> wname, "seed" -> seed,
          "seconds" -> seconds, "trace" -> traced, "nproc" -> cores,
          "xmx_bytes" -> Runtime.getRuntime.maxMemory(),
          "jdk" -> System.getProperty("java.version"),
          "spark" -> b.spark.version,
          "source" -> opts.getOrElse("source", "unknown"),
          "steal_pct" -> runSteal, "unit_steal_pct" -> unitSteal,
          "session_start_s" -> sessionS, "inputs_s_runs" -> inputS,
          "warmup_s" -> warmS, "wall_s_runs" -> plain.map(_.wall),
          "cpu_s_runs" -> plain.map(_.cpu),
          "reference_wall_s_runs" -> reference.map(_.wall),
          "traced_wall_s_runs" -> tracedUnits.map(_.wall),
          "unit_live_heap_mb" -> unitHeap, "vmhwm_mb" -> vmHwmMb(),
          "units" -> plain.size, "traced_units" -> tracedUnits.size,
          "attempted" -> attempted, "failed" -> failed)
        val out = Json.obj(
          "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
          "metrics" -> Json.Raw(metrics.map { case (k, (v, u)) =>
            Json.str(k) + ":" + Json.obj("value" -> v, "unit" -> u)
          }.mkString("{", ",", "}")))
        Files.write(results.resolve(s"$runId.json"),
                    Json.obj("context" -> Json.Raw(context), "result" -> Json.Raw(out))
                      .getBytes("UTF-8"))
        if (traced) b.trace.write(results.resolve(s"$runId-trace.jsonl"))
        b.log(s"context $context")
        all.foreach(w.cleanup)
        out
      } finally b.stopSession()
    println(line)
  }
}
