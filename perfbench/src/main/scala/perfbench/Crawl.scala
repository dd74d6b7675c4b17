package perfbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.Encoders

import graft.model.FetchLogEntry
import graft.oracle.CrawlOracle
import graft.sched.{CrawlConfig, CrawlScheduler}
import graft.store.Snapshots
import graft.synthweb.WebConfig

/** One crawl of the synthetic web, driven round by round through
  * `CrawlScheduler.init` / `runRound` (the same loop as `run()`).
  * `rounds` holds (round, start, end) in trace seconds.
  */
final case class CrawlRun(outDir: String, tag: String, init: Double,
                          rounds: Seq[(Int, Double, Double)], pages: Long,
                          lastRound: Int)

/** One crawl of a 4-host synthetic web with every listing page seeded:
  * seeded 105-165 ms page latency and a politeness cap of 6 pages per
  * host and round, so its 3-4 rounds pay both the scheduler's fixed
  * round cost (selection, seen tiers, frontier LSM, commit) and fetch
  * waits. No page fails with a retryable 503: a retry adds a round for
  * some seeds only, so the round count would vary with the seed. Seen
  * and frontier compaction run every other round, so both cycle within
  * the crawl.
  */
final class CrawlWorkload extends Workload {
  override val name = "crawl"

  private val cap = 6.0

  private def web(seed: Long): WebConfig =
    WebConfig(seed = seed, nHosts = 4, listPagesPerHost = 2, detailsPerList = 4,
              hotHostFactor = 2, pct404 = 3, pct503 = 0, crossHostLinkPct = 10,
              latencyBaseMs = 105, latencyJitterMs = 61, seedAllListPages = true)

  private def cfg(seed: Long, out: String, fetcher: graft.fetch.FetcherFactory) =
    CrawlConfig(web = web(seed), outDir = out, maxRounds = 60, hostCapacity = cap,
                hostRefill = cap, compactEvery = 2, nBuckets = 4, frontierBuckets = 4,
                simulateLatency = true, fetcher = fetcher)

  /** One round of a two-host web, so the measured crawl runs warm. */
  override def warmup(b: Bench): Unit = {
    val warm = cfg(b.seed + 1000003L, b.freshDir("warm-crawl"),
                   graft.fetch.SimulatedFetcherFactory)
      .copy(web = WebConfig(seed = b.seed + 1000003L, nHosts = 2,
                            listPagesPerHost = 1, detailsPerList = 3),
            simulateLatency = false, hostCapacity = 2, hostRefill = 2, maxRounds = 1)
    new CrawlScheduler(b.spark, warm).run()
  }

  /** The synthetic web is a pure function of the seed: nothing to build. */
  override def setup(b: Bench): Unit = oracleLog = None

  private var oracleLog: Option[Vector[FetchLogEntry]] = None

  private def canonical(xs: Seq[FetchLogEntry]) =
    xs.sortBy(e => (e.round, e.host_hash, e.seq)).toVector

  override def unit(b: Bench, rep: Int, traced: Boolean): UnitResult = {
    val out = b.freshDir(s"crawl-$rep")
    val tag = s"${b.runId}/$name/$rep/${if (traced) "t" else "u"}"
    val fetcher =
      if (traced) TracingFetcherFactory(tag) else graft.fetch.SimulatedFetcherFactory
    val c = cfg(b.seed, out, fetcher)
    val sc = b.spark.sparkContext
    val t = b.trace
    val rounds = mutable.ArrayBuffer.empty[(Int, Double, Double)]
    var done = false
    var r = 1
    val sched = new CrawlScheduler(b.spark, c)
    val c0 = b.cpuNow()
    val s0 = t.now()
    t.span(s"$name crawl $rep") {
      t.span("init") {
        sc.setJobGroup(s"perfbench:$name:init", "perfbench r0: init")
        sched.init()
      }
      while (!done && r <= c.maxRounds) {
        val a = t.now()
        t.span(s"round $r") {
          // jobs the round submits before the scheduler sets its own
          // `crawl rN: <phase>` description carry this one
          sc.setJobGroup(s"perfbench:$name:r$r", s"perfbench r$r: select")
          done = sched.runRound(r).done
        }
        rounds += ((r, a, t.now()))
        r += 1
      }
      sc.clearJobGroup()
    }
    val s1 = t.now()
    val c1 = b.cpuNow()
    val init = rounds.headOption.map(_._2 - s0).getOrElse(s1 - s0)
    val last = r - 1

    // checks, outside the timed window: the fetch log must equal the
    // sequential oracle's, bit for bit
    val snaps = new Snapshots(out)
    val enc = Encoders.product[FetchLogEntry]
    sc.setJobGroup(Trace.checkGroup, "perfbench check")
    val got =
      try canonical(b.spark.read.schema(enc.schema)
        .parquet(snaps.fetchLogPaths(last): _*).as[FetchLogEntry](enc).collect().toSeq)
      finally sc.clearJobGroup()
    val want = oracleLog.getOrElse {
      val o = canonical(new CrawlOracle(c.copy(fetcher =
        graft.fetch.SimulatedFetcherFactory)).run().fetchLog)
      oracleLog = Some(o)
      o
    }
    val ok = done && got == want
    if (!ok)
      b.log(s"$name crawl $rep: done=$done fetch log ${got.size} rows vs oracle ${want.size}")
    val run = CrawlRun(out, tag, init, rounds.toSeq, got.size.toLong, last)
    // one operation = one runRound call; a wrong fetch log fails every
    // round that wrote it
    UnitResult(wall = s1 - s0, cpu = c1 - c0, items = got.size.toLong, attempted = rounds.size,
               failed = if (ok) 0 else rounds.size, start = s0, end = s1, detail = run)
  }

  override def cleanup(u: UnitResult): Unit = u.detail match {
    case run: CrawlRun => Bench.deleteTree(java.nio.file.Paths.get(run.outDir))
    case _             => ()
  }

  // -- per-layer ------------------------------------------------------------
  private val phases = Seq("fetch_log", "docs_write", "seen_write", "frontier_update",
                           "robots_write", "host_state_write", "filter_shards",
                           "seen_compaction")
  private val Desc = """(?:crawl|perfbench) r(\d+): (.+)""".r

  override def layerNames: Seq[String] =
    Seq("sched.init_s", "sched.round_s_p50", "sched.jobs_per_round",
        "sched.driver_gap_s") ++ (phases :+ "other").map(p => s"sched.phase.${p}_s") ++
      Seq("sched.selected", "sched.new_urls",
          "fetch.calls", "fetch.busy_s", "fetch.declared_latency_s",
          "fetch.floor_ratio", "fetch.ok_frac", "fetch.retry_frac",
          "fetch.body_bytes", "parse.self_s",
          "seen.filter_bytes", "seen.index_bytes", "seen.index_segments",
          "store.bytes_written", "store.files_written", "store.frontier_segments",
          "store.state_bytes_per_page")

  override def layers(b: Bench, units: Seq[UnitResult]): Map[String, Double] = {
    val runs = units.map(_.detail).collect { case r: CrawlRun => r }
    val jobs = b.trace.jobRecs
    val n = runs.size.toDouble
    val nRounds = runs.map(_.rounds.size).sum.toDouble
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("sched.init_s") = Stats.median(runs.map(_.init))
    m("sched.round_s_p50") = Stats.median(runs.flatMap(_.rounds.map(x => x._3 - x._2)))
    val phaseSum = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var roundJobs = 0
    var gap = 0.0
    units.foreach(u => u.detail match { case run: CrawlRun =>
      // this crawl's jobs, by submission time; a job belongs to the round
      // its description names (`crawl rN: ...`, or `perfbench rN: ...` for
      // jobs submitted before the scheduler sets its own), else to the
      // round whose window it was submitted in
      val mine = jobs.filter(j => j.start >= u.start - 0.01 && j.start <= u.end + 0.01)
      run.rounds.foreach { case (r, a, z) =>
        val js = mine.filter(j => j.desc match {
          case Desc(n, _) => n.toInt == r
          case _          => j.start >= a && j.start <= z
        })
        roundJobs += js.size
        gap += (z - a) - Trace.covered(js.map(j => (j.start, j.end)), a, z)
        js.foreach { j =>
          val p = j.desc match {
            case Desc(_, "select") => "fetch_log"
            case Desc(_, ph)       =>
              val k = ph.toLowerCase.replaceAll("[^a-z0-9_]+", "_")
              if (phases.contains(k)) k else "other"
            case _ => "other"
          }
          phaseSum(p) += j.end - j.start
        }
      }
    case _ => () })
    m("sched.jobs_per_round") = roundJobs / nRounds
    m("sched.driver_gap_s") = gap / nRounds
    (phases :+ "other").foreach(p => m(s"sched.phase.${p}_s") = phaseSum(p) / nRounds)

    // manifest counters, read back from the last traced crawl
    val lastRun = runs.last
    val snaps = new Snapshots(lastRun.outDir)
    val manifests = (1 to lastRun.lastRound).map(snaps.readManifest)
    m("sched.selected") = manifests.map(_.counters.getOrElse("selected", 0L)).sum.toDouble
    m("sched.new_urls") = manifests.map(_.counters.getOrElse("new_urls", 0L)).sum.toDouble

    // fetch counters from the tracing fetcher, per crawl
    val perRun = runs.map { run =>
      val st = FetchTrace.stagesOf(run.tag)
      def tot(f: FetchSums => java.util.concurrent.atomic.LongAdder) =
        st.values.map(s => f(s).sum()).sum
      // parse shares the fetch task: task time of the stages that
      // fetched, minus the time spent inside fetch
      val stageTaskS = st.keys.toSeq.map(id => b.trace.tasksOfStage(id).runMs / 1e3).sum
      (tot(_.calls).toDouble, tot(_.busyNs) / 1e9, tot(_.declaredMs) / 1e3,
       tot(_.ok).toDouble, tot(_.retries).toDouble, tot(_.bodyBytes).toDouble,
       stageTaskS - tot(_.busyNs) / 1e9)
    }
    val calls = perRun.map(_._1).sum
    m("fetch.calls") = calls / n
    m("fetch.busy_s") = perRun.map(_._2).sum / n
    m("fetch.declared_latency_s") = perRun.map(_._3).sum / n
    m("fetch.floor_ratio") =
      Stats.median(units.map(_.wall)) / (m("fetch.declared_latency_s") / b.cores)
    m("fetch.ok_frac") = perRun.map(_._4).sum / calls
    m("fetch.retry_frac") = perRun.map(_._5).sum / calls
    m("fetch.body_bytes") = perRun.map(_._6).sum / n
    m("parse.self_s") = perRun.map(_._7).sum / n

    // state files, read back from the last crawl's output directory
    val fin = manifests.last
    def size(p: String) = {
      val f = java.nio.file.Paths.get(p)
      if (Files.exists(f)) Files.size(f).toDouble else 0.0
    }
    m("seen.filter_bytes") = fin.filterRounds.toSeq.map { case (bk, r) =>
      size(snaps.filterPath(r, bk)) + size(snaps.bloomShardPath(r, bk))
    }.sum
    m("seen.index_bytes") = fin.seenIndexSegs.toSeq.flatMap { case (bk, rs) =>
      rs.map(r => size(Snapshots.seenIndexPathAt(lastRun.outDir, r, bk)))
    }.sum
    m("seen.index_segments") = fin.seenIndexSegs.values.map(_.size).sum.toDouble
    val (bytes, files) = Bench.treeSize(java.nio.file.Paths.get(lastRun.outDir))
    m("store.bytes_written") = bytes.toDouble
    m("store.files_written") = files.toDouble
    m("store.frontier_segments") = fin.frontierSegs.values.map(_.size).sum.toDouble
    m("store.state_bytes_per_page") = bytes.toDouble / lastRun.pages
    m.toMap
  }
}
