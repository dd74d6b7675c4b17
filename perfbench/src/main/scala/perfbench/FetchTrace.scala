package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import graft.fetch.{Fetcher, FetcherFactory, SimulatedFetcherFactory}
import graft.model.{FetchResult, FrontierEntry}
import graft.synthweb.WebConfig

/** Fetch counters for one Spark stage. */
final class FetchSums {
  val calls, busyNs, declaredMs, ok, retries, bodyBytes = new LongAdder
}

/** Delegating [[FetcherFactory]] for the crawl's `CrawlConfig.fetcher`
  * plug point. Every fetch goes to the default simulated fetcher and its
  * result is returned unchanged, so the crawl output is the same as
  * without tracing. Counters are keyed by `tag` (one per crawl) and by
  * the Spark stage the fetch ran in; they live in this JVM, which is
  * where a `local[n]` session runs its tasks.
  */
final case class TracingFetcherFactory(tag: String) extends FetcherFactory {
  override def create(web: WebConfig, simulateLatency: Boolean): Fetcher =
    new TracingFetcher(tag, SimulatedFetcherFactory.create(web, simulateLatency))
}

final class TracingFetcher(tag: String, inner: Fetcher) extends Fetcher {
  override def fetch(entry: FrontierEntry): FetchResult = {
    val t0 = System.nanoTime()
    val r = inner.fetch(entry)
    val dt = System.nanoTime() - t0
    val tc = org.apache.spark.TaskContext.get()
    val s = FetchTrace.sums(tag, if (tc == null) -1 else tc.stageId())
    s.calls.increment()
    s.busyNs.add(dt)
    s.declaredMs.add(r.latency_ms.toLong)
    if (r.status == 200) s.ok.increment()
    if (r.attempt > 0) s.retries.increment()
    if (r.body != null)
      s.bodyBytes.add(r.body.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong)
    r
  }
}

object FetchTrace {
  private val byTagStage = new ConcurrentHashMap[(String, Int), FetchSums]()

  def sums(tag: String, stage: Int): FetchSums =
    byTagStage.computeIfAbsent((tag, stage), _ => new FetchSums)

  /** stage id -> counters, for one tag. */
  def stagesOf(tag: String): Map[Int, FetchSums] = {
    import scala.jdk.CollectionConverters._
    byTagStage.asScala.collect { case ((t, st), s) if t == tag => st -> s }.toMap
  }
}
