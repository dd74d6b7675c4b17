package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval of the run. Times are `System.nanoTime` values
  * converted to seconds since the run started; `parent` is the index of
  * the enclosing span in [[Trace.spans]], or -1.
  */
final case class Span(name: String, start: Double, end: Double,
                      parent: Int, runId: String)

/** What the listener keeps per Spark job. `desc` is the job description
  * (the crawl scheduler sets `crawl rN: <phase>`), `group` the job group
  * the benchmark sets around each operator call or query.
  */
final case class JobRec(id: Int, desc: String, group: String,
                        start: Double, var end: Double = Double.NaN,
                        var stages: Int = 0)

/** Task metrics summed per job (and over the whole run). */
final class TaskSums {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spillMem = 0L
  var spillDisk = 0L
  var peakExecMem = 0L

  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1
    runMs += m.executorRunTime
    cpuNs += m.executorCpuTime
    gcMs += m.jvmGCTime
    shuffleRead += m.shuffleReadMetrics.totalBytesRead
    shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    spillMem += m.memoryBytesSpilled
    spillDisk += m.diskBytesSpilled
    peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
  }

  def addAll(o: TaskSums): Unit = {
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spillMem += o.spillMem; spillDisk += o.spillDisk
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
  }
}

/** The outside-in trace collector: a SparkListener that records jobs,
  * stages and task metrics, plus the benchmark's own spans. It only
  * observes — the program under test is never modified. Everything stays
  * in memory until [[Trace.write]] at the end of the run.
  */
final class Trace(val runId: String, t0: Long) extends SparkListener {
  def now(): Double = (System.nanoTime() - t0) / 1e9

  // the epoch millisecond of trace second 0, to place Spark's own event
  // times (epoch ms) on the trace clock
  private val epoch0Ms: Double = System.currentTimeMillis() - (System.nanoTime() - t0) / 1e6

  private def at(epochMs: Long): Double = (epochMs - epoch0Ms) / 1e3

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobTasks = new ConcurrentHashMap[Int, TaskSums]()
  private val stageTasks = new ConcurrentHashMap[Int, TaskSums]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")
    jobs.put(e.jobId, JobRec(e.jobId, prop("spark.job.description"),
                             prop("spark.jobGroup.id"), at(e.time),
                             stages = e.stageIds.size))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = at(e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) {
      val job = stageJob.getOrDefault(e.stageId, -1)
      jobTasks.computeIfAbsent(job, _ => new TaskSums).synchronized {
        jobTasks.get(job).add(e.taskMetrics)
      }
      stageTasks.computeIfAbsent(e.stageId, _ => new TaskSums).synchronized {
        stageTasks.get(e.stageId).add(e.taskMetrics)
      }
    }

  // -- benchmark spans ---------------------------------------------------
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  /** Times `f` as a span nested in the innermost open span. */
  def span[T](name: String)(f: => T): T = {
    val idx = spanBuf.synchronized {
      spanBuf += Span(name, now(), Double.NaN, open.headOption.getOrElse(-1), runId)
      spanBuf.size - 1
    }
    open = idx :: open
    try f
    finally {
      open = open.tail
      spanBuf.synchronized { spanBuf(idx) = spanBuf(idx).copy(end = now()) }
    }
  }

  /** Waits until the asynchronous listener bus has delivered every event
    * of the jobs run so far: a marker job's end arrives after them.
    */
  def drain(sc: org.apache.spark.SparkContext): Unit = {
    val g = s"${Trace.drainGroup}:${System.nanoTime()}"
    sc.setJobGroup(g, "perfbench drain")
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 30000000000L
    while (!jobs.values.asScala.exists(j => j.group == g && !j.end.isNaN) &&
           System.nanoTime() < deadline) Thread.sleep(5)
  }

  def spans: Seq[Span] = spanBuf.synchronized(spanBuf.toList)
  /** The jobs of the measured work: the listener-drain marker jobs and
    * the output checks run between units are left out.
    */
  def jobRecs: Seq[JobRec] =
    jobs.values.asScala.toSeq
      .filterNot(j => j.group.startsWith(Trace.drainGroup) || j.group == Trace.checkGroup)
      .sortBy(_.id)
  def tasksOfJob(id: Int): TaskSums = Option(jobTasks.get(id)).getOrElse(new TaskSums)
  def tasksOfStage(id: Int): TaskSums = Option(stageTasks.get(id)).getOrElse(new TaskSums)

  /** Stages of the measured jobs. */
  def stagesSeen: Int = {
    val ids = jobRecs.map(_.id).toSet
    stageJob.values.asScala.count(ids.contains)
  }

  /** Task metrics of the measured jobs. */
  def totals: TaskSums = {
    val t = new TaskSums
    jobRecs.foreach(j => t.addAll(tasksOfJob(j.id)))
    t
  }

  /** Spans and jobs as JSON lines (one object per line). */
  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.zipWithIndex.foreach { case (s, i) =>
      sb ++= Json.obj("kind" -> "span", "i" -> i, "name" -> s.name,
                      "start" -> s.start, "end" -> s.end,
                      "parent" -> s.parent, "run_id" -> s.runId) += '\n'
    }
    jobRecs.foreach { j =>
      val t = tasksOfJob(j.id)
      sb ++= Json.obj("kind" -> "job", "id" -> j.id, "desc" -> j.desc,
                      "group" -> j.group, "start" -> j.start, "end" -> j.end,
                      "stages" -> j.stages, "tasks" -> t.tasks,
                      "task_s" -> t.runMs / 1e3, "cpu_s" -> t.cpuNs / 1e9,
                      "gc_s" -> t.gcMs / 1e3,
                      "shuffle_read_bytes" -> t.shuffleRead,
                      "shuffle_write_bytes" -> t.shuffleWrite,
                      "spill_mem_bytes" -> t.spillMem,
                      "spill_disk_bytes" -> t.spillDisk,
                      "run_id" -> runId) += '\n'
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Trace {
  val drainGroup = "perfbench:drain"
  /** The job group of the output checks, which run outside the timed
    * window and count in no per-layer metric.
    */
  val checkGroup = "perfbench:check"

  /** Union length of [start, end] intervals clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val xs = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    xs.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
