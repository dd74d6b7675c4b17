package perfbench

/** The per-layer metric names every traced run prints (a workload that
  * does not touch a layer reports 0 for it), and their units.
  */
object Layers {
  val common: Seq[String] = Seq(
    "fail_frac", "trace.overhead_frac",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_s", "spark.cpu_s",
    "spark.gc_s", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.spill_mem_bytes", "spark.spill_disk_bytes", "spark.peak_exec_mem_bytes",
    "spark.utilization")

  lazy val names: Seq[String] =
    (Main.workloads.keys.toSeq.sorted.flatMap(k => Main.workloads(k)().layerNames) ++
      common).distinct
}

object Units {
  def of(name: String): String =
    if (name == "store.state_bytes_per_page") "B/page"
    else if (name.endsWith("_s") || name.contains("_s_")) "s"
    else if (name.endsWith("_bytes") || name.contains(".bytes_")) "B"
    else if (name.endsWith("_frac") || name.endsWith("_ratio") ||
             name == "spark.utilization") "frac"
    else "count"
}
