package graft.perfbench

/** The per-layer metric set a traced run reports, whatever the
  * workload: a layer the workload does not exercise reads 0. Additive
  * quantities are means per traced op (a query or a tick); ratios and
  * maxima are taken over all traced ops; index and state gauges and the
  * peak RSS are read at the end of the run. */
object Layers {
  val Units: Seq[(String, String)] = Seq(
    "construct.s" -> "s", "construct.jobs" -> "count",
    "plan.s" -> "s", "codegen.compiles" -> "count", "codegen.compile_s" -> "s",
    "execute.jobs" -> "count", "execute.stages" -> "count", "execute.tasks" -> "count",
    "execute.tasks_per_job" -> "ratio", "execute.run_s" -> "s", "execute.cpu_s" -> "s",
    "execute.wait_s" -> "s", "execute.driver_idle_s" -> "s", "execute.skew_max" -> "ratio",
    "execute.shuffle_read_bytes" -> "B", "execute.shuffle_write_bytes" -> "B",
    "execute.spill_bytes" -> "B",
    "scan.bytes" -> "B", "scan.rows" -> "count",
    "ckpt.mats" -> "count", "ckpt.storage_bytes" -> "B",
    "vet.s" -> "s", "vet.jobs" -> "count", "vet.admit_frac" -> "ratio",
    "postings.s" -> "s", "postings.jobs" -> "count",
    "compact.s" -> "s", "compact.bytes_rewritten" -> "B",
    "index.files" -> "count", "index.bytes_per_doc" -> "B",
    "stream.trigger_overhead_s" -> "s", "stream.latest_offset_s" -> "s",
    "stream.wal_commit_s" -> "s",
    "state.rows" -> "count", "state.commit_s" -> "s", "state.memory_bytes" -> "B",
    "convert.s" -> "s", "convert.jobs" -> "count", "convert.run_s" -> "s",
    "media_scan.bytes" -> "B",
    "archive.files" -> "count", "archive.bytes" -> "B", "verify.s" -> "s",
    "log.errors" -> "count",
    "process.peak_rss_mb" -> "MB", "trace.overhead_frac" -> "ratio")

  /** Scheduler and executor metrics over every job of the traced ops,
    * per op. */
  def execute(t: Trace): Map[String, Double] = {
    val ops = t.spansOf("op")
    val n = math.max(ops.size, 1).toDouble
    val jobs = t.jobsIn("op")
    val stages = t.stagesIn("op")
    val tasks = stages.map(_.tasks).sum
    val skews = stages.filter(_.durationsMs.size >= 2).flatMap { s =>
      val med = Stats.median(s.durationsMs.map(_.toDouble).toSeq)
      if (med > 0) Some(s.durationsMs.max / med) else None
    }
    Map(
      "execute.jobs" -> jobs.size / n,
      "execute.stages" -> stages.size / n,
      "execute.tasks" -> tasks / n,
      "execute.tasks_per_job" -> (if (jobs.isEmpty) 0.0 else tasks.toDouble / jobs.size),
      "execute.run_s" -> stages.map(_.runMs).sum / 1e3 / n,
      "execute.cpu_s" -> stages.map(_.cpuNs).sum / 1e9 / n,
      "execute.wait_s" -> stages.map(_.waitUs).sum / 1e6 / n,
      "execute.driver_idle_s" -> ops.map(t.idleUs).sum / 1e6 / n,
      "execute.skew_max" -> (if (skews.isEmpty) 1.0 else skews.max),
      "execute.shuffle_read_bytes" -> stages.map(_.shuffleRead).sum / n,
      "execute.shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum / n,
      "execute.spill_bytes" -> stages.map(_.spill).sum / n,
      "scan.bytes" -> stages.map(_.inBytes).sum / n,
      "scan.rows" -> stages.map(_.inRows).sum / n)
  }

  /** Time and job count of the layer calls of `kind`, per op. */
  def call(t: Trace, kind: String, prefix: String): Map[String, Double] = {
    val n = math.max(t.spansOf("op").size, 1).toDouble
    Map(s"$prefix.s" -> t.seconds(kind) / n, s"$prefix.jobs" -> t.jobsIn(kind).size / n)
  }

  /** Micro-batch engine and state-store figures from the progress
    * events of the batches that ran. */
  def stream(t: Trace): Map[String, Double] = {
    val ps = t.progress.synchronized(t.progress.toSeq)
      .filter(p => p.durationMs.containsKey("addBatch"))
    def med(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double): Double =
      if (ps.isEmpty) 0.0 else Stats.median(ps.map(f))
    def ms(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
    val state = ps.flatMap(_.stateOperators.headOption)
    Map(
      "stream.trigger_overhead_s" -> med(p => ms(p, "triggerExecution") - ms(p, "addBatch")),
      "stream.latest_offset_s" -> med(p => ms(p, "latestOffset")),
      "stream.wal_commit_s" -> med(p => ms(p, "walCommit")),
      "state.rows" -> state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "state.commit_s" -> (if (state.isEmpty) 0.0
        else Stats.median(state.map(_.commitTimeMs / 1e3))),
      "state.memory_bytes" -> state.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0))
  }

  /** Fills `rep` with every per-layer metric: `values` first, 0 for
    * the layers this workload does not exercise. */
  def report(rep: Report, values: Map[String, Double], ops: Int): Unit = {
    val unknown = values.keySet -- Units.map(_._1)
    require(unknown.isEmpty, s"metrics missing from Layers.Units: $unknown")
    Units.foreach { case (name, unit) =>
      rep.metric(name, values.getOrElse(name, 0.0), unit, ops)
    }
  }
}
