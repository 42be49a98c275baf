package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Everything a workload needs for one run. `launchedMs` is when
  * run.py started this process, so set-up time includes JVM and
  * session start. */
final case class Ctx(spark: SparkSession, trace: Trace, rep: Report, seed: Long,
                     seconds: Double, traced: Boolean, dataDir: String,
                     workDir: String, launchedMs: Long) {
  def setupDone(): Double = {
    val s = (System.currentTimeMillis() - launchedMs) / 1e3
    rep.detail("setup_done_s") = s
    s
  }
}

/** One benchmark run of one workload; see perfbench/README.md.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --data <dir> --work <dir> --out <file> --launched-ms <epoch ms>
  */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "catalog_curation" -> Catalog.run,
    "cdc_capture" -> (c => StreamRun.report(c,
      Seq(CdcIngest.measure(c), CaptureArchive.measure(c)))))

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val spark = graft.GraftSession.local()
    Trace.installErrorCounter()
    val rep = new Report(workload)
    val launched = a("launched-ms").toLong
    rep.detail("session_s") = (System.currentTimeMillis() - launched) / 1e3
    val ctx = Ctx(spark, new Trace(spark), rep, a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("data"), a("work"), launched)
    try run(ctx)
    finally {
      // whole-run gauges, read last
      if (ctx.traced) {
        rep.detail("spans") = ctx.trace.dump()
        rep.metric("log.errors", Trace.logErrors.get.toDouble, "count")
        rep.metric("process.peak_rss_mb", Trace.peakRssMb(), "MB")
      }
      rep.detail("log_errors") = Trace.logErrors.get
      rep.detail("peak_rss_mb") = Trace.peakRssMb()
      rep.detail("report_s") = (System.currentTimeMillis() - ctx.launchedMs) / 1e3
      Files.writeString(Paths.get(a("out")), rep.toJson(Map(
        "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
        "trace" -> ctx.traced,
        "cpus" -> spark.sparkContext.defaultParallelism,
        "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "spark" -> spark.version)))
      spark.stop()
    }
  }

  /** Seconds since `t0` (a System.nanoTime reading). */
  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}
