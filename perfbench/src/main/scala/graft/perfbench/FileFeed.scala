package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.streaming.StreamingQuery

/** Lands pre-generated batch files into a file-stream source directory,
  * one file per micro-batch (the stream reads with
  * maxFilesPerTrigger=1), and records when each batch landed and when
  * its tick committed. The calling thread is the generator; the stream
  * runs on its own thread.
  *
  * A file's mtime is set before an atomic rename, increasing with the
  * batch index, so the file source, which takes the oldest file first,
  * sees batches in order even when several land at once. */
final class FileFeed(staged: IndexedSeq[Path], srcDir: Path, trace: Trace) {
  val n: Int = staged.size
  val landedUs: Array[Long] = Array.fill(n)(-1L)
  val doneUs: Array[Long] = Array.fill(n)(-1L)
  private val done = new AtomicInteger(0)
  private var landed = 0

  /** Called by the tick that processed batch `i` once its output is
    * committed. */
  def commit(i: Int): Unit = { doneUs(i) = trace.nowUs; done.incrementAndGet() }

  def committed: Int = done.get

  /** Waits until every landed batch has committed. */
  def await(q: StreamingQuery, timeoutS: Double = 150.0): Unit = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (committed < landed) {
      q.exception.foreach(e => throw e)
      if (!q.isActive) throw new IllegalStateException("stream stopped early")
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"only $committed of $landed batches committed")
      Thread.sleep(2L)
    }
  }

  /** Lands batches `from until to` at once and waits for them; returns
    * the drain wall time in seconds. */
  def backlog(from: Int, to: Int, q: StreamingQuery): Double = {
    val t0 = trace.nowUs
    (from until to).foreach { i =>
      require(i == landed, s"batch $i landed out of order")
      val f = staged(i)
      Files.setLastModifiedTime(f, FileTime.fromMillis(t0 / 1000L + i))
      Files.move(f, srcDir.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
      landedUs(i) = trace.nowUs
      landed += 1
    }
    await(q)
    ((from until to).map(doneUs).max - t0) / 1e6
  }

  /** Turnaround (s) of each batch in `from until to`: from when the
    * stream could start it (it had landed and the previous batch had
    * committed) to its commit — the time a batch costs the stream,
    * engine overhead between batches included. */
  def turnarounds(from: Int, to: Int): Seq[Double] =
    (from until to).map { i =>
      val ready = if (i == 0) landedUs(i) else math.max(landedUs(i), doneUs(i - 1))
      (doneUs(i) - ready) / 1e6
    }
}

object FileFeed {
  /** Parquet files under `dir` (recursively): (count, bytes). */
  def parquetStats(dir: Path): (Int, Long) =
    if (!Files.exists(dir)) (0, 0L)
    else {
      val s = Files.walk(dir)
      try {
        val fs = s.iterator()
        var n = 0
        var bytes = 0L
        while (fs.hasNext) {
          val f = fs.next()
          if (Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")) {
            n += 1; bytes += Files.size(f)
          }
        }
        (n, bytes)
      } finally s.close()
    }

  /** Batches drained in a `seconds`-long measurement: two for every
    * three seconds, at least four. */
  def drainBatches(seconds: Double): Int = math.max(4, math.round(seconds * 2 / 3).toInt)
}

/** What one stream pipeline measured: when it started, its set-up time
  * (inputs, indexes, warm batches), the drained batches' turnarounds,
  * the drain's size and wall time, each drained tick's service time (and
  * whether it was traced), and its own layer figures, computed once
  * the run's trace is drained. */
final case class StreamRun(startMs: Long, setupS: Double, turnarounds: Seq[Double],
                           drainBatches: Int, drainS: Double,
                           service: Seq[(Boolean, Double)], layers: () => Map[String, Double])

object StreamRun {
  /** Reports pipelines that ran one after another in this process as
    * one workload: set-up is the time before the first pipeline
    * started plus each pipeline's set-up; each latency percentile is
    * the mean of the pipelines' own percentiles, so that each pipeline
    * weighs the same and the figure does not fall in the gap between
    * their batch costs, as a percentile of the pooled batches does;
    * throughput is all drained batches over all drain time. */
  def report(c: Ctx, runs: Seq[StreamRun]): Unit = {
    import c._
    if (!traced) {
      val turns = runs.flatMap(_.turnarounds)
      val batches = runs.map(_.drainBatches).sum
      rep.metric("setup_s", (runs.head.startMs - launchedMs) / 1e3 + runs.map(_.setupS).sum, "s")
      def pct(q: Double): Double = runs.map(r => Stats.percentile(r.turnarounds, q)).sum / runs.size
      rep.metric("op_p50_s", pct(0.5), "s", turns.size)
      rep.metric("op_p90_s", pct(0.9), "s", turns.size)
      rep.metric("ops_per_s", batches / runs.map(_.drainS).sum, "1/s", batches)
    } else {
      trace.drain()
      val (tr, un) = runs.flatMap(_.service).partition(_._1)
      Layers.report(rep, Layers.execute(trace) ++ Layers.stream(trace) ++
        runs.flatMap(_.layers()).toMap ++ Map(
        "trace.overhead_frac" -> (Stats.median(tr.map(_._2)) / Stats.median(un.map(_._2)) - 1.0)),
        trace.spansOf("op").size)
    }
  }
}
