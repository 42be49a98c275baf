package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import graft.EtlPipeline
import graft.sources.{MediaInventory, Sinks}
import graft.stream.RetryStateMachine
import graft.stream.RetryStateMachine.{Attempt, Transition}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** capture_archive: the reference's capture → convert → archive
  * pipeline in the shape of LifecycleE2ESpec, fed by a file generator.
  *
  * Each batch file holds one download attempt per stream with seeded
  * retry, poll and data outcomes; for each attempt that got data the
  * generator also lands an `.mkv` payload named by
  * EtlPipeline.FilenamePattern, with heavy-tailed seeded sizes from KB
  * to MB. RetryStateMachine keeps the per-stream state; each tick reads
  * its captures with MediaInventory.scanBinaries, runs
  * EtlPipeline.convertAndArchive into a batchId-keyed directory,
  * consumes the returned per-file metrics as a per-quality size rollup
  * (convert.sh:101-106) and reconciles the archive with
  * Sinks.verifyTiers. Set-up and measurement as in cdc_ingest. */
object CaptureArchive {
  val Streams = 12
  val Qualities = IndexedSeq("1080p", "720p", "480p", "audio_only")
  val PollShare = 0.15
  val DataShare = 0.55
  val Retries = 3
  val WarmBatches = 2
  val MinBytes = 8 * 1024
  val MaxBytes = 3 * 1024 * 1024
  val ParetoAlpha = 1.2

  final case class Capture(batch: Int, name: String, quality: String, bytes: Int) {
    def suffix: String = if (quality == "audio_only") "json.gz" else "mkv"
  }

  def quality(stream: Int): String = Qualities(stream % Qualities.size)

  /** Attempts per batch and the captures they produce, as the state
    * machine's pure step function names them. Payload sizes are
    * Pareto-distributed; a size is a multiple of 3 exactly for audio
    * captures, which is how the stub probe tells audio from video. */
  def generate(seed: Long, batches: Int): (IndexedSeq[Seq[Attempt]], IndexedSeq[Capture]) = {
    val rng = new Random(seed)
    val state = Array.fill[Option[RetryStateMachine.CaptureState]](Streams)(None)
    val captures = mutable.ArrayBuffer[Capture]()
    val attempts = (0 until batches).map { b =>
      (0 until Streams).map { s =>
        val poll = rng.nextDouble() < PollShare
        // one stream per batch always gets data, so no batch is empty
        val data = s == b % Streams || rng.nextDouble() < DataShare
        val a = Attempt(f"s$s%02d", b * 1000L + s, poll, data)
        val (next, t) = RetryStateMachine.step(Retries)(state(s), a)
        state(s) = next
        if (t.action == "start" || t.action == "data") {
          val q = quality(s)
          val raw = math.min(MaxBytes.toDouble,
            MinBytes / math.pow(1.0 - rng.nextDouble(), 1.0 / ParetoAlpha)).toInt
          val size = if (q == "audio_only") raw - raw % 3 else if (raw % 3 == 0) raw + 1 else raw
          captures += Capture(b, f"${a.streamId}_${q}_2024-01-01T$b%06d-$s%02d_${t.retryId}.mkv",
            q, size)
        }
        a
      }
    }
    (attempts, captures.toIndexedSeq)
  }

  def measure(c: Ctx): StreamRun = {
    import c._
    import spark.implicits._
    val startMs = System.currentTimeMillis()
    val root = Paths.get(workDir, "capture")
    val srcDir = root.resolve("attempts")
    val stageDir = root.resolve("staged")
    val mediaDir = root.resolve("media")
    val archDir = root.resolve("archive")
    Seq(srcDir, stageDir, mediaDir, archDir).foreach(Files.createDirectories(_))

    val drainBatches = FileFeed.drainBatches(seconds)
    val total = WarmBatches + drainBatches
    val (attempts, captures) = generate(seed, total)
    val byBatch = captures.groupBy(_.batch)

    // payloads first, then the attempt files that announce them
    val bytesRng = new Random(seed ^ 0x5eedL)
    captures.foreach { cap =>
      val d = mediaDir.resolve(s"batch_${cap.batch}")
      Files.createDirectories(d)
      val buf = new Array[Byte](cap.bytes)
      bytesRng.nextBytes(buf)
      Files.write(d.resolve(cap.name), buf)
    }
    val staged = attempts.zipWithIndex.map { case (as, b) =>
      val f = stageDir.resolve(f"a$b%05d.json")
      Files.write(f, as.map(a =>
        s"""{"streamId":"${a.streamId}","ts":${a.ts},"pollAttempt":${a.pollAttempt},"gotData":${a.gotData}}""")
        .mkString("\n").getBytes("UTF-8"))
      f
    }
    val feed = new FileFeed(staged, srcDir, trace)
    val inputsS = (System.currentTimeMillis() - startMs) / 1e3

    val transitions = mutable.ArrayBuffer[Transition]()
    val serviceS = mutable.Map[Int, (Boolean, Double)]()

    def tick(batch: Dataset[Transition], id: Long): Unit = {
      val i = id.toInt
      trace.on = traced && i >= WarmBatches && i % 2 == 1
      val t0 = System.nanoTime()
      trace.span(s"tick$i", "op") {
        val ts = trace.span("state", "state")(batch.collect())
        transitions.synchronized(transitions ++= ts)
        val expected = byBatch.getOrElse(i, IndexedSeq.empty)
        val out = archDir.resolve(s"batch=$id").toString
        val inventory = MediaInventory.scanBinaries(spark, mediaDir.resolve(s"batch_$i").toString)
        val rollup = trace.span("convert", "convert") {
          val metrics = EtlPipeline.convertAndArchive(spark, inventory, out)
          metrics.groupBy($"quality")
            .agg(count(lit(1)).as("files"), sum($"origBytes").as("orig"),
              sum($"newBytes").as("new"), avg($"pct_reduction").as("pct"))
            .collect()
        }
        val tiers = trace.span("verify", "verify") {
          Sinks.verifyTiers(expected.map(x => (x.name, x.suffix)).toDF("name", "suffix"), out)
            .collect()
        }
        val files = rollup.map(_.getAs[Long]("files")).sum
        val bytes = rollup.map(_.getAs[Long]("orig")).sum
        rep.check(s"capture:tick$i:rollup", files == expected.size && bytes == expected.map(_.bytes.toLong).sum,
          s"rollup saw $files files / $bytes B, expected ${expected.size} / ${expected.map(_.bytes.toLong).sum}")
        rep.check(s"capture:tick$i:verify_tiers", tiers.nonEmpty && tiers.forall(_.getAs[Boolean]("ok")),
          tiers.mkString(" "))
      }
      if (i >= WarmBatches) serviceS(i) = (trace.on, Main.since(t0))
      trace.on = false
      feed.commit(i)
    }

    val schema = "streamId STRING, ts LONG, pollAttempt BOOLEAN, gotData BOOLEAN"
    val q = RetryStateMachine(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .json(srcDir.toString).as[Attempt], retries = Retries)
      .writeStream
      .option("checkpointLocation", root.resolve("ck").toString)
      .foreachBatch((b: Dataset[Transition], id: Long) => tick(b, id))
      .start()
    var turnS = Seq.empty[Double]
    var drainS = Double.NaN
    var setup = 0.0
    try {
      rep.op("capture:warm") { feed.backlog(0, WarmBatches, q) }
      setup = (System.currentTimeMillis() - startMs) / 1e3
      rep.op("capture:drain") {
        drainS = feed.backlog(WarmBatches, total, q)
        turnS = feed.turnarounds(WarmBatches, total)
      }
    } finally q.stop()

    rep.op("capture:transitions_equal_batch") {
      val batchT = RetryStateMachine.batch(attempts.flatten.toDS(), Retries).collect()
      val key = (t: Transition) => (t.streamId, t.ts, t.retryId, t.attempts, t.action)
      rep.check("capture:transitions_equal_batch", transitions.map(key).sorted == batchT.map(key).toSeq.sorted,
        s"${transitions.size} streamed vs ${batchT.length} batch transitions")
    }
    rep.op("capture:archived_names") {
      val names = spark.read.parquet(archDir.toString).select($"name").as[String].collect().sorted
      rep.check("capture:archived_names", names.toSeq == captures.map(_.name).sorted,
        s"${names.length} archived vs ${captures.size} captured")
    }

    val drainCaps = captures.filter(_.batch >= WarmBatches)
    val sizes = captures.map(_.bytes.toDouble)
    rep.inputs("capture_archive") = Map("streams" -> Streams, "batches" -> total,
      "attempts_per_batch" -> Streams, "poll_share" -> PollShare, "data_share" -> DataShare,
      "retries" -> Retries, "drain_batches" -> drainBatches, "warm_batches" -> WarmBatches,
      "captures" -> captures.size,
      "payload_bytes_p50" -> Stats.median(sizes), "payload_bytes_p90" -> Stats.percentile(sizes, 0.9),
      "payload_bytes_max" -> sizes.max, "payload_mb_total" -> sizes.sum / 1e6)
    rep.detail("capture_archive") = Map("inputs_s" -> inputsS, "setup_s" -> setup,
      "media_mb_per_s" -> drainCaps.map(_.bytes.toLong).sum / 1e6 / drainS,
      "drain_s" -> drainS, "tick_turnarounds_s" -> turnS)
    StreamRun(startMs, setup, turnS, drainBatches, drainS, serviceS.values.toSeq, () => {
      val n = math.max(trace.spansOf("op").size, 1).toDouble
      val (files, bytes) = FileFeed.parquetStats(archDir)
      Layers.call(trace, "convert", "convert") ++ Map(
        "convert.run_s" -> trace.runSeconds("convert") / n,
        "media_scan.bytes" -> trace.inputBytes("convert") / n,
        "archive.files" -> files.toDouble / total,
        "archive.bytes" -> bytes.toDouble / total,
        "verify.s" -> trace.seconds("verify") / n)
    })
  }
}
