package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import graft.Ckpt
import graft.ops.{Corpus, Text}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

/** cdc_ingest: the standing dedup + BM25 ingest loop that
  * IncrementalIndexSpec drives, fed by a file generator.
  *
  * Set-up builds the signature index (Text.bandProject) and the tf
  * table (Corpus.tfRows) from the sf0.01 documents and runs `WarmBatches`
  * warm batches. Each tick vets its batch with Text.ingestTick, merges the
  * admitted docs' tf rows into the postings with Corpus.mergePostings
  * and appends them; every `CompactEvery`-th tick first folds the
  * committed ingests with Text.compactIndex. The measurement drains a
  * backlog landed at once: per-batch turnaround and batches per second.
  *
  * Arrivals are fresh docs built from seeded novel tokens (the vet must
  * admit them) and re-sends of corpus docs or earlier fresh arrivals,
  * in three kinds: exact; case and padding changed (same digest); and
  * inner whitespace changed (same tokens under a new digest, so the
  * band index catches it). */
object CdcIngest {
  val BatchDocs = 40
  val FreshShare = 0.5
  val WarmBatches = 4
  val CompactEvery = 4
  /** Arrival ids start here, above every corpus doc_id. */
  val IdBase = 100000000L

  final case class Arrival(batch: Int, docId: Long, text: String, kind: String) {
    def expected: String = kind match {
      case "fresh" => "keep"
      case "whitespace" => "drop_near"
      case _ => "drop_exact"
    }
  }

  /** The seeded arrival sequence. Re-sends copy a corpus doc or a fresh
    * doc from an earlier batch, so every label is known up front. */
  def generate(seed: Long, corpus: IndexedSeq[String], batches: Int): IndexedSeq[Arrival] = {
    val rng = new Random(seed)
    val fresh = mutable.ArrayBuffer[String]()
    def novel(): String = Seq.fill(30 + rng.nextInt(30))(
      "x" + Seq.fill(6)(('a' + rng.nextInt(26)).toChar).mkString).mkString(" ")
    (0 until batches).flatMap { b =>
      val freshBefore = fresh.size
      (0 until BatchDocs).map { i =>
        val id = IdBase + b * 1000L + i
        if (rng.nextDouble() < FreshShare) {
          val t = novel(); fresh += t; Arrival(b, id, t, "fresh")
        } else {
          val src = if (freshBefore > 0 && rng.nextBoolean()) fresh(rng.nextInt(freshBefore))
            else corpus(rng.nextInt(corpus.size))
          rng.nextInt(3) match {
            case 0 => Arrival(b, id, src, "exact")
            case 1 => Arrival(b, id, "  " + src.toUpperCase(java.util.Locale.ROOT) + " ", "case_trim")
            case _ =>
              val spaces = src.indices.filter(src(_) == ' ')
              val at = spaces(rng.nextInt(spaces.size))
              Arrival(b, id, src.substring(0, at) + " " + src.substring(at), "whitespace")
          }
        }
      }
    }
  }

  def measure(c: Ctx): StreamRun = {
    import c._
    import spark.implicits._
    val startMs = System.currentTimeMillis()
    val root = Paths.get(workDir, "cdc")
    val idxDir = root.resolve("sig_index").toString
    val tfDir = root.resolve("tf").toString
    val srcDir = root.resolve("arrivals")
    Files.createDirectories(srcDir)

    val corpusDf = spark.read.parquet(s"$dataDir/sf0.01/documents.parquet")
      .select($"doc_id", $"text")
    val corpusTexts = corpusDf.select($"text").as[String].collect().toIndexedSeq
    val drainBatches = FileFeed.drainBatches(seconds)
    val total = WarmBatches + drainBatches
    val arrivals = generate(seed, corpusTexts, total)
    val byId = arrivals.map(a => a.docId -> a).toMap

    Text.bandProject(corpusDf).write.mode("overwrite").parquet(idxDir)
    Corpus.tfRows(corpusDf).write.mode("overwrite").parquet(tfDir)

    // one parquet file per batch, staged for landing
    val stageDir = root.resolve("staged")
    arrivals.map(a => (a.batch, a.docId, a.text)).toDF("batch", "doc_id", "text")
      .repartition(total, $"batch").write.partitionBy("batch").parquet(stageDir.toString)
    val staged = (0 until total).map { b =>
      val d = stageDir.resolve(s"batch=$b")
      val part = Files.list(d).toArray.map(_.asInstanceOf[Path])
        .filter(_.getFileName.toString.endsWith(".parquet")).head
      val named = d.resolve(f"b$b%05d.parquet")
      Files.move(part, named)
    }
    val feed = new FileFeed(staged, srcDir, trace)
    val inputsS = (System.currentTimeMillis() - startMs) / 1e3

    val admitted = mutable.LinkedHashSet[Long]()
    val serviceS = mutable.Map[Int, (Boolean, Double)]()
    val rewritten = mutable.ArrayBuffer[Long]()
    val compactS = mutable.Map[Int, Double]().withDefaultValue(0.0)
    val mats = mutable.ArrayBuffer[SparkPlan]()
    var storage = 0L

    def tick(batch: DataFrame, id: Long): Unit = {
      val i = id.toInt
      trace.on = traced && i >= WarmBatches && i % 2 == 1
      if (trace.on) Ckpt.planProbe = Some(mats)
      val t0 = System.nanoTime()
      val verdicts = trace.span(s"tick$i", "op") {
        // a tick compacts the ingests committed before it
        if (i % CompactEvery == CompactEvery - 1) trace.span("compact", "compact") {
          val c0 = System.nanoTime()
          Text.compactIndex(spark, idxDir, id)
          compactS(i) = Main.since(c0)
          rewritten += FileFeed.parquetStats(Paths.get(idxDir, s"gen_$id"))._2
        }
        val v = trace.span("vet", "vet") {
          Text.ingestTick(spark, idxDir, batch, id).collect()
        }
        val keeps = v.collect { case Row(d: Long, "keep", _) => d }
        trace.span("postings", "postings") {
          val batchTf = Corpus.tfRows(batch.filter($"doc_id".isin(keeps.toIndexedSeq: _*)))
            .localCheckpoint()
          Corpus.mergePostings(spark.read.parquet(tfDir), batchTf)
            .write.format("noop").mode("overwrite").save()
          batchTf.write.mode("append").parquet(tfDir)
        }
        admitted.synchronized(admitted ++= keeps)
        v
      }
      if (i >= WarmBatches) serviceS(i) = (trace.on, Main.since(t0) - compactS(i))
      if (trace.on) storage = math.max(storage, Trace.storageBytes(spark))
      trace.on = false
      Ckpt.planProbe = None
      val wrong = verdicts.collect {
        case Row(d: Long, v: String, _) if !byId.get(d).exists(_.expected == v) =>
          s"$d:$v(expected ${byId.get(d).map(_.expected).getOrElse("no such doc")})"
      }
      val missing = arrivals.count(_.batch == i) - verdicts.length
      rep.check(s"cdc:tick$i:verdicts", wrong.isEmpty && missing == 0,
        s"${wrong.take(5).mkString(", ")} missing=$missing")
      feed.commit(i)
    }

    val q = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.toString)
      .writeStream
      .option("checkpointLocation", root.resolve("ck").toString)
      .foreachBatch((b: DataFrame, id: Long) => tick(b, id))
      .start()
    var turnS = Seq.empty[Double]
    var drainS = Double.NaN
    var setup = 0.0
    try {
      rep.op("cdc:warm") { feed.backlog(0, WarmBatches, q) }
      setup = (System.currentTimeMillis() - startMs) / 1e3
      rep.op("cdc:drain") {
        drainS = feed.backlog(WarmBatches, total, q)
        turnS = feed.turnarounds(WarmBatches, total)
      }
    } finally q.stop()

    // the final postings must equal a from-scratch rebuild over the
    // seed corpus plus the keeps
    val keepDocs = arrivals.filter(a => admitted.contains(a.docId))
      .map(a => (a.docId, a.text)).toDF("doc_id", "text")
    def emit(idx: DataFrame): DataFrame = idx.select($"doc_id", $"term", $"tf",
      round($"idf" * lit(1.0e6)).cast("long").as("idf_u6"),
      round($"dln" * lit(1.0e6)).cast("long").as("dln_u6"))
    val empty = Corpus.tfRows(corpusDf.limit(0))
    rep.op("cdc:postings_rebuild") {
      val inc = emit(Corpus.mergePostings(spark.read.parquet(tfDir), empty)).localCheckpoint()
      val full = emit(Corpus.mergePostings(Corpus.tfRows(corpusDf.union(keepDocs)), empty))
        .localCheckpoint()
      val diff = inc.exceptAll(full).count() + full.exceptAll(inc).count()
      rep.check("cdc:postings_equal_rebuild", diff == 0, s"$diff posting rows differ")
    }

    val (idxFiles, idxBytes) = FileFeed.parquetStats(Paths.get(idxDir))
    val (tfFiles, tfBytes) = FileFeed.parquetStats(Paths.get(tfDir))
    val held = corpusTexts.size + admitted.size
    val kinds = arrivals.groupBy(_.kind).map { case (k, v) => k -> v.size.toDouble / arrivals.size }
    rep.inputs("cdc_ingest") = Map("corpus_docs" -> corpusTexts.size, "batches" -> total,
      "batch_docs" -> BatchDocs, "drain_batches" -> drainBatches, "warm_batches" -> WarmBatches,
      "dup_share" -> (1.0 - kinds.getOrElse("fresh", 0.0)), "dup_share_by_kind" -> kinds,
      "novel_token_share" -> kinds.getOrElse("fresh", 0.0), "compact_every" -> CompactEvery)
    rep.detail("cdc_ingest") = Map("inputs_s" -> inputsS, "setup_s" -> setup,
      "docs_per_s" -> drainBatches * BatchDocs / drainS, "drain_s" -> drainS,
      "index_bytes_per_doc" -> (idxBytes + tfBytes).toDouble / held,
      "tick_turnarounds_s" -> turnS, "admitted" -> admitted.size)
    StreamRun(startMs, setup, turnS, drainBatches, drainS, serviceS.values.toSeq, () => {
      val n = math.max(trace.spansOf("op").size, 1).toDouble
      Layers.call(trace, "vet", "vet") ++ Layers.call(trace, "postings", "postings") ++ Map(
        "vet.admit_frac" -> admitted.size.toDouble / arrivals.size,
        "ckpt.mats" -> mats.size / n,
        "ckpt.storage_bytes" -> storage.toDouble,
        "compact.s" -> trace.seconds("compact") / n,
        "compact.bytes_rewritten" -> rewritten.sum / n,
        "index.files" -> (idxFiles + tfFiles).toDouble,
        "index.bytes_per_doc" -> (idxBytes + tfBytes).toDouble / held)
    })
  }
}
