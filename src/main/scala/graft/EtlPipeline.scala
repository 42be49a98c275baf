package graft

import graft.media.Multimodal
import graft.sources.Sinks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's batch convert→archive job (SURVEY.md §3 E3,
  * convert.sh + s3-sync.sh) as ONE declarative Spark pipeline:
  *
  *   scan (size-asc) → parse filename → probe (stub ffprobe) →
  *   transcode (stub ffmpeg) → compression metrics → tiered,
  *   verified archive write
  *
  * What the shell pipeline does with locks, temp dirs, and rename
  * protocols, this job gets from Spark's execution model: job-level
  * serialization, task-level retry, and the output committer's
  * stage-then-rename publish. Per-file state disappears — the whole
  * batch is a dataflow.
  *
  * At 100 TB: the scan lists files only (no payload read until
  * probe), shortest-job-first becomes irrelevant (tasks are
  * size-balanced by the scheduler), and the archive write is one
  * partitioned pass.
  */
object EtlPipeline {

  /** Filename schema `${STREAM}_${QUALITY}_${DATETIME}_${RETRY}.mkv`
    * (convert.sh:38-42). */
  val FilenamePattern = "^([^_]+)_(audio_only|[^_]+p)_([0-9T:-]+)_([0-9]+)\\.mkv$"

  /** Run the full convert→archive flow over a (name, media) inventory
    * DataFrame; returns the per-file metrics frame after the archive
    * write + verification. The metrics are ONE lazy materialization
    * that the archive write fills: reading the returned frame never
    * re-runs scan → probe → transcode. */
  def convertAndArchive(spark: SparkSession, inventory: DataFrame,
                        outDir: String): DataFrame = {
    import spark.implicits._

    // 1. parse: recover dimensions from the filename (convert.sh:41-42).
    // The rlike guard comes FIRST (early abort on unparseable input,
    // convert.sh:32-36) — Catalyst may reorder a later filter below
    // the cast projection, and ''.cast(int) throws under ANSI mode.
    val parsed = inventory
      .filter($"name".rlike(FilenamePattern))
      .select($"name", $"media".cast("binary"),
        regexp_extract($"name", FilenamePattern, 1).as("stream"),
        regexp_extract($"name", FilenamePattern, 2).as("quality"),
        regexp_extract($"name", FilenamePattern, 4).cast("int").as("retry_id"))

    // 2-4. probe (stub ffprobe) + transcode (stub ffmpeg) + compression
    // metrics (convert.sh:101-106) in one mapPartitions pass that
    // carries the parsed dimensions along, so no join back to `parsed`
    // (which would scan and parse the inventory a second time)
    val metrics = parsed
      .as[(String, Array[Byte], String, String, Option[Int])]
      .mapPartitions(_.map { case (name, bytes, stream, quality, retry) =>
        val audioOnly = Multimodal.probeStub(bytes).audioOnly
        val out = Multimodal.transcodeStub(bytes, audioOnly)
        (name, audioOnly, bytes.length.toLong, out.length.toLong, stream, quality, retry)
      })
      .toDF("mediaId", "audioOnly", "origBytes", "newBytes", "stream", "quality", "retry_id")
      .withColumn("pct_reduction",
        Multimodal.pctReduction(col("origBytes"), col("newBytes")))
      .transform(Ckpt.mat)

    // 5. archive: route sidecar kinds to tiers and verify (s3-sync.sh);
    // this write is the action that materializes `metrics`
    Sinks.archiveWrite(metrics.select(
      $"mediaId".as("name"),
      when($"audioOnly", "json.gz").otherwise("mkv").as("suffix"),
      $"origBytes", $"newBytes", $"pct_reduction", $"stream", $"quality"), outDir)

    metrics.select($"mediaId", $"stream", $"quality", $"retry_id",
      $"origBytes", $"newBytes", $"pct_reduction")
  }
}
