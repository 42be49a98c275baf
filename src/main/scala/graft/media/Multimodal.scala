package graft.media

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns (SURVEY.md §1.1 "multimodal record", §2.10
  * X3/X4, §2.11 L5): media as opaque BinaryType + typed metadata
  * struct + packet time-series array, linked in ONE row — the Spark
  * shape of the reference's (mkv, <name>.json sidecar,
  * _packets.json.gz) triple (convert.sh:58,63-65, s3-sync.sh:57-67).
  *
  * The decode/transcode kernels (ffprobe/ffmpeg, convert.sh:44-48,
  * 73-97) are STUBBED — deterministic pure functions of the bytes —
  * because no media codecs ship in this environment. Everything
  * around them is real Spark plumbing: schemas, encoders,
  * mapPartitions batching, partition-preserving narrow execution.
  *
  * At 100 TB: media rows are large, so (a) all per-row kernels run as
  * mapPartitions (one iterator pass, no per-row setup, the Scala
  * analog of arrow-batched mapInPandas), (b) metadata-only queries
  * must never touch the binary column — parquet column pruning makes
  * `select(meta.*)` free, which is the whole point of carrying
  * metadata beside the bytes instead of inside them.
  */
object Multimodal {

  /** Probed stream metadata (the ffprobe sidecar schema:
    * .streams[i].{codec_type,width,height}, convert.sh:44-48). */
  case class MediaMeta(codec: String, width: Int, height: Int,
                       durationS: Double, audioOnly: Boolean)

  /** One packet of the timeline dump (convert.sh:63-65 field list). */
  case class Packet(ptsTime: Double, dtsTime: Double, size: Long,
                    pos: Long, durationTime: Double)

  /** The multimodal record: bytes + typed metadata + time-series. */
  case class MediaRecord(mediaId: String, media: Array[Byte],
                         meta: MediaMeta, packets: Seq[Packet])

  /** STUB decode kernel (stands in for ffprobe, convert.sh:44-48):
    * deterministic metadata derived purely from the bytes, so tests
    * are exact. A real deployment swaps only this function. */
  def probeStub(bytes: Array[Byte]): MediaMeta = {
    val n = bytes.length
    val audioOnly = n % 3 == 0
    MediaMeta(
      codec = if (audioOnly) "opus" else "hevc",
      width = if (audioOnly) 0 else 1280 + (n % 4) * 160,
      height = if (audioOnly) 0 else 720 + (n % 4) * 90,
      durationS = n / 16.0,
      audioOnly = audioOnly)
  }

  /** STUB packet-dump kernel (stands in for the ffprobe packet
    * extraction, convert.sh:63-65): one packet per 8-byte window,
    * monotone pts with a deterministic "ad gap" every 4th packet
    * (the discontinuities convert.sh:60-62 exists to survive). */
  def packetsStub(bytes: Array[Byte]): Seq[Packet] = {
    val n = math.max(bytes.length / 8, 1)
    (0 until n).map { i =>
      val gap = (i / 4) * 2.0 // injected discontinuity
      Packet(ptsTime = i * 0.02 + gap, dtsTime = i * 0.02 + gap,
        size = 8L + (bytes((i * 8) % bytes.length) & 0xff),
        pos = i * 8L, durationTime = 0.02)
    }
  }

  /** STUB transcode kernel (stands in for ffmpeg, convert.sh:73-97):
    * byte-level "recompression" that shrinks deterministically —
    * keeps every 4th byte for video, every 8th for audio-only, so
    * the compression-stats op (convert.sh:101-106) has real inputs. */
  def transcodeStub(bytes: Array[Byte], audioOnly: Boolean): Array[Byte] =
    strided(bytes, if (audioOnly) 8 else 4)

  /** Every `stride`-th byte from index 0: one array copy with no
    * per-byte boxing, so the kernels stay cheap on MB-scale payloads. */
  private def strided(bytes: Array[Byte], stride: Int): Array[Byte] = {
    val out = new Array[Byte](((bytes.length + stride.toLong - 1) / stride).toInt)
    var i = 0
    while (i < out.length) { out(i) = bytes(i * stride); i += 1 }
    out
  }

  /** Ingest: a DataFrame with (mediaId string, media binary) →
    * Dataset[MediaRecord] with probed meta + packet dump. One
    * mapPartitions pass — per-partition iterator, no shuffle, the
    * batch shape a real decoder (arrow/JNI) would want. */
  def probe(df: DataFrame): Dataset[MediaRecord] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("mediaId").cast("string"), col("media").cast("binary"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        MediaRecord(id, bytes, probeStub(bytes), packetsStub(bytes))
      })
  }

  /** Transcode + compression accounting (convert.sh:73-106): binary
    * in/out plus the reference's `100*(1-new/old)` scale-3 ratio. */
  def transcode(ds: Dataset[MediaRecord]): DataFrame = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions(_.map { r =>
      val out = transcodeStub(r.media, r.meta.audioOnly)
      (r.mediaId, r.meta.audioOnly, r.media.length.toLong, out.length.toLong, out)
    }).toDF("mediaId", "audioOnly", "origBytes", "newBytes", "converted")
      .withColumn("pct_reduction", pctReduction(col("origBytes"), col("newBytes")))
  }

  /** The reference's compression figure, `100*(1-new/old)` at scale 3. */
  def pctReduction(origBytes: Column, newBytes: Column): Column =
    round(lit(100.0) * (lit(1.0) - newBytes / origBytes), 3)

  /** Packet-timeline analytics on the nested array WITHOUT exploding
    * per-row state to a shuffle: gap detection via zip-with-next
    * array expressions (W2's rationale, convert.sh:60-62). */
  def packetGaps(ds: Dataset[MediaRecord]): DataFrame = packetGapsOf(ds.toDF())

  /** Untyped variant (erasure forbids an overload): any
    * (mediaId, packets: array&lt;struct&gt;) frame — e.g.
    * sources.MediaInventory.packetsNested over a real
    * `_packets.json.gz` read — gets the same zip-with-next analytics. */
  def packetGapsOf(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df
      .select($"mediaId", $"packets")
      .withColumn("pts", transform($"packets", p => p.getField("ptsTime")))
      .withColumn("gaps",
        zip_with(slice($"pts", lit(2), size($"pts") - 1),
          slice($"pts", lit(1), size($"pts") - 1),
          (nxt, cur) => nxt - cur))
      .select($"mediaId",
        size($"packets").as("n_packets"),
        round(array_max($"gaps"), 6).as("max_gap"),
        size(filter($"gaps", g => g > lit(0.5))).as("n_discontinuities"))
  }

  /** Frame sampling: every nth packet of the timeline (the
    * frame-sample step of a training-data pipeline) — pure array
    * slice, no explode. */
  def sampleFrames(ds: Dataset[MediaRecord], every: Int): DataFrame = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.toDF().select($"mediaId",
      filter($"packets", (_, i) => i % every === 0).as("sampled"))
  }

  /** STUB resize kernel (stands in for the ffmpeg scale filter a
    * vision pipeline runs before feature extraction): deterministic
    * byte decimation at the area ratio — the real contract a resize
    * carries (payload shrinks ~with pixel count) without a codec.
    * A real deployment swaps only this function. */
  def resizeStub(bytes: Array[Byte], areaRatio: Double): Array[Byte] =
    strided(bytes, math.max(1, math.round(1.0 / math.max(areaRatio, 1e-9)).toInt))

  /** Resize-to-fit a bounding box preserving aspect ratio — the
    * normalization step a vision-training pipeline applies before
    * feature extraction (SURVEY §2.10 X3's fourth verb beside
    * decode / feature-extract / frame-sample). Pure per-record
    * kernel under mapPartitions like the other kernels; NEVER
    * upscales (scale capped at 1.0); audio-only records pass through
    * untouched; the metadata struct is updated to the new geometry
    * in the same pass, so downstream metadata-only queries keep
    * pruning the binary column. */
  def resizeToFit(ds: Dataset[MediaRecord], maxW: Int, maxH: Int)
      : Dataset[MediaRecord] = {
    require(maxW > 0 && maxH > 0, "resize box must be positive")
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions(_.map { r =>
      if (r.meta.audioOnly || r.meta.width <= 0 || r.meta.height <= 0) r
      else {
        val scale = math.min(1.0,
          math.min(maxW.toDouble / r.meta.width, maxH.toDouble / r.meta.height))
        if (scale >= 1.0) r
        else {
          // round, not truncate: the constraining dimension's
          // width*scale evaluates to the box edge ± 1 ulp, and toInt
          // would land maxW-1 on the low side (r14 ADVICE). round
          // restores the exact edge; the non-constraining dimension
          // satisfies d*scale <= box by scale's definition, so
          // rounding stays inside the box (min() guards the ulp-high
          // corner anyway).
          val (w, h) = (
            math.max(1, math.min(maxW, math.round(r.meta.width * scale).toInt)),
            math.max(1, math.min(maxH, math.round(r.meta.height * scale).toInt)))
          val ratio = (w.toLong * h).toDouble / (r.meta.width.toLong * r.meta.height)
          r.copy(media = resizeStub(r.media, ratio),
            meta = r.meta.copy(width = w, height = h))
        }
      }
    })
  }
}
