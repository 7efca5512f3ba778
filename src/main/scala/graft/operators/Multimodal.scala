package graft.operators

import graft.sources.ParquetRead

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads ride as opaque
  * `binary` columns with typed metadata; decode / feature-extract run as
  * per-partition batch transforms (`mapPartitions` over an explicit Encoder —
  * the Scala analog of `mapInPandas` batch UDFs).
  *
  * The decode kernels are REAL pure-JVM codecs ([[MediaCodecs]]): RIFF/WAVE
  * PCM audio, BMP/PPM images, AND RIFF/AVI video (uncompressed DIB frames)
  * are parsed from their actual container bytes (chunk/LIST walk,
  * pixel/sample/frame extraction). Features come from decoded data, image
  * resize decodes → resamples → re-encodes, and video frame sampling seeks
  * real frames out of the clip. Payloads that are none of these containers
  * degrade to byte-level stats, flagged by `decoded = false`.
  */
object Multimodal {

  /** The canonical multimodal record contract. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false), // image | audio | video
    StructField("payload", BinaryType, nullable = true),
    StructField("mime", StringType, nullable = true),
    StructField("meta", MapType(StringType, StringType), nullable = true)))

  /** One row per media item: byte-level stats for every payload, plus
    * modality-specific decoded features (None where the payload is not a
    * container this engine decodes, or fails to parse — `decoded` tells the
    * two apart from a genuine all-zero signal).
    */
  final case class MediaFeatures(
      media_id: Long,
      modality: String,
      n_bytes: Int,
      byte_entropy: Double,
      content_hash: Long,
      decoded: Boolean,
      sample_rate: Option[Int],
      n_samples: Option[Int],
      duration_s: Option[Double],
      rms: Option[Double],
      width: Option[Int],
      height: Option[Int],
      n_frames: Option[Int],
      mean_r: Option[Double],
      mean_g: Option[Double],
      mean_b: Option[Double])

  /** Byte-level stats every payload gets regardless of container:
    * (size, byte-histogram entropy, FNV-1a content hash).
    */
  private def byteStats(bytes: Array[Byte]): (Int, Double, Long) = {
    val hist = new Array[Long](256)
    var h = 1469598103934665603L
    var i = 0
    while (i < bytes.length) {
      hist(bytes(i) & 0xff) += 1
      h = (h ^ (bytes(i) & 0xffL)) * 1099511628211L
      i += 1
    }
    val n = bytes.length.toDouble
    var entropy = 0.0
    var j = 0
    while (j < 256) {
      if (hist(j) > 0) { val p = hist(j) / n; entropy -= p * math.log(p) / math.log(2.0) }
      j += 1
    }
    (bytes.length, entropy, h)
  }

  /** Decode one payload: sniff the container by magic bytes (mime may lie),
    * parse for real, degrade to byte-stats-only on unknown/malformed input.
    */
  private[operators] def decodeOne(mediaId: Long, modality: String, payload: Array[Byte]): MediaFeatures = {
    val bytes = if (payload == null) Array.emptyByteArray else payload
    val (nBytes, entropy, hash) = byteStats(bytes)
    val base = MediaFeatures(mediaId, modality, nBytes, entropy, hash, decoded = false,
      None, None, None, None, None, None, None, None, None, None)
    try {
      if (MediaCodecs.looksLikeAvi(bytes)) {
        val v = MediaCodecs.decodeAvi(bytes)
        val f0 = v.frame(0) // video color stats come from the first frame
        base.copy(decoded = true, width = Some(v.width), height = Some(v.height),
          n_frames = Some(v.nFrames), duration_s = Some(v.durationS),
          mean_r = Some(f0.meanChannel(0)), mean_g = Some(f0.meanChannel(1)),
          mean_b = Some(f0.meanChannel(2)))
      } else if (MediaCodecs.looksLikeWav(bytes)) {
        val w = MediaCodecs.decodeWav(bytes)
        base.copy(decoded = true, sample_rate = Some(w.sampleRate), n_samples = Some(w.nSamples),
          duration_s = Some(w.durationS), rms = Some(w.rms))
      } else if (MediaCodecs.looksLikeImage(bytes)) {
        val img = MediaCodecs.decodeImage(bytes)
        base.copy(decoded = true, width = Some(img.width), height = Some(img.height),
          mean_r = Some(img.meanChannel(0)), mean_g = Some(img.meanChannel(1)),
          mean_b = Some(img.meanChannel(2)))
      } else base
    } catch {
      case _: MediaDecodeException => base // malformed container: keep byte stats
    }
  }

  /** Feature extraction over a media frame: partition-batched, binary stays
    * columnar until the partition iterator, output is a narrow typed frame
    * (the wide payload column is dropped before any shuffle).
    */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "modality", "payload")
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it => it.map { case (id, mod, payload) => decodeOne(id, mod, payload) } }
  }

  /** Real image resize: decode (BMP or PPM), nearest-neighbor resample to
    * `width`×`height`, re-encode in the SAME container, and stamp the new
    * dims into `meta`. Non-image payloads (and malformed images) pass through
    * unchanged — resize is not the place to fail a 100 TB pipeline on one bad
    * file; downstream `extractFeatures.decoded` surfaces them.
    */
  def resizeImages(media: DataFrame, width: Int, height: Int): DataFrame = {
    val resizeKernel = udf { (payload: Array[Byte]) =>
      if (!MediaCodecs.looksLikeImage(payload)) payload
      else try {
        val img = MediaCodecs.decodeImage(payload)
        val out = MediaCodecs.resizeNearest(img, width, height)
        if (payload(0) == 'B') MediaCodecs.encodeBmp(out.width, out.height, out.rgb)
        else MediaCodecs.encodePpm(out.width, out.height, out.rgb)
      } catch { case _: MediaDecodeException => payload }
    }
    val isImage = col("payload").isNotNull &&
      (substring(col("payload"), 1, 2) === lit("BM".getBytes("US-ASCII")) ||
        substring(col("payload"), 1, 2) === lit("P6".getBytes("US-ASCII")))
    media
      .withColumn("payload", when(isImage, resizeKernel(col("payload"))).otherwise(col("payload")))
      .withColumn("meta",
        when(isImage,
          map_concat(
            coalesce(col("meta"), map()),
            map(lit("resized_w"), lit(width.toString), lit("resized_h"), lit(height.toString))))
          .otherwise(col("meta")))
  }

  /** One sampled frame: which source frame was decoded and its channel
    * means. `src_frame = frame_idx * n_frames / framesPerClip` (floor) —
    * evenly spaced, first frame always included, same integer mapping the
    * oracle replays.
    */
  final case class FrameSample(
      media_id: Long, frame_idx: Int, src_frame: Int,
      mean_r: Double, mean_g: Double, mean_b: Double)

  /** REAL video frame sampling: parse the AVI container, seek `framesPerClip`
    * evenly-spaced frames, decode ONLY those (frame chunks index lazily —
    * sampling 3 of 1000 frames decodes 3), and emit per-frame channel stats.
    * Runs 1→N inside the scan stage (flatMap, no shuffle); malformed clips
    * contribute no rows instead of failing the job (extractFeatures'
    * `decoded` flag is where they surface).
    */
  def sampleFrames(media: DataFrame, framesPerClip: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("modality") === "video")
      .select("media_id", "payload").as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        try {
          val v = MediaCodecs.decodeAvi(payload)
          (0 until framesPerClip).map { j =>
            val src = j * v.nFrames / framesPerClip
            val f = v.frame(src)
            FrameSample(id, j, src, f.meanChannel(0), f.meanChannel(1), f.meanChannel(2))
          }
        } catch { case _: MediaDecodeException => Nil }
      }.toDF()
  }

  /** 64-bit difference hash (dHash) of a decoded image — the standard
    * perceptual fingerprint for image near-dup detection at corpus scale
    * (gradient-sign hash over a 9×8 downsample; robust to re-encode and
    * uniform brightness shifts, cheap enough to run inside the scan stage).
    *
    * Construction (every step integer-exact so an oracle can replay it):
    *   1. nearest-neighbor resample to 9×8 ([[MediaCodecs.resizeNearest]]
    *      mapping: src row = r*h/8, src col = c*w/9, floor),
    *   2. grayscale as the plain channel sum r+g+b (monotone in luminance;
    *      no division, so gradient signs are exact),
    *   3. bit (x,y) for x<8 set iff gray(x+1,y) > gray(x,y), packed at
    *      position y*8+x — each output byte is one pixel row's gradient
    *      signs, which keeps any replaying oracle inside 8-bit integers.
    */
  private[graft] def dHash64(img: MediaCodecs.DecodedImage): Long = {
    val g = MediaCodecs.resizeNearest(img, 9, 8)
    def gray(x: Int, y: Int): Int = {
      val p = (y * 9 + x) * 3
      (g.rgb(p) & 0xff) + (g.rgb(p + 1) & 0xff) + (g.rgb(p + 2) & 0xff)
    }
    var hash = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (gray(x + 1, y) > gray(x, y)) hash |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    hash
  }

  /** 64-bit audio fingerprint over the decoded PCM waveform — the
    * energy-contour analog of [[dHash64]] (the sign-of-difference
    * construction Chromaprint-family fingerprints use, over time-windowed
    * energy instead of chroma bins; integer-exact so an oracle can replay
    * it):
    *   1. partition the samples into 65 equal time windows
    *      (window w covers [w·n/65, (w+1)·n/65) — floor, same mapping as
    *      the image resample),
    *   2. per-window energy = Σ s², exact in a long,
    *   3. bit j set iff energy(j+1) > energy(j).
    * Robust to uniform gain scaling's sign structure and to container
    * re-encode; cheap enough for the scan stage.
    */
  private[graft] def audioFingerprint64(samples: Array[Short]): Long = {
    val n = samples.length
    val e = new Array[Long](65)
    var w = 0
    while (w < 65) {
      var i = w * n / 65
      val end = (w + 1) * n / 65
      var acc = 0L
      while (i < end) { val s = samples(i).toLong; acc += s * s; i += 1 }
      e(w) = acc
      w += 1
    }
    var hash = 0L
    var j = 0
    while (j < 64) {
      if (e(j + 1) > e(j)) hash |= 1L << j
      j += 1
    }
    hash
  }

  /** Per-clip audio fingerprints: decode WAV payloads and emit
    * `(media_id, afp)`. Scan-stage flatMap like [[imageDHash]]; non-audio
    * and malformed payloads contribute no rows. Feed to
    * [[Dedup.hammingDedup]] — the same exact pigeonhole-banded hamming
    * machinery serves every 64-bit perceptual fingerprint.
    */
  def audioFingerprints(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("modality") === "audio")
      .select("media_id", "payload").as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        if (payload == null || !MediaCodecs.looksLikeWav(payload)) Nil
        else try {
          (id, audioFingerprint64(MediaCodecs.decodeWavSamples(payload)._2)) :: Nil
        } catch { case _: MediaDecodeException => Nil }
      }.toDF("media_id", "afp")
  }

  /** 64-bit video fingerprint: majority vote per bit over the dHashes of
    * `framesPerClip` evenly-sampled frames (src = j·n/framesPerClip — the
    * [[sampleFrames]] mapping, so only the sampled frames ever decode).
    * The vote makes the fingerprint robust to a few re-encoded/replaced
    * frames while staying integer-exact for oracle replay; near-dup
    * detection over it is the same [[graft.operators.Dedup.hammingDedup]]
    * as images and audio — one dedup kernel, three modalities.
    */
  private[graft] def videoFingerprint64(
      v: MediaCodecs.DecodedVideo, framesPerClip: Int = 3): Long = {
    val hashes = (0 until framesPerClip)
      .map(j => dHash64(v.frame(j * v.nFrames / framesPerClip)))
    var out = 0L
    var bit = 0
    while (bit < 64) {
      val votes = hashes.count(h => ((h >>> bit) & 1L) == 1L)
      if (votes * 2 > framesPerClip) out |= 1L << bit
      bit += 1
    }
    out
  }

  /** Per-clip video fingerprints: decode AVI payloads and emit
    * `(media_id, vfp)` — scan-stage flatMap like [[imageDHash]], malformed
    * clips contribute no rows.
    */
  def videoFingerprints(media: DataFrame, framesPerClip: Int = 3): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("modality") === "video")
      .select("media_id", "payload").as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        if (payload == null || !MediaCodecs.looksLikeAvi(payload)) Nil
        else try {
          (id, videoFingerprint64(MediaCodecs.decodeAvi(payload), framesPerClip)) :: Nil
        } catch { case _: MediaDecodeException => Nil }
      }.toDF("media_id", "vfp")
  }

  /** Per-image perceptual fingerprints: decode image payloads and emit
    * `(media_id, dhash)`. Runs 1→{0,1} inside the scan stage (flatMap, no
    * shuffle); non-image rows and malformed payloads contribute no rows —
    * a 100 TB fingerprint pass must not die on one truncated file
    * (`extractFeatures.decoded` is where those surface).
    *
    * Feed the result to [[Dedup.hammingDedup]] for exact hamming-ball
    * near-dup removal.
    */
  def imageDHash(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("modality") === "image")
      .select("media_id", "payload").as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        if (payload == null || !MediaCodecs.looksLikeImage(payload)) Nil
        else try {
          (id, dHash64(MediaCodecs.decodeImage(payload))) :: Nil
        } catch { case _: MediaDecodeException => Nil }
      }.toDF("media_id", "dhash")
  }

  // ------------------------------------------------------------------------
  // Test-data adapter: REAL container payloads, closed-form from doc_id.
  //
  // The parameters below are the contract the DuckDB oracle mirrors
  // arithmetically (SparkEntry."multimodal_features"/"resize_meta"): every
  // constant here appears verbatim in the oracle SQL, so a decoder bug breaks
  // the hash gate.
  //
  //   modality  = doc_id % 3        (0=image, 1=audio, 2=video)
  //   audio     : rate = 8000 + 4000*(doc_id % 4); n = 64 + doc_id % 97
  //               sample(i) = (doc_id*7919 + i*104729) % 4001 - 2000
  //   image     : container = BMP if (doc_id/3) even else PPM
  //               w = 4 + doc_id % 13; h = 4 + doc_id % 7
  //               rgb(k) = (doc_id*31 + k*17) % 256,  k = (row*w + col)*3 + ch
  //   video     : AVI, n = 3 + doc_id % 7 frames; w = 4 + doc_id % 6;
  //               h = 4 + doc_id % 5; usPerFrame = 33000 + 1000*(doc_id % 8)
  //               frame f pixel k: (doc_id*31 + f*101 + k*17) % 256
  // ------------------------------------------------------------------------

  private[graft] def synthAudio(docId: Long): Array[Byte] = {
    val rate = (8000 + 4000 * (docId % 4)).toInt
    val n = (64 + docId % 97).toInt
    val samples = new Array[Short](n)
    var i = 0
    while (i < n) {
      samples(i) = ((docId * 7919L + i * 104729L) % 4001L - 2000L).toShort
      i += 1
    }
    MediaCodecs.encodeWav(rate, samples)
  }

  private[graft] def synthImage(docId: Long): Array[Byte] = {
    val w = (4 + docId % 13).toInt
    val h = (4 + docId % 7).toInt
    val rgb = new Array[Byte](w * h * 3)
    var k = 0
    while (k < rgb.length) {
      rgb(k) = ((docId * 31L + k * 17L) % 256L).toByte
      k += 1
    }
    if ((docId / 3) % 2 == 0) MediaCodecs.encodeBmp(w, h, rgb)
    else MediaCodecs.encodePpm(w, h, rgb)
  }

  private[graft] def synthVideo(docId: Long): Array[Byte] = {
    val n = (3 + docId % 7).toInt
    val w = (4 + docId % 6).toInt
    val h = (4 + docId % 5).toInt
    val usPerFrame = (33000 + 1000 * (docId % 8)).toInt
    val frames = Array.tabulate(n) { f =>
      val rgb = new Array[Byte](w * h * 3)
      var k = 0
      while (k < rgb.length) {
        rgb(k) = ((docId * 31L + f * 101L + k * 17L) % 256L).toByte
        k += 1
      }
      rgb
    }
    MediaCodecs.encodeAvi(w, h, usPerFrame, frames)
  }

  /** Fabricates a media table from the documents table: every modality gets
    * a REAL encoded container payload (BMP/PPM, WAV, AVI — deterministic in
    * doc_id, see contract above).
    */
  def mediaFromDocuments(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = ParquetRead(spark, s"$sfDir/documents.parquet")
      .select("doc_id", "source", "lang")
      .as[(Long, String, String)]
    docs.map { case (docId, source, lang) =>
      val modality = (docId % 3) match {
        case 0 => "image"
        case 1 => "audio"
        case _ => "video"
      }
      val payload: Array[Byte] = modality match {
        case "image" => synthImage(docId)
        case "audio" => synthAudio(docId)
        case _ => synthVideo(docId)
      }
      val mime = modality match {
        case "image" => if ((docId / 3) % 2 == 0) "image/bmp" else "image/x-portable-pixmap"
        case "audio" => "audio/wav"
        case _ => "video/x-msvideo"
      }
      (docId, modality, payload, mime, Map("source" -> source, "lang" -> lang))
    }.toDF("media_id", "modality", "payload", "mime", "meta")
  }
}
