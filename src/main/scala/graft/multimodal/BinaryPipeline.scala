package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: opaque `binary` payloads + typed metadata,
  * decoded by partition-local batched workers.
  *
  * The IMAGE path runs a REAL codec end to end (r11): [[synthPng]]
  * encodes deterministic PNGs through JVM ImageIO (zero new deps —
  * headless `javax.imageio` ships with the JDK), [[decodeImage]] reads
  * them back partition-local, and the declared queries
  * (q_multimodal_decode / q_multimodal_ingest_png) gate the round trip
  * against a DuckDB oracle that computes the expected dims and channel
  * sums from the generator's integer formulas — the codec must recover
  * them exactly (PNG is lossless). The AUDIO path got the identical
  * treatment in r12 (the last stub in the repo): [[synthWav]] encodes
  * deterministic 16-bit PCM WAVs through `javax.sound.sampled`
  * (JDK-bundled, zero deps), [[decodeAudio]] reads format + samples
  * back partition-local, and q_multimodal_audio gates rate / channel /
  * frame-count / amplitude-sum recovery against the generator's
  * arithmetic in DuckDB — PCM is lossless, equality exact.
  *
  * Scale design:
  *  - payloads stay opaque `BinaryType` end to end — never stringified,
  *    never collected;
  *  - decode runs in `mapPartitions`, one worker init per PARTITION (the
  *    model/codec load is amortized over every row in the partition, the
  *    same batching Pandas-UDF pipelines get);
  *  - partition row targets are controlled by the caller via
  *    `repartition(n)` before decode so a 100 TB corpus sizes decode
  *    tasks by payload bytes, not file count;
  *  - feature output is a fixed-width struct → columnar downstream.
  */
object BinaryPipeline {

  /** Typed media record: opaque payload + metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = false),
    StructField("meta_source", StringType, nullable = true)))

  // ImageIO on a display-less executor needs headless AWT; local-mode
  // test JVMs inherit no -Djava.awt.headless, so default it here (a
  // user-set value wins)
  if (System.getProperty("java.awt.headless") == null)
    System.setProperty("java.awt.headless", "true")

  // ImageIO defaults every read/write to a DISK-cache-backed
  // ImageInputStream — one temp file created and deleted per payload.
  // The payloads here are KB-sized in-memory byte arrays; the memory
  // cache is strictly cheaper (r12 optimization: the per-row temp-file
  // churn dominated the decode stage wall).
  javax.imageio.ImageIO.setUseCache(false)

  /** Typed output of the REAL image decode: dims + per-channel pixel
    * sums — the fixed-width stats a curation filter consumes (aspect /
    * brightness gates). */
  val imageStatSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("r_sum", LongType, nullable = false),
    StructField("g_sum", LongType, nullable = false),
    StructField("b_sum", LongType, nullable = false)))

  /** Deterministic PNG synthesis — the ENCODE side of the real-codec
    * round trip. Dims and per-pixel RGB are integer formulas of
    * (id, x, y), so the DuckDB oracle computes the expected stats with
    * arithmetic while the engine must recover them from actual PNG
    * bytes: any encode/decode defect (channel order, row stride,
    * premultiplication, truncation) breaks the hash-exact compare. */
  def synthPng(id: Long): Array[Byte] = {
    val w = 8 + (id % 24).toInt
    val h = 8 + (id % 16).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    // write the packed pixels straight into the INT_RGB raster buffer:
    // same values as per-pixel setRGB (TYPE_INT_RGB stores packed sRGB
    // with scanline stride = w on a fresh image), without w·h calls
    // through the ColorModel (r12 optimization; stats downstream depend
    // only on pixel values, which are unchanged)
    val buf = img.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferInt].getData
    var x = 0
    while (x < w) {
      var y = 0
      while (y < h) {
        val r = ((id + x + y) % 256).toInt
        val g = ((id + 2 * x + 3 * y + 7) % 256).toInt
        val b = ((3 * id + 5 * x + 11 * y + 13) % 256).toInt
        buf(y * w + x) = (r << 16) | (g << 8) | b
        y += 1
      }
      x += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** REAL image decode: ImageIO over the opaque payload → dims +
    * channel sums. Partition-local; never sees the driver. */
  def decodeImage(payload: Array[Byte]): (Int, Int, Long, Long, Long) = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload))
    require(img != null, "decodeImage: payload is not a decodable image")
    val w = img.getWidth
    val h = img.getHeight
    var rs = 0L; var gs = 0L; var bs = 0L
    // ImageIO decodes RGB PNGs to TYPE_3BYTE_BGR with a packed,
    // padding-free byte raster; summing it directly skips w·h
    // ColorModel conversions. Any other layout falls back to ONE bulk
    // getRGB call (still far cheaper than per-pixel calls). Values are
    // identical either way — PNG is lossless and the channels are
    // 8-bit exact (r12 optimization).
    val raster = img.getRaster
    val direct = img.getType == java.awt.image.BufferedImage.TYPE_3BYTE_BGR &&
      (raster.getDataBuffer match {
        case db: java.awt.image.DataBufferByte =>
          db.getData.length == w * h * 3
        case _ => false
      })
    if (direct) {
      val a = raster.getDataBuffer
        .asInstanceOf[java.awt.image.DataBufferByte].getData
      var i = 0
      val n = w * h * 3
      while (i < n) {
        bs += a(i) & 0xff
        gs += a(i + 1) & 0xff
        rs += a(i + 2) & 0xff
        i += 3
      }
    } else {
      val px = img.getRGB(0, 0, w, h, null, 0, w)
      var i = 0
      while (i < px.length) {
        val p = px(i)
        rs += (p >> 16) & 0xff
        gs += (p >> 8) & 0xff
        bs += p & 0xff
        i += 1
      }
    }
    (w, h, rs, gs, bs)
  }

  /** PNG media table: one REAL payload per document id, encoded
    * partition-local (the fixture set ships no media files; production
    * replaces this table with its ingested corpus and everything
    * downstream is unchanged). */
  def mediaPng(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // fan the id list out before the codec work: the fixture table is a
    // single parquet file → one scan partition, which would serialize
    // every encode on one core (Tables.documentsParallel's rationale;
    // the repartition shuffles only a LongType column). On a many-file
    // corpus the scan is already parallel and this costs one narrow
    // pass over 8-byte rows.
    graft.Tables.documents(spark, dir)
      .select(col("doc_id")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .mapPartitions(_.map(id => (id, synthPng(id))))
      .toDF("media_id", "payload")
  }

  /** Partition-local batched REAL decode: binary in, typed stats out —
    * the decodeFeatures shape with the codec genuine. */
  def imageStats(media: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(imageStatSchema)
    media.select("media_id", "payload").mapPartitions { rows =>
      rows.map { r =>
        val (w, h, rs, gs, bs) = decodeImage(r.getAs[Array[Byte]](1))
        Row(r.getLong(0), w, h, rs, gs, bs)
      }
    }(enc)
  }

  /** Typed output of the REAL audio decode: container format fields +
    * amplitude sums — the fixed-width stats an audio-curation filter
    * consumes (silence / clipping / duration gates). `amp_sum` is the
    * signed sample sum, `amp_abs_sum` the absolute one; both are exact
    * integers (16-bit PCM), so the oracle compare is hash-exact. */
  val audioStatSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("n_frames", LongType, nullable = false),
    StructField("amp_sum", LongType, nullable = false),
    StructField("amp_abs_sum", LongType, nullable = false)))

  /** Once-per-JVM audio codec providers. AudioSystem.write /
    * getAudioInputStream dispatch through JDK13Services.getProviders,
    * which SYNCHRONIZES on a class-level lock — a per-row call under
    * 32 executor threads serializes the whole stage (caught by the
    * r12 100× ScaleStress run: loadavg ~1 on a 32-core box, every
    * worker BLOCKED on the JSSecurityManager monitor). The fix is the
    * standard worker-init pattern this file already documents: load
    * the SAME SPI providers once per JVM via ServiceLoader, then call
    * them lock-free per row. */
  private lazy val wavWriter: javax.sound.sampled.spi.AudioFileWriter = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileWriter]).asScala
      .find(_.isFileTypeSupported(
        javax.sound.sampled.AudioFileFormat.Type.WAVE))
      .getOrElse(throw new IllegalStateException(
        "no WAVE AudioFileWriter on this JVM"))
  }
  private lazy val audioReaders
      : Vector[javax.sound.sampled.spi.AudioFileReader] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .asScala.toVector
  }

  /** Deterministic WAV synthesis — the ENCODE side of the real audio
    * round trip ([[synthPng]]'s treatment applied to sound): rate,
    * channel count, frame count, and every 16-bit sample are integer
    * formulas of (id, frame, channel), so the DuckDB oracle computes
    * the expected stats arithmetically while the engine must recover
    * them from actual RIFF/WAVE bytes through the JDK codec. Any
    * header, endianness, interleave, or sign defect breaks the
    * hash-exact compare. */
  def synthWav(id: Long): Array[Byte] = {
    val rate = 8000 + (id % 4).toInt * 4000
    val channels = 1 + (id % 2).toInt
    val nFrames = 64 + (id % 192).toInt
    val data = new Array[Byte](nFrames * channels * 2)
    var i = 0
    while (i < nFrames) {
      var ch = 0
      while (ch < channels) {
        val s = ((id * 7 + i.toLong * 31 + ch.toLong * 101 + 13) % 65536L
          - 32768L).toInt
        val off = (i * channels + ch) * 2
        data(off) = (s & 0xff).toByte         // PCM WAVE is little-endian
        data(off + 1) = ((s >> 8) & 0xff).toByte
        ch += 1
      }
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      rate.toFloat, 16, channels, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    wavWriter.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** REAL audio decode: `javax.sound.sampled` over the opaque payload →
    * (rate, channels, frames, signed amp sum, absolute amp sum).
    * Partition-local; never sees the driver. Handles either endianness
    * and fails loudly on non-PCM-16 payloads instead of guessing.
    * Provider dispatch replays AudioSystem.getAudioInputStream's law
    * (first reader that accepts the bytes) over the JVM-cached
    * provider list — per-row calls take no global lock. */
  def decodeAudio(payload: Array[Byte]): (Int, Int, Long, Long, Long) = {
    val ais = audioReaders.iterator.flatMap { r =>
      try Some(r.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload)))
      catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => None
      }
    }.nextOption().getOrElse(throw new IllegalArgumentException(
      "decodeAudio: payload is not a decodable audio stream"))
    try {
      val fmt = ais.getFormat
      require(fmt.getEncoding ==
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
        fmt.getSampleSizeInBits == 16,
        s"decodeAudio: expected 16-bit signed PCM, got $fmt")
      val channels = fmt.getChannels
      val rate = math.round(fmt.getSampleRate)
      val bytes = ais.readAllBytes()
      val nFrames = bytes.length.toLong / (2L * channels)
      var sum = 0L; var abs = 0L
      var k = 0
      while (k + 1 < bytes.length) {
        val s =
          if (fmt.isBigEndian) (bytes(k) << 8) | (bytes(k + 1) & 0xff)
          else (bytes(k + 1) << 8) | (bytes(k) & 0xff)
        sum += s
        abs += math.abs(s)
        k += 2
      }
      (rate, channels, nFrames, sum, abs)
    } finally ais.close()
  }

  /** WAV media table: one REAL payload per document id, encoded
    * partition-local ([[mediaPng]]'s shape for the audio modality). */
  def mediaWav(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // NO fanout here, unlike mediaPng: WAV/PCM encode is header+copy
    // (~50 µs/row vs the PNG encoder's compress), and the r12 measure
    // showed the exchange costing more than it buys at fixture scale
    // (q_multimodal_audio 0.56s single-task vs 1.12s fanned out — the
    // only query this round pushed NEAR its 2x anchor). On a many-file
    // corpus the scan parallelizes by itself; a caller that needs the
    // fanout repartitions before audioStats per the class doc.
    graft.Tables.documents(spark, dir)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, synthWav(id))))
      .toDF("media_id", "payload")
  }

  /** Partition-local batched REAL audio decode: binary in, typed stats
    * out (the [[imageStats]] shape for sound). */
  def audioStats(media: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(audioStatSchema)
    media.select("media_id", "payload").mapPartitions { rows =>
      rows.map { r =>
        val (rate, ch, nf, sum, abs) =
          decodeAudio(r.getAs[Array[Byte]](1))
        Row(r.getLong(0), rate, ch, nf, sum, abs)
      }
    }(enc)
  }

  /** STUB frame sampler: n evenly-spaced "frames" (byte slices) hashed
    * deterministically — the video-frame-sampling plumbing with the codec
    * replaced by arithmetic. Returns min(n, payload-length) hashes. */
  def sampleFrameHashes(payload: Array[Byte], n: Int): Array[Long] = {
    val len = math.max(payload.length, 1)
    val k = math.min(n, len)
    Array.tabulate(k) { f =>
      val start = (f.toLong * len / k).toInt
      val end = math.min(((f + 1).toLong * len / k).toInt, payload.length)
      var h = 17L
      var i = start
      while (i < end) { h = (h * 31 + (payload(i) & 0xff)) % 1000000007L; i += 1 }
      h
    }
  }

  /** Build a media table from `documents` — text bytes as an OPAQUE
    * payload for the modality-agnostic plumbing (frame sampling /
    * signature dedup, whose byte-slice hash oracle needs replicable
    * bytes). The real codecs get their own tables: [[mediaPng]]
    * (images), [[mediaWav]] (audio). */
  def mediaFromDocuments(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(spark, dir)
      .select(
        col("doc_id").as("media_id"),
        lit("text").as("kind"),
        col("text").cast(BinaryType).as("payload"),
        col("source").as("meta_source"))

  /** Frame-sample surface: one row per sampled frame (media_id,
    * frame_idx, frame_hash), the exploded shape a downstream embedding
    * stage consumes. Runs partition-local like decodeFeatures. */
  def frameSample(media: DataFrame, nFrames: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "payload")
      .map { r =>
        (r.getLong(0), sampleFrameHashes(r.getAs[Array[Byte]]("payload"), nFrames))
      }
      .toDF("media_id", "hashes")
      .select(col("media_id"), posexplode(col("hashes")))
      .withColumnRenamed("pos", "frame_idx")
      .withColumnRenamed("col", "frame_hash")
  }

  /** Scale-adaptive container split size (guide §6 input split sizing;
    * r13, the r12 verdict's item 5): the ingest read-backs used a
    * FIXED 8 KiB splitSize, which produced 600+ ~100 ms tasks at sf0.1
    * (the whole query wall) and would produce millions at corpus
    * scale. Size splits from the written bytes instead — ~2 splits per
    * core — floored at the legacy 8 KiB so small fixtures still plan
    * multiple byte ranges per file and the sync-marker split-repair
    * path stays exercised on every SF (split boundaries remain
    * arbitrary byte offsets; record recovery is the reader's repair
    * contract, swept in BinaryRecordSourceSpec, so results are
    * split-size-invariant by construction). */
  def adaptiveSplitSize(spark: SparkSession, dir: String,
      floor: Long = 8192L): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.listStatus(p)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(_.getLen).sum
    val target = math.max(1L, 2L * spark.sparkContext.defaultParallelism)
    math.max(floor, (bytes + target - 1) / target)
  }

  /** 8-byte big-endian id framing for container transport — the
    * in-band id the graft-binrec ingest path carries (binary-safe,
    * unlike a text separator: PNG bytes are arbitrary). */
  def frameId(id: Long, payload: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](payload.length + 8)
    var i = 0
    while (i < 8) { out(i) = ((id >>> (56 - 8 * i)) & 0xffL).toByte; i += 1 }
    System.arraycopy(payload, 0, out, 8, payload.length)
    out
  }

  def unframeId(v: Array[Byte]): Long = {
    var id = 0L
    var i = 0
    while (i < 8) { id = (id << 8) | (v(i) & 0xffL); i += 1 }
    id
  }

  def unframePayload(v: Array[Byte]): Array[Byte] =
    java.util.Arrays.copyOfRange(v, 8, v.length)
}
