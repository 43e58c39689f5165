package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing for a training-data pipeline: image/audio/
  * video content is carried as opaque `binary` columns with typed
  * metadata, and decode / feature-extract / resize / frame-sample run as
  * batched partition-level transforms (`mapPartitions` over a typed
  * Dataset — the JVM analog of a Pandas-batch UDF: one iterator per
  * partition, amortized per-batch setup, vectorizable inner loop).
  *
  * ALL THREE decode paths are REAL — no stubs remain:
  *   - IMAGE: `javax.imageio.ImageIO` ships inside every JDK
  *     (PNG/JPEG/BMP/GIF); image payloads decode to actual pixels and the
  *     width/height/histogram features come from the decoded raster.
  *   - AUDIO: `javax.sound.sampled.AudioSystem` (module `java.desktop`,
  *     same as imageio) parses WAV/PCM containers; features come from the
  *     decoded sample frames.
  *   - VIDEO: a RIFF/AVI chunk-list parser (`MediaCodec.decode`) walks the
  *     container's `movi` list and decodes ONLY the sampled frames (every
  *     4th, ≤32 — `sampleFrameIndices`) through the same `javax.imageio`
  *     path; frame count comes from the container's chunk census, the
  *     histogram from the sampled frames' decoded rasters. The frames are
  *     PNG-compressed (fourcc `MPNG` — the lossless AVI codec family), so
  *     decode is bit-exact and the q88 oracle stays closed-form.
  * The Spark-side plumbing — schema, binary transport, partitioning,
  * batch shape, feature vector layout — is identical across kinds.
  */
object Media {

  /** One media object: opaque bytes + typed metadata. */
  case class MediaRow(
      doc_id: Long,
      kind: String, // image | audio | video
      content: Array[Byte],
      mime_type: String,
      size_bytes: Long
  )

  /** Extracted features: decoded dimensions, the resize plan (long edge
    * 640, aspect preserved), the frame-sample plan (every 4th frame, ≤32),
    * and a fixed-width float vector (16-bin high-nibble histogram of the
    * decoded pixels/samples).
    */
  case class MediaFeatures(
      doc_id: Long,
      kind: String,
      width: Int,
      height: Int,
      n_frames: Int,
      out_width: Int,
      out_height: Int,
      n_sampled_frames: Int,
      feature: Array[Float],
      hist_counts: Array[Long] // raw integer bin counts behind `feature`
  )

  private val kinds = Array("image", "audio", "video")
  private val mimes = Map("image" -> "image/png", "audio" -> "audio/wav", "video" -> "video/mp4")

  /** Derive a deterministic media table from the driver `documents` table:
    * content = the doc's UTF-8 bytes posing as an encoded media payload,
    * kind assigned round-robin by doc_id. At 100 TB the content column
    * would be real encoded media read from parquet/binaryFile sources —
    * everything downstream is agnostic to that.
    */
  def fromDocuments(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(
        col("doc_id"),
        element_at(lit(kinds), (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
        to_binary(col("text"), lit("utf-8")).as("content")
      )
      .withColumn(
        "mime_type",
        element_at(
          typedLit(mimes),
          col("kind")
        )
      )
      .withColumn("size_bytes", octet_length(col("content")).cast("long"))
      .as[MediaRow]
  }

  /** `fromDocuments` with every row carrying a REAL encoded container:
    * image rows a PNG (deterministically generated from the doc_id — dims
    * and pixels are a pure function of it), audio rows a PCM WAV (8-bit
    * unsigned mono; the sample frames ARE the doc's UTF-8 text bytes, so
    * the decoded sample histogram is closed-form in the text — the q86
    * oracle), and video rows a RIFF/AVI of PNG frames (dims, frame count
    * and per-frame pixels all pure functions of doc_id — the q88 oracle).
    * A deterministic slice of rows (`isCorrupt`) gets its payload
    * truncated mid-header — undecodable on purpose — so the quarantine
    * path is a first-class, oracle-visible part of the pipeline, the way
    * a 100 TB corpus always carries corrupt blobs.
    * The transport/dedup queries (q40/q69/q78) keep `fromDocuments`,
    * whose payload identity (content = UTF-8 text bytes) their oracles
    * mirror in SQL.
    */
  def fromDocumentsDecodable(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    fromDocuments(docs).mapPartitions { it =>
      it.map { m =>
        val encoded = m.kind match {
          case "image" => MediaCodec.encodePng(m.doc_id)
          case "audio" => MediaCodec.encodeWav(m.content)
          case _       => MediaCodec.encodeAvi(m.doc_id)
        }
        val payload =
          if (MediaCodec.isCorrupt(m.doc_id)) encoded.take(12)
          else encoded
        m.copy(content = payload, size_bytes = payload.length.toLong)
      }
    }
  }

  /** Stage the decodable media table to parquet once per (JVM, source
    * key) — PNG ENCODING is corpus staging, not the measured operator (at
    * 100 TB the encoded media already sits in storage; a pipeline run
    * scans and DECODES it). Repeated s05 runs therefore measure the real
    * repeating cost: parquet scan + imageio decode + feature extraction.
    */
  private val stagedCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  def stageDecodable(docs: DataFrame, key: String): String =
    stagedCache.computeIfAbsent(
      key,
      _ => {
        // staging is JVM-lifetime scratch — reclaim it on exit instead of
        // leaking one temp dir per (JVM, source key)
        val dir = graft.ops.Scratch.scratchDir("graft_s05_")
        fromDocumentsDecodable(docs).write.mode("overwrite").parquet(s"$dir/media")
        s"$dir/media"
      }
    )

  /** Batched partition-level decode + feature extraction — the
    * mapPartitions shape: per-partition setup once, then a streamed
    * per-row inner loop.
    */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      // per-partition setup would construct a heavier codec context here
      // (once, not per row); the JDK codecs used are stateless.
      it.map { m =>
        val d = MediaCodec.decode(m.kind, m.content)
        val (ow, oh) = resizeDims(d.width, d.height, targetLong = 640)
        val sampled = sampleFrameIndices(d.nFrames, everyK = 4, maxFrames = 32)
        MediaFeatures(
          m.doc_id, m.kind, d.width, d.height, d.nFrames, ow, oh, sampled.length,
          d.histogram, d.histCounts)
      }
    }
  }

  /** Frame-sampling plan: pick every k-th frame index up to `maxFrames` —
    * pure metadata math, runs before any decode so a real pipeline decodes
    * ONLY sampled frames.
    */
  def sampleFrameIndices(nFrames: Int, everyK: Int, maxFrames: Int): Seq[Int] =
    (0 until nFrames by everyK).take(maxFrames)

  /** Resize plan: target dims preserving aspect ratio with even rounding —
    * metadata-only here; a real codec applies it at decode time.
    */
  def resizeDims(w: Int, h: Int, targetLong: Int): (Int, Int) = {
    if (w <= 0 || h <= 0) return (0, 0)
    if (math.max(w, h) <= targetLong) (w, h)
    else if (w >= h) (targetLong, math.max(1, math.round(h.toDouble * targetLong / w).toInt))
    else (math.max(1, math.round(w.toDouble * targetLong / h).toInt), targetLong)
  }
}

/** Media codec: IMAGES decode for real via `javax.imageio`, AUDIO
  * (WAV/PCM) for real via `javax.sound.sampled`, and VIDEO for real via a
  * RIFF/AVI chunk-list parser whose frames decode through `javax.imageio`
  * — everything used ships inside every JDK (`java.desktop` module), no
  * extra jar. The AVI layout follows the public RIFF/AVI spec
  * (`RIFF('AVI ' LIST('hdrl' avih LIST('strl' strh strf))
  * LIST('movi' 00dc…))`, little-endian sizes, even-byte chunk padding);
  * frames are PNG-compressed (the lossless `MPNG` fourcc family), so
  * decoded pixels are bit-exact against the generator recipe.
  */
object MediaCodec {

  /** No kind runs a stub any more: image, audio AND video payloads all
    * decode through real JDK container parsers (rounds 5–8 successively
    * disproved the "no codec ships offline" premise — imageio, then
    * sound.sampled, then RIFF/AVI+imageio for video frames).
    */
  def decodeIsStub(kind: String): Boolean = false

  /** Deterministic corrupt-payload slice for the decodable media table:
    * these rows ship a truncated (mid-header) payload so every run
    * exercises the quarantine path end-to-end. Closed-form in doc_id so
    * the DuckDB oracles (q86/q87) can mirror exactly which rows
    * quarantine.
    */
  def isCorrupt(docId: Long): Boolean = docId % 67 == 13

  // ImageIO's default file-backed stream cache would write temp files per
  // decode on every executor thread; in-memory streams only.
  javax.imageio.ImageIO.setUseCache(false)

  case class Decoded(
      width: Int,
      height: Int,
      nFrames: Int,
      histogram: Array[Float],
      histCounts: Array[Long]
  )

  /** Deterministic PNG dims for the generated image of `docId` — every
    * 10th image is wide beyond the 640 resize target so the real decode
    * path exercises the resize plan too.
    */
  def pngDims(docId: Long): (Int, Int) = {
    val w = 16 + (docId % 37).toInt
    val h = 12 + (docId % 29).toInt
    if (docId % 10 == 0) (w * 24, h) else (w, h)
  }

  /** The shared per-frame pixel recipe: RGB a pure function of
    * (docId, frame, x, y). Frame 0 is exactly the still-image recipe
    * (`encodePng`); video frames fold the frame index in with co-prime
    * multipliers so every sampled frame has a distinct, closed-form
    * histogram (the q87/q88 oracles mirror these formulas in SQL).
    */
  private def paintFrame(docId: Long, w: Int, h: Int, f: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val id = (docId % 251).toInt
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = (x * 31 + y * 17 + id + f * 11) & 0xff
        val g = (x * 13 + y * 43 + id * 3 + f * 29) & 0xff
        val b = (x * 59 + y * 7 + id * 5 + f * 53) & 0xff
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    img
  }

  private def pngBytes(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** A real PNG payload, pixels a pure function of (docId, x, y). */
  def encodePng(docId: Long): Array[Byte] = {
    val (w, h) = pngDims(docId)
    pngBytes(paintFrame(docId, w, h, 0))
  }

  /** The quarantine row a corrupt (undecodable) payload maps to. */
  private def quarantined: Decoded =
    Decoded(0, 0, 0, new Array[Float](16), new Array[Long](16))

  private def normalize(counts: Array[Long]): Array[Float] = {
    val n = counts.sum.toFloat
    val hist = new Array[Float](16)
    if (n > 0f) { var j = 0; while (j < 16) { hist(j) = counts(j).toFloat / n; j += 1 } }
    hist
  }

  /** A real PCM WAV payload (8-bit unsigned, mono, 8 kHz) whose sample
    * frames are exactly `samples` — the audio analog of `encodePng`.
    * Written through `javax.sound.sampled.AudioSystem`, i.e. a genuine
    * RIFF/WAVE container, not a hand-rolled header.
    */
  def encodeWav(samples: Array[Byte]): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 8, 1, false, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(samples), fmt, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Deterministic frame dims / frame count for the generated video of
    * `docId` — small frames, 1..11 frames, so the every-4th sampling plan
    * genuinely varies (1–3 sampled frames) and decode cost stays bounded.
    */
  def vidDims(docId: Long): (Int, Int) = (24 + (docId % 21).toInt, 18 + (docId % 17).toInt)
  def vidFrames(docId: Long): Int = 1 + (docId % 11).toInt

  // ---- RIFF/AVI writer: little-endian sizes, even-byte chunk padding ----

  private def leBuf(n: Int): java.nio.ByteBuffer =
    java.nio.ByteBuffer.allocate(n).order(java.nio.ByteOrder.LITTLE_ENDIAN)

  /** `id` + size + body, padded to an even byte boundary (size excludes
    * the pad byte, per the RIFF spec).
    */
  private def riffChunk(id: String, body: Array[Byte]): Array[Byte] = {
    val b = leBuf(8 + body.length + (body.length & 1))
    b.put(id.getBytes("US-ASCII")).putInt(body.length).put(body)
    b.array()
  }

  private def riffList(listType: String, children: Array[Byte]*): Array[Byte] =
    riffChunk("LIST", listType.getBytes("US-ASCII") ++ children.flatten)

  /** A real RIFF `AVI ` container of PNG-compressed frames (fourcc `MPNG`),
    * frame pixels a pure function of (docId, frame, x, y) — the video
    * analog of `encodePng`/`encodeWav`. Standard header layout: `avih`
    * main header, one `vids` stream (`strh` + BITMAPINFOHEADER `strf`),
    * frames as `00dc` chunks in the `movi` list.
    */
  def encodeAvi(docId: Long): Array[Byte] = {
    val (w, h) = vidDims(docId)
    val nf = vidFrames(docId)
    val avih = {
      val b = leBuf(56)
      b.putInt(100000) // dwMicroSecPerFrame (10 fps)
        .putInt(0).putInt(0).putInt(0) // maxBytesPerSec, padding, flags
        .putInt(nf).putInt(0).putInt(1).putInt(0) // totalFrames, initial, streams, sugBuf
        .putInt(w).putInt(h)
      b.array() // trailing 4 reserved dwords stay zero
    }
    val strh = {
      val b = leBuf(56)
      b.put("vids".getBytes("US-ASCII")).put("MPNG".getBytes("US-ASCII"))
        .putInt(0).putShort(0).putShort(0).putInt(0) // flags, priority, language, initialFrames
        .putInt(1).putInt(10).putInt(0).putInt(nf) // scale, rate, start, length
        .putInt(0).putInt(-1).putInt(0) // sugBuf, quality (default), sampleSize
        .putShort(0).putShort(0).putShort(w.toShort).putShort(h.toShort) // rcFrame
      b.array()
    }
    val strf = {
      val b = leBuf(40) // BITMAPINFOHEADER
      b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
        .put("MPNG".getBytes("US-ASCII")).putInt(0)
      b.array() // xppm/yppm/clrUsed/clrImportant stay zero
    }
    val movi = riffList(
      "movi",
      (0 until nf).map(f => riffChunk("00dc", pngBytes(paintFrame(docId, w, h, f)))): _*)
    val hdrl = riffList("hdrl", riffChunk("avih", avih),
      riffList("strl", riffChunk("strh", strh), riffChunk("strf", strf)))
    riffChunk("RIFF", "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi)
  }

  private def leInt(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) | ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)
  private def fourcc(b: Array[Byte], off: Int): String = new String(b, off, 4, "US-ASCII")

  def decode(kind: String, bytes: Array[Byte]): Decoded = kind match {
    case "image" =>
      // REAL decode: actual pixels from the compressed payload. An
      // undecodable payload is a corrupt media object — report it as
      // (0, 0, 0, zero-histogram) the way a production pipeline tags
      // corrupt blobs for quarantine, never as fake dims.
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        catch { case scala.util.control.NonFatal(_) => null }
      if (img == null) Decoded(0, 0, 0, new Array[Float](16), new Array[Long](16))
      else {
        val w = img.getWidth
        val h = img.getHeight
        val counts = new Array[Long](16)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            counts(((rgb >> 16) & 0xff) >> 4) += 1L
            counts(((rgb >> 8) & 0xff) >> 4) += 1L
            counts((rgb & 0xff) >> 4) += 1L
            x += 1
          }
          y += 1
        }
        Decoded(w, h, 1, normalize(counts), counts)
      }
    case "audio" =>
      // REAL decode: `AudioSystem` parses the WAV container and streams
      // raw sample frames. Features come from the DECODED samples:
      // n_frames = the container's actual frame count, histogram = the
      // 16-bin high-nibble census of the 8-bit samples (integer-exact,
      // hence oracle-expressible — q86). width/height carry the stream's
      // (channels, sampleSizeInBits). Undecodable payloads quarantine.
      val parsed =
        try {
          val ais = javax.sound.sampled.AudioSystem
            .getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
          try Some((ais.getFormat, ais.readAllBytes()))
          finally ais.close()
        } catch { case scala.util.control.NonFatal(_) => None }
      parsed match {
        case None => quarantined
        case Some((fmt, data)) =>
          val frameSize = math.max(1, fmt.getFrameSize)
          val counts = new Array[Long](16)
          var i = 0
          while (i < data.length) { counts((data(i) & 0xff) >> 4) += 1L; i += 1 }
          Decoded(
            fmt.getChannels, fmt.getSampleSizeInBits, data.length / frameSize,
            normalize(counts), counts)
      }
    case _ =>
      // REAL decode: walk the RIFF/AVI chunk list (`movi` → `00dc`/`00db`
      // frame chunks), then decode ONLY the sampled frames (every 4th,
      // ≤32) through javax.imageio — a real pipeline never decodes frames
      // the sampling plan discards. n_frames = the container's frame-chunk
      // census; width/height from the first sampled frame's raster;
      // histogram = the pixel-channel high-nibble census summed over the
      // sampled frames. Any malformed container (bad magic, truncated
      // chunk, zero frames, undecodable frame) quarantines.
      val parsed =
        try {
          require(bytes.length >= 12 && fourcc(bytes, 0) == "RIFF" && fourcc(bytes, 8) == "AVI ")
          val riffEnd = math.min(bytes.length.toLong, 8L + (leInt(bytes, 4) & 0xffffffffL)).toInt
          val frames = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
          def walk(start: Int, end: Int): Unit = {
            var off = start
            while (off + 8 <= end) {
              val id = fourcc(bytes, off)
              val sz = leInt(bytes, off + 4)
              require(sz >= 0 && off + 8 + sz <= end, "truncated chunk")
              if (id == "LIST") walk(off + 12, off + 8 + sz)
              else if (id == "00dc" || id == "00db") frames += ((off + 8, sz))
              off += 8 + sz + (sz & 1)
            }
          }
          walk(12, riffEnd)
          require(frames.nonEmpty, "no frame chunks")
          val sampled = Media.sampleFrameIndices(frames.length, everyK = 4, maxFrames = 32)
          val counts = new Array[Long](16)
          var w = 0
          var h = 0
          sampled.foreach { fi =>
            val (o, len) = frames(fi)
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes, o, len))
            require(img != null, "undecodable frame")
            if (w == 0) { w = img.getWidth; h = img.getHeight }
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) {
                val rgb = img.getRGB(x, y)
                counts(((rgb >> 16) & 0xff) >> 4) += 1L
                counts(((rgb >> 8) & 0xff) >> 4) += 1L
                counts((rgb & 0xff) >> 4) += 1L
                x += 1
              }
              y += 1
            }
          }
          Some(Decoded(w, h, frames.length, normalize(counts), counts))
        } catch { case scala.util.control.NonFatal(_) => None }
      parsed.getOrElse(quarantined)
  }
}
