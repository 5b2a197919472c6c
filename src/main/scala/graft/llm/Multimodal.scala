package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media as opaque `binary` columns with
  * typed metadata, processed in partition-local batches.
  *
  * The decode step parses REAL container headers where that is
  * possible without native codec libraries: PNG IHDR width/height and
  * WAV RIFF sample-rate/duration are plain big/little-endian reads
  * (see [[MediaHeaders]]). Payloads that are neither (e.g. the
  * text-derived stand-in blobs of the fixture corpus) fall back to
  * deterministic synthetic metadata so the pipeline shape stays
  * exercised end-to-end; the `feature` vector is likewise a
  * deterministic placeholder featurizer (a real embedding model does
  * not belong in a header decode). The execution shape — binary
  * column, typed Dataset, Iterator→Iterator batching, partition by
  * modality — is what a vectorized native decode needs.
  *
  * The reference only counts attachments (convert_to_iceberg.py:384-396);
  * carrying the payload as a first-class binary column is the extension.
  */
object Multimodal {

  /** Pure-JVM media header parsers — no codec dependencies. */
  object MediaHeaders {
    private def beInt(b: Array[Byte], off: Int): Int =
      ((b(off) & 0xFF) << 24) | ((b(off + 1) & 0xFF) << 16) |
        ((b(off + 2) & 0xFF) << 8) | (b(off + 3) & 0xFF)
    private def leInt(b: Array[Byte], off: Int): Int =
      (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8) |
        ((b(off + 2) & 0xFF) << 16) | ((b(off + 3) & 0xFF) << 24)
    private def ascii(b: Array[Byte], off: Int, s: String): Boolean =
      off >= 0 && b.length >= off + s.length &&
        s.indices.forall(i => b(off + i) == s.charAt(i).toByte)

    /** Next chunk offset after a RIFF chunk at `off` with payload
      * `size` (read as UNSIGNED — a hostile size of 0xFFFFFFF8 must not
      * become -8 and stall the walk). Long arithmetic, clamped to
      * `len`: the clamp both avoids int overflow in the caller's
      * `off + 8 <= len` bound (Int.MaxValue + 8 wraps negative and
      * would re-enter the loop) and guarantees the walk terminates.
      * Chunks are word-aligned: odd sizes carry a pad byte. */
    private def nextChunk(off: Int, size: Long, len: Int): Int =
      math.min(off.toLong + 8L + size + (size & 1L), len.toLong).toInt

    /** PNG signature + IHDR (always the first chunk, spec-mandated):
      * width/height are big-endian ints at offsets 16/20. */
    def pngDimensions(b: Array[Byte]): Option[(Int, Int)] = {
      val sig = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
        .map(_.toByte)
      if (b.length >= 24 && b.take(8).sameElements(sig) &&
        ascii(b, 12, "IHDR")) {
        val (w, h) = (beInt(b, 16), beInt(b, 20))
        if (w > 0 && h > 0) Some((w, h)) else None
      } else None
    }

    /** Full WAV format info: fmt chunk fields + data chunk location —
      * enough to address individual PCM samples. */
    final case class WavFormat(
        channels: Int,
        sampleRate: Int,
        bitsPerSample: Int,
        blockAlign: Int,
        dataOffset: Int,
        dataBytes: Int)

    def wavFormat(b: Array[Byte]): Option[WavFormat] = {
      if (!(ascii(b, 0, "RIFF") && ascii(b, 8, "WAVE"))) return None
      var off = 12
      var fmt: Option[(Int, Int, Int, Int)] = None
      var data: Option[(Int, Int)] = None
      while (off + 8 <= b.length && (fmt.isEmpty || data.isEmpty)) {
        val size = leInt(b, off + 4).toLong & 0xFFFFFFFFL
        if (ascii(b, off, "fmt ") && off + 24 <= b.length) {
          val channels = (b(off + 10) & 0xFF) | ((b(off + 11) & 0xFF) << 8)
          val rate = leInt(b, off + 12)
          val align = (b(off + 20) & 0xFF) | ((b(off + 21) & 0xFF) << 8)
          val bits = (b(off + 22) & 0xFF) | ((b(off + 23) & 0xFF) << 8)
          fmt = Some((channels, rate, bits, align))
        } else if (ascii(b, off, "data"))
          data = Some((off + 8, math.min(size, Int.MaxValue.toLong).toInt))
        off = nextChunk(off, size, b.length)
      }
      for ((ch, rate, bits, align) <- fmt; (doff, dlen) <- data
        if ch > 0 && rate > 0 && bits > 0 && align > 0)
        yield WavFormat(ch, rate, bits, align, doff,
          math.min(dlen, b.length - doff))
    }

    /** WAV: walk RIFF chunks for `fmt ` (byte rate) and `data` (payload
      * size); duration_ms = dataBytes * 1000 / byteRate. */
    def wavDurationMs(b: Array[Byte]): Option[Long] = {
      if (!(ascii(b, 0, "RIFF") && ascii(b, 8, "WAVE"))) return None
      var off = 12
      var byteRate = 0L
      var dataBytes = -1L
      while (off + 8 <= b.length && (byteRate == 0L || dataBytes < 0L)) {
        val size = leInt(b, off + 4).toLong & 0xFFFFFFFFL
        if (ascii(b, off, "fmt ") && off + 20 <= b.length)
          byteRate = leInt(b, off + 16).toLong & 0xFFFFFFFFL
        else if (ascii(b, off, "data"))
          dataBytes = size
        off = nextChunk(off, size, b.length)
      }
      if (byteRate > 0 && dataBytes >= 0)
        Some(dataBytes * 1000L / byteRate)
      else None
    }
  }

  /** One media row: opaque payload + typed metadata. */
  final case class MediaRow(
      media_id: Long,
      modality: String, // image | audio | video
      payload: Array[Byte],
      source_doc: Long)

  final case class DecodedMedia(
      media_id: Long,
      modality: String,
      n_bytes: Long,
      width: Int,
      height: Int,
      duration_ms: Long,
      feature: Array[Float])

  /** Build a media table from the documents fixture: payload = UTF-8
    * bytes of the text (a stand-in binary blob with realistic sizes). */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(
        array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("modality"),
      encode(col("text"), "UTF-8").as("payload"),
      col("doc_id").as("source_doc"))

  /** Header decode: real PNG/WAV header parses (MediaHeaders); other
    * payload types fall back to deterministic synthetic metadata (the
    * fixture blobs are text bytes, not media containers). Runs as a
    * partition-local batch map (Iterator→Iterator — never materializes
    * a partition), the same execution shape a vectorized decode needs. */
  def decode(media: Dataset[MediaRow], featureDim: Int = 8)(
      implicit spark: SparkSession): Dataset[DecodedMedia] = {
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { m =>
        val h = java.util.Arrays.hashCode(m.payload).toLong & 0x7FFFFFFFL
        // placeholder featurizer (deterministic); a real embedding
        // model is out of scope for a header decode
        val feat = Array.tabulate(featureDim)(i =>
          (((h >> (i * 4)) & 0xFF).toFloat / 255f))
        // header parses must never kill the query: any parser escape on
        // a malformed container degrades to the synthetic fallback
        val (png, wav) = try {
          val p = MediaHeaders.pngDimensions(m.payload)
          val w = if (p.isEmpty) MediaHeaders.wavDurationMs(m.payload)
            else None
          (p, w)
        } catch { case _: RuntimeException => (None, None) }
        val (w, hgt, dur) = (png, wav) match {
          case (Some((pw, ph)), _) => (pw, ph, 0L)
          case (_, Some(ms)) => (0, 0, ms)
          case _ => // non-media payload: stable synthetic fallback
            ((h % 1920).toInt + 1, (h % 1080).toInt + 1,
              if (m.modality == "image") 0L else h % 600000L)
        }
        DecodedMedia(
          media_id = m.media_id,
          modality = m.modality,
          n_bytes = m.payload.length.toLong,
          width = w,
          height = hgt,
          duration_ms = dur,
          feature = feat)
      }
    }
  }

  final case class ResizedImage(
      media_id: Long,
      orig_width: Int,
      orig_height: Int,
      width: Int,
      height: Int,
      png: Array[Byte])

  /** REAL image resize — decode via the JDK's ImageIO (PNG support is
    * built into the JVM; no external codec libs), bilinear scale so the
    * longest edge is `maxDim`, re-encode as PNG. Non-image payloads are
    * dropped (flatMap), so the op composes after a modality filter.
    * Iterator→Iterator batching: one BufferedImage in flight per task,
    * never a materialized partition — the memory shape that survives
    * 100 TB of images. */
  def resizeImages(media: Dataset[MediaRow], maxDim: Int)(
      implicit spark: SparkSession): Dataset[ResizedImage] = {
    import spark.implicits._
    require(maxDim > 0, s"maxDim must be positive: $maxDim")
    media.mapPartitions { rows =>
      rows.flatMap { m =>
        val decoded =
          try Option(javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(m.payload)))
          catch { case _: Exception => None }
        decoded.map { bi =>
          val scale = maxDim.toDouble / math.max(bi.getWidth, bi.getHeight)
          val w = math.max(1, math.round(bi.getWidth * scale).toInt)
          val h = math.max(1, math.round(bi.getHeight * scale).toInt)
          val out = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = out.createGraphics()
          g.setRenderingHint(
            java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(bi, 0, 0, w, h, null)
          g.dispose()
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(out, "png", bos)
          ResizedImage(m.media_id, bi.getWidth, bi.getHeight, w, h,
            bos.toByteArray)
        }
      }
    }
  }

  final case class AudioFrames(
      media_id: Long,
      sample_rate: Int,
      n_frames: Int,
      frames: Array[Double])

  /** REAL audio frame-sampling — one normalized PCM amplitude every
    * `everyMs` from 16-bit WAV payloads (first channel), addressed
    * straight off the RIFF data chunk: no decompression needed for
    * PCM, so this runs at scan speed. Non-WAV / non-16-bit payloads
    * drop out. The video analog (keyframe extraction) requires native
    * codecs and stays out of scope — the WAV path demonstrates the
    * identical batched plumbing. */
  def sampleAudioFrames(media: Dataset[MediaRow], everyMs: Int)(
      implicit spark: SparkSession): Dataset[AudioFrames] = {
    import spark.implicits._
    require(everyMs > 0, s"everyMs must be positive: $everyMs")
    media.mapPartitions { rows =>
      rows.flatMap { m =>
        MediaHeaders.wavFormat(m.payload).collect {
          // 16-bit PCM needs 2 bytes per channel per frame; a header
          // declaring a smaller blockAlign (e.g. 1) is malformed and
          // would index past the data region on the second sample byte
          case f if f.bitsPerSample == 16 &&
            f.blockAlign >= 2 * f.channels =>
            val nSamples = f.dataBytes / f.blockAlign
            val stride = math.max(1, f.sampleRate * everyMs / 1000)
            val frames = Iterator
              .iterate(0)(_ + stride)
              .takeWhile(s => s < nSamples &&
                f.dataOffset + s * f.blockAlign + 1 < m.payload.length)
              .map { s =>
                val off = f.dataOffset + s * f.blockAlign
                val v = ((m.payload(off) & 0xFF) |
                  (m.payload(off + 1) << 8)).toShort
                v / 32768.0
              }
              .toArray
            AudioFrames(m.media_id, f.sampleRate, frames.length, frames)
        }
      }
    }
  }

  /** Deterministic planted media corpus: REAL container payloads whose
    * every byte derives from `doc_id` arithmetic, so the full decode /
    * resize / frame-sample path is oracle-checkable — DuckDB recomputes
    * the expected header fields from the same arithmetic in SQL while
    * Spark must recover them by actually parsing the containers it
    * wrote. Even ids → PNG (`TYPE_INT_RGB`, dims 16+id%29 × 12+id%13,
    * deterministic pixels); odd ids → 16-bit mono PCM WAV at 8 kHz
    * (nSamples = 800 + (id%10)*80, sample s = ((s*7 + id*31)%200 −
    * 100)·150). Tiny by construction (a correctness fixture — the
    * scale path is decode/resize/sampleAudioFrames themselves). */
  def plantedMedia(docs: DataFrame, n: Int = 60)(
      implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col("doc_id")).filter(col("doc_id") < n)
      .as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          if (id % 2 == 0) {
            val w = 16 + (id % 29).toInt
            val h = 12 + (id % 13).toInt
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                img.setRGB(x, y, (x * 31 + y * 17 + id.toInt * 7) & 0xFFFFFF)
                x += 1
              }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", bos)
            MediaRow(id, "image", bos.toByteArray, id)
          } else {
            val sampleRate = 8000
            val nSamples = 800 + (id % 10).toInt * 80
            val dataBytes = nSamples * 2
            val bb = java.nio.ByteBuffer
              .allocate(44 + dataBytes)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataBytes)
            bb.put("WAVE".getBytes("US-ASCII"))
            bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
            bb.putShort(1).putShort(1) // PCM, mono
            bb.putInt(sampleRate).putInt(sampleRate * 2)
            bb.putShort(2).putShort(16) // blockAlign, bitsPerSample
            bb.put("data".getBytes("US-ASCII")).putInt(dataBytes)
            var s = 0
            while (s < nSamples) {
              bb.putShort((((s * 7 + id * 31) % 200 - 100) * 150).toShort)
              s += 1
            }
            MediaRow(id, "audio", bb.array(), id)
          }
        }
      }
  }

  /** Splice a PNG ancillary `tEXt` chunk immediately after IHDR:
    * SAME pixels, DIFFERENT container bytes — the shape of real-world
    * image duplicates (metadata stripped/added, re-tagged) that
    * byte-level dedup misses. Pure byte surgery: PNG signature (8) +
    * IHDR chunk (25) = offset 33, spec-mandated; chunk CRC is the
    * standard CRC-32 over type+data. */
  def withTextChunk(
      png: Array[Byte], keyword: String, value: String): Array[Byte] = {
    val payload = (keyword + " " + value).getBytes("ISO-8859-1")
    val chunk = new Array[Byte](12 + payload.length)
    val bb = java.nio.ByteBuffer.wrap(chunk)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.putInt(payload.length)
    bb.put("tEXt".getBytes("US-ASCII"))
    bb.put(payload)
    val crc = new java.util.zip.CRC32()
    crc.update(chunk, 4, 4 + payload.length)
    bb.putInt(crc.getValue.toInt)
    val out = new Array[Byte](png.length + chunk.length)
    System.arraycopy(png, 0, out, 0, 33)
    System.arraycopy(chunk, 0, out, 33, chunk.length)
    System.arraycopy(png, 33, out, 33 + chunk.length, png.length - 33)
    out
  }

  private def sha256Hex(b: Array[Byte]): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256").digest(b)
    d.map("%02x".format(_)).mkString
  }

  /** SHA-256 of the DECODED pixel raster (w, h, row-major ARGB ints)
    * — the content identity of an image, invariant to container-level
    * byte differences. None if the payload doesn't decode. */
  def pixelDigest(bytes: Array[Byte]): Option[String] =
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      if (img == null) None
      else {
        val md = java.security.MessageDigest.getInstance("SHA-256")
        val hdr = java.nio.ByteBuffer.allocate(8)
        hdr.putInt(img.getWidth).putInt(img.getHeight)
        md.update(hdr.array())
        val row = java.nio.ByteBuffer.allocate(img.getWidth * 4)
        var y = 0
        while (y < img.getHeight) {
          row.clear()
          var x = 0
          while (x < img.getWidth) { row.putInt(img.getRGB(x, y)); x += 1 }
          md.update(row.array())
          y += 1
        }
        Some(md.digest().map("%02x".format(_)).mkString)
      }
    } catch { case _: Throwable => None }

  /** Pixel-level image dedup audit: per image, the size of its
    * PIXEL-identity group vs its BYTE-identity group, and the group's
    * keeper (lowest media_id) — `pixel_group_size > byte_group_size`
    * is exactly the re-encoded/metadata-variant duplicate class a
    * byte digest cannot see. The decode runs Iterator→Iterator per
    * partition (the vectorized-codec execution shape); the digests
    * are 32 B/row, so the two group-size windows shuffle digest keys,
    * never payloads. Undecodable payloads fall back to their byte
    * digest (grouped only with byte-identical rows — never silently
    * merged). */
  def pixelDedupGroups(media: Dataset[MediaRow])(
      implicit spark: SparkSession): DataFrame =
    contentDedupGroups(media, "image", pixelDigest)

  /** [[pixelDedupGroups]] for audio: content identity = the decoded
    * PCM stream ([[pcmDigest]]), invariant to RIFF metadata chunks —
    * the re-tagged-audio duplicate class a byte digest cannot see. */
  def audioDedupGroups(media: Dataset[MediaRow])(
      implicit spark: SparkSession): DataFrame =
    contentDedupGroups(media, "audio", pcmDigest)

  /** 64-bit difference hash (dHash) of the decoded raster — the
    * PERCEPTUAL image identity: a 9×8 grid of block-averaged integer
    * luma, one bit per horizontal luma gradient
    * (`bit(y·8+x) = cell(x+1,y) > cell(x,y)`). All arithmetic is
    * integer (luma `(77r+150g+29b)>>8`, block sums, floor division),
    * so the hash is engine-reproducible and EXACTLY invariant under
    * uniform luma-preserving recolorings — in particular grayscale
    * conversion, since a gray pixel `(v,v,v)` has luma
    * `(77+150+29)v>>8 = v`. None if the payload doesn't decode or is
    * smaller than the 9×8 grid. */
  def dhash64(bytes: Array[Byte]): Option[Long] =
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      if (img == null || img.getWidth < 9 || img.getHeight < 8) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val sums = Array.ofDim[Long](8, 9)
        val cnts = Array.ofDim[Long](8, 9)
        var y = 0
        while (y < h) {
          val gy = y * 8 / h
          var x = 0
          while (x < w) {
            val gx = x * 9 / w
            val p = img.getRGB(x, y)
            val lum = (77 * ((p >> 16) & 255) + 150 * ((p >> 8) & 255) +
              29 * (p & 255)) >> 8
            sums(gy)(gx) += lum
            cnts(gy)(gx) += 1
            x += 1
          }
          y += 1
        }
        var bits = 0L
        var gy = 0
        while (gy < 8) {
          var gx = 0
          while (gx < 8) {
            if (sums(gy)(gx + 1) / cnts(gy)(gx + 1) >
              sums(gy)(gx) / cnts(gy)(gx))
              bits |= 1L << (gy * 8 + gx)
            gx += 1
          }
          gy += 1
        }
        Some(bits)
      }
    } catch { case _: Throwable => None }

  /** Grayscale re-render of a PNG: every pixel replaced by
    * `(v,v,v)` with `v` its integer luma — DIFFERENT pixels and
    * bytes, IDENTICAL [[dhash64]] (see the invariance note there).
    * The colorspace-converted duplicate class pixel-exact dedup
    * cannot see. */
  def withGrayscale(png: Array[Byte]): Array[Byte] = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(png))
    val out = new java.awt.image.BufferedImage(
      img.getWidth, img.getHeight,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val p = img.getRGB(x, y)
        val v = (77 * ((p >> 16) & 255) + 150 * ((p >> 8) & 255) +
          29 * (p & 255)) >> 8
        out.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(out, "png", bos)
    bos.toByteArray
  }

  /** Perceptual image dedup audit — THREE nested identity levels per
    * image: byte ⊆ pixel ⊆ perceptual ([[dhash64]]). A recolored or
    * grayscale re-encode groups ONLY at the perceptual level; a
    * metadata-wrapped re-container groups at pixel+perceptual; a
    * byte-exact copy at all three. Keeper = lowest media_id of the
    * PERCEPTUAL group. Same scale shape as [[pixelDedupGroups]]:
    * Iterator→Iterator decode, the windows shuffle 32 B digests /
    * 8 B hashes, never payloads; undecodable payloads fall back to
    * byte identity at both content levels. */
  def perceptualDedupGroups(media: Dataset[MediaRow])(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val digests = media
      .filter(_.modality == "image")
      .mapPartitions { rows =>
        rows.map { r =>
          val bd = sha256Hex(r.payload)
          (r.media_id, bd,
            pixelDigest(r.payload).getOrElse("raw:" + bd),
            dhash64(r.payload).map(b => f"ph:$b%016x")
              .getOrElse("raw:" + bd))
        }
      }
      .toDF("media_id", "byte_digest", "pixel_digest", "phash_digest")
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("phash_digest")
    val wx = org.apache.spark.sql.expressions.Window
      .partitionBy("pixel_digest")
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy("byte_digest")
    digests
      .withColumn("phash_group_size", count(lit(1)).over(wp))
      .withColumn("pixel_group_size", count(lit(1)).over(wx))
      .withColumn("byte_group_size", count(lit(1)).over(wb))
      .withColumn("keep_id", min(col("media_id")).over(wp))
      .select("media_id", "phash_group_size", "pixel_group_size",
        "byte_group_size", "keep_id")
  }

  /** Planted variant corpus for the perceptual-dedup oracle: the
    * planted PNGs, plus GRAYSCALE re-renders (same dHash, different
    * pixels and bytes — [[withGrayscale]]) of the images with base
    * id < 20, plus metadata-wrapped pixel-identical copies
    * ([[withTextChunk]]) of those with base id < 8; shifted ids
    * encode provenance so the oracle re-derives every group size
    * from the planting arithmetic alone. */
  def plantedPerceptualVariants(docs: DataFrame, n: Int = 60)(
      implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    val base = plantedMedia(docs, n).filter(_.modality == "image")
    val gray = base.filter(_.media_id < 20)
      .map(r => r.copy(
        media_id = r.media_id + 1000000L,
        payload = withGrayscale(r.payload)))
    val wrapped = base.filter(_.media_id < 8)
      .map(r => r.copy(
        media_id = r.media_id + 2000000L,
        payload = withTextChunk(r.payload, "comment", "variant")))
    base.union(gray).union(wrapped)
  }

  /** Shared content-vs-byte dedup audit: per row of `modality`, the
    * content-identity group size (via `contentId` — the real decode),
    * the byte-identity group size, and the content group's keeper
    * (lowest media_id). Decode runs Iterator→Iterator per partition;
    * the group windows shuffle 32 B digests, never payloads.
    * Undecodable payloads fall back to byte identity — grouped only
    * with byte-identical rows, never silently merged. */
  private def contentDedupGroups(
      media: Dataset[MediaRow],
      modality: String,
      contentId: Array[Byte] => Option[String])(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val digests = media
      .filter(_.modality == modality)
      .mapPartitions { rows =>
        rows.map { r =>
          val bd = sha256Hex(r.payload)
          (r.media_id, bd, contentId(r.payload).getOrElse("raw:" + bd))
        }
      }
      .toDF("media_id", "byte_digest", "content_digest")
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("content_digest")
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy("byte_digest")
    digests
      .withColumn("pixel_group_size", count(lit(1)).over(wp))
      .withColumn("byte_group_size", count(lit(1)).over(wb))
      .withColumn("keep_id", min(col("media_id")).over(wp))
      .select("media_id", "pixel_group_size", "byte_group_size", "keep_id")
  }

  /** SHA-256 of the decoded PCM content: (byteRate, data-chunk bytes)
    * — the audio identity, invariant to LIST/INFO metadata chunks.
    * None if the payload is not a parseable RIFF/WAVE. */
  def pcmDigest(bytes: Array[Byte]): Option[String] =
    try {
      if (bytes.length < 44 ||
        new String(bytes, 0, 4, "US-ASCII") != "RIFF" ||
        new String(bytes, 8, 4, "US-ASCII") != "WAVE") None
      else {
        def leInt(off: Int): Long =
          java.nio.ByteBuffer.wrap(bytes, off, 4)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt.toLong &
            0xFFFFFFFFL
        var off = 12
        var byteRate = -1L
        var dataOff = -1
        var dataLen = -1L
        while (off + 8 <= bytes.length && (byteRate < 0 || dataOff < 0)) {
          val id = new String(bytes, off, 4, "US-ASCII")
          val size = leInt(off + 4)
          if (id == "fmt " && off + 20 <= bytes.length)
            byteRate = leInt(off + 16)
          else if (id == "data") { dataOff = off + 8; dataLen = size }
          off = off + 8 + size.toInt + (size.toInt & 1)
        }
        if (byteRate < 0 || dataOff < 0 ||
          dataOff + dataLen > bytes.length) None
        else {
          val md = java.security.MessageDigest.getInstance("SHA-256")
          val hdr = java.nio.ByteBuffer.allocate(8)
          hdr.putLong(byteRate)
          md.update(hdr.array())
          md.update(bytes, dataOff, dataLen.toInt)
          Some(md.digest().map("%02x".format(_)).mkString)
        }
      }
    } catch { case _: Throwable => None }

  /** Append a RIFF `LIST`/INFO metadata chunk to a WAV: same PCM,
    * different container bytes (the re-tagged-file duplicate shape).
    * The RIFF size field is updated so the container stays valid. */
  def withInfoChunk(wav: Array[Byte], comment: String): Array[Byte] = {
    val payload = ("INFOICMT" + comment).getBytes("US-ASCII")
    val padded = if (payload.length % 2 == 0) payload
      else payload :+ 0.toByte
    val out = new Array[Byte](wav.length + 8 + padded.length)
    System.arraycopy(wav, 0, out, 0, wav.length)
    val bb = java.nio.ByteBuffer.wrap(out)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.position(wav.length)
    bb.put("LIST".getBytes("US-ASCII")).putInt(padded.length)
    bb.put(padded)
    // RIFF chunk size (bytes 4..7) covers everything after it
    bb.putInt(4, out.length - 8)
    out
  }

  /** Audio counterpart of [[plantedImageVariants]]: planted WAVs plus
    * metadata-wrapped copies (base odd id < 20) and byte-exact copies
    * (base odd id < 8) at shifted ids. */
  def plantedAudioVariants(docs: DataFrame, n: Int = 60)(
      implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    val base = plantedMedia(docs, n).filter(_.modality == "audio")
    val wrapped = base.filter(_.media_id < 20)
      .map(r => r.copy(
        media_id = r.media_id + 1000000L,
        payload = withInfoChunk(r.payload, "variant")))
    val copies = base.filter(_.media_id < 8)
      .map(r => r.copy(media_id = r.media_id + 2000000L))
    base.union(wrapped).union(copies)
  }

  /** Planted variant corpus for the pixel-dedup oracle: the planted
    * PNGs, plus metadata-wrapped copies (same pixels, different
    * bytes — `withTextChunk`) of the images with base id < 20, plus
    * byte-exact copies of those with base id < 8; shifted ids encode
    * the provenance so the oracle can re-derive every group size from
    * the planting arithmetic alone. */
  def plantedImageVariants(docs: DataFrame, n: Int = 60)(
      implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    val base = plantedMedia(docs, n).filter(_.modality == "image")
    val wrapped = base.filter(_.media_id < 20)
      .map(r => r.copy(
        media_id = r.media_id + 1000000L,
        payload = withTextChunk(r.payload, "comment", "variant")))
    val copies = base.filter(_.media_id < 8)
      .map(r => r.copy(media_id = r.media_id + 2000000L))
    base.union(wrapped).union(copies)
  }

  /** End-to-end plumbing: media table → typed Dataset → batched decode
    * → per-modality stats. Partitioned by modality before the decode so
    * a real codec's native libs load once per (executor, modality). */
  def decodeAndProfile(docs: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val media = mediaFromDocuments(docs)
      .repartition(col("modality"))
      .as[MediaRow]
    decode(media)
      .groupBy("modality")
      .agg(
        count(lit(1)).as("n_media"),
        round(avg(col("n_bytes")), 2).as("avg_bytes"),
        max(col("width")).as("max_width"))
      .orderBy("modality")
  }
}
