package graft.tjk

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal columns: image/audio/video as opaque `binary` with typed
  * metadata.
  *
  * Two decode tiers (r4):
  *  - REAL decode for formats whose codecs ship IN the JDK — PNG (ImageIO:
  *    actual DEFLATE decompression of an actually-compressed format) and
  *    RIFF/WAV PCM (chunk-walking header parse) — exercised end-to-end by
  *    [[decodeAvFeatures]] with a bit-exact DuckDB oracle (q50): the
  *    synthetic blobs' pixels/samples derive from text bytes, so the oracle
  *    recomputes the DECODED statistics from the text.
  *  - STUB for codec families with no in-container library (JPEG/H.264/
  *    MP3-class): [[decodeStub]] stays a clearly-marked deterministic fake
  *    that consumes the same bytes a real decoder would; swapping in a real
  *    codec changes ONE function, not the pipeline.
  * Both tiers run through the same per-partition shape (the Scala analogue
  * of `mapInPandas`), so the plumbing — schema, partitioning — is
  * identical.
  */
object MediaOps {

  case class MediaFeatures(
      doc_id: Long, n_bytes: Long, header_hex: String,
      mean_byte: Double, frame_hashes: Seq[Long])

  /** Synthesize a deterministic media table from documents: the UTF-8 bytes
    * of `text` stand in for the encoded payload; metadata derives from a
    * content hash. Purely for plumbing tests — production reads real blobs.
    * `keep` names extra input columns carried through (for downstream
    * passthrough via [[extractFeaturesKeeping]]).
    */
  def syntheticMedia(docs: DataFrame, keep: Seq[String] = Nil): DataFrame =
    docs.select(Seq(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("blob"),
      struct(
        lit("fake/rgb8").as("format"),
        (pmod(xxhash64(col("text")), lit(480L)) + 32L).cast("int").as("width"),
        (pmod(xxhash64(col("text"), lit(1)), lit(480L)) + 32L).cast("int").as("height"),
        (pmod(xxhash64(col("text"), lit(2)), lit(8L)) + 1L).cast("int").as("n_frames"))
        .as("meta")) ++ keep.map(col): _*)

  /** STUB — stands in for the real image/audio decode (??? in spirit: the
    * container has no codec libs). Deterministic: header = first 4 bytes hex,
    * "pixel" statistics = byte statistics of the payload.
    */
  private def decodeStub(blob: Array[Byte]): (String, Double) = {
    val header = blob.take(4).map(b => f"${b & 0xff}%02x").mkString
    val mean = if (blob.isEmpty) 0.0 else blob.map(b => (b & 0xff).toDouble).sum / blob.length
    (header, mean)
  }

  /** Rolling-hash modulus: a prime < 2³¹ so the fold value stays < 2³⁵ and
    * the q24 in-query law can recompute it with plain ANSI BIGINT arithmetic
    * (a wrapping 64-bit fold would overflow-error under ANSI SQL).
    */
  private[graft] val FrameHashMod = 1000000007L

  /** Deterministic frame sampling: split the payload into n_frames equal
    * byte ranges and fingerprint each — the shape of a video frame-sampler.
    * Polynomial rolling hash mod [[FrameHashMod]], seeded 1.
    */
  private def sampleFrames(blob: Array[Byte], nFrames: Int): Seq[Long] = {
    if (blob.isEmpty || nFrames <= 0) Seq.empty
    else (0 until nFrames).map { f =>
      val start = (blob.length.toLong * f / nFrames).toInt
      val end = (blob.length.toLong * (f + 1) / nFrames).toInt
      var h = 1L
      var i = start
      while (i < end) { h = (h * 31 + (blob(i) & 0xff)) % FrameHashMod; i += 1 }
      h
    }
  }

  // ------------------------------------------------------- REAL decode tier

  case class AvRow(doc_id: Long, img: Array[Byte], wav: Array[Byte])
  case class AvFeatures(
      doc_id: Long, img_w: Int, img_h: Int, img_mean: Double,
      n_samples: Long, sample_rate: Int, dur_ms: Double, amp_mean: Double)

  private val ImgSide = 16 // 16×16 gray PNG from the first 256 payload bytes
  private val WavRate = 8000

  /** Encode a 16×16 8-bit grayscale PNG through the JDK's ImageIO (real
    * DEFLATE compression) from up to 256 payload bytes, zero-padded.
    */
  private[graft] def pngGray(pixels: Array[Byte]): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      ImgSide, ImgSide, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val padded = java.util.Arrays.copyOf(pixels, ImgSide * ImgSide)
    img.getRaster.setDataElements(0, 0, ImgSide, ImgSide, padded)
    val bos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, "png", bos), "no PNG writer in JDK")
    bos.toByteArray
  }

  /** Encode mono 16-bit PCM RIFF/WAV (manual chunk layout, little-endian). */
  private[graft] def wavPcm16(samples: Array[Short], rate: Int): Array[Byte] = {
    val dataSize = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(rate).putInt(rate * 2)
      .putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataSize)
    samples.foreach(bb.putShort)
    bb.array()
  }

  /** Decode via ImageIO (any in-JDK format: PNG/BMP/GIF/JPEG…): dimensions
    * + mean of the first band's samples.
    */
  private[graft] def decodeImage(blob: Array[Byte]): (Int, Int, Double) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(blob))
    require(img != null, "ImageIO could not decode blob")
    val (w, h) = (img.getWidth, img.getHeight)
    val raster = img.getRaster
    var sum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { sum += raster.getSample(x, y, 0); x += 1 }
      y += 1
    }
    (w, h, sum.toDouble / (w.toLong * h))
  }

  /** Decode RIFF/WAV PCM16 by walking the chunk list (defensive: unknown
    * chunks skipped, malformed sizes and data-before-fmt rejected LOUDLY —
    * never a hang or an untyped buffer underflow): (n_samples, sample_rate,
    * mean |amplitude| as an exact integer-sum quotient).
    */
  private[graft] def decodeWav(blob: Array[Byte]): (Long, Int, Double) = {
    val bb = java.nio.ByteBuffer.wrap(blob).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(): String = {
      val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII")
    }
    require(fourcc() == "RIFF", "not RIFF"); bb.getInt()
    require(fourcc() == "WAVE", "not WAVE")
    var rate = -1; var bits = -1; var channels = -1
    var nSamples = 0L; var absSum = 0L
    while (bb.remaining() >= 8) {
      val id = fourcc(); val size = bb.getInt()
      val next = bb.position() + size + (size & 1) // chunks are word-aligned
      // An unvalidated size field is the classic parser trap: a negative
      // size would move position() BACKWARD (infinite re-parse of the same
      // chunk = hung task), an oversized one would die as an untyped
      // BufferUnderflowException mid-read.
      require(size >= 0 && next - (size & 1) <= bb.limit(),
        s"malformed RIFF chunk '$id': size $size at ${bb.position() - 8}")
      id match {
        case "fmt " =>
          require(bb.getShort() == 1, "not PCM")
          channels = bb.getShort(); rate = bb.getInt()
          bb.getInt(); bb.getShort(); bits = bb.getShort()
          require(channels == 1 && bits == 16, s"unsupported PCM layout $channels ch/$bits bit")
        case "data" =>
          require(rate > 0, "data chunk before fmt")
          var i = 0
          val n = size / 2
          while (i < n) { absSum += math.abs(bb.getShort().toLong); i += 1 }
          nSamples += n
        case _ => // skip unknown chunk
      }
      bb.position(math.min(next, bb.limit()))
    }
    (nSamples, rate, if (nSamples == 0) 0.0 else absSum.toDouble / nSamples)
  }

  /** Synthesize REAL encoded blobs from documents — one PNG (first 256 text
    * bytes as 16×16 gray pixels, zero-padded) and one WAV (every text byte
    * as a PCM16 sample, (b−128)·256) per doc. Encoding runs distributed in
    * mapPartitions; pixels/samples derive from text bytes so an external
    * engine can recompute the decoded statistics from the text (q50's
    * oracle).
    */
  def syntheticAvMedia(docs: DataFrame): DataFrame = {
    val ds = docs.select(col("doc_id").cast("long"), encode(col("text"), "UTF-8"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
    ds.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false) // no temp-file per encode
      it.map { case (id, bytes) =>
        val samples = bytes.map(b => (((b & 0xff) - 128) * 256).toShort)
        // pngGray's copyOf both truncates and zero-pads — no pre-take
        AvRow(id, pngGray(bytes), wavPcm16(samples, WavRate))
      }
    }(Encoders.product[AvRow]).toDF()
  }

  /** REAL decode, per partition like [[extractFeatures]]: PNG via
    * ImageIO, WAV via the RIFF parser. All statistics are exact integer
    * sums divided once, so they are bit-reproducible cross-engine.
    */
  def decodeAvFeatures(media: DataFrame): Dataset[AvFeatures] = {
    val ds = media.as(Encoders.product[AvRow])
    ds.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false) // in-memory streams, no temp files
      it.map { r =>
        val (w, h, imgMean) = decodeImage(r.img)
        val (n, rate, ampMean) = decodeWav(r.wav)
        AvFeatures(r.doc_id, w, h, imgMean,
          n, rate, n.toDouble * 1000.0 / rate, ampMean)
      }
    }(Encoders.product[AvFeatures])
  }

  /** Per-partition feature extraction — the Scala analogue of a
    * `mapInPandas` UDF: schema in/out is declared via Encoders. Typed facade
    * over [[extractFeaturesKeeping]] — ONE decode core, two surfaces.
    */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] =
    extractFeaturesKeeping(media.select("doc_id", "blob", "meta"))
      .as(Encoders.product[MediaFeatures])

  /** [[extractFeatures]] with column PASSTHROUGH: every input column beyond
    * (doc_id, blob, meta) is carried through the extractor and
    * appended after the feature columns. This is the 100 TB composition
    * shape — at scale you never decode-then-JOIN features back to their
    * metadata (a full extra shuffle of the corpus); you carry the columns
    * through the narrow map. This is the single decode core
    * ([[decodeStub]] + [[sampleFrames]]); [[extractFeatures]] is its typed
    * no-passthrough facade.
    */
  def extractFeaturesKeeping(media: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{BinaryType, StructType}
    require(media.schema("blob").dataType == BinaryType,
      "extractFeaturesKeeping: blob must be BINARY, got " +
        media.schema("blob").dataType.simpleString)
    // Normalize the core types the Row path reads positionally — the typed
    // encoder inserts these up-casts at analysis, but raw Row getters would
    // CCE mid-task on an IntegerType doc_id with no hint about the schema.
    val norm = media
      .withColumn("doc_id", col("doc_id").cast("long"))
      .withColumn("meta",
        col("meta").withField("n_frames", col("meta.n_frames").cast("int")))
    val s = norm.schema
    val core = Set("doc_id", "blob", "meta")
    val extras = s.fields.filterNot(f => core.contains(f.name))
    val featNames = Encoders.product[MediaFeatures].schema.fieldNames.toSet
    val clash = extras.map(_.name).filter(featNames)
    require(clash.isEmpty,
      s"extractFeaturesKeeping: passthrough column(s) ${clash.mkString(", ")} " +
        "collide with feature output columns — rename them upstream")
    val outSchema = StructType(
      Encoders.product[MediaFeatures].schema.fields ++ extras)
    val iDoc = s.fieldIndex("doc_id")
    val iBlob = s.fieldIndex("blob")
    val iMeta = s.fieldIndex("meta")
    val iExtras = extras.map(f => s.fieldIndex(f.name))
    norm.mapPartitions { it =>
      it.map { r =>
        val blob = r.getAs[Array[Byte]](iBlob)
        val nFrames = r.getStruct(iMeta).getAs[Int]("n_frames")
        val (header, mean) = decodeStub(blob)
        Row.fromSeq(
          Seq(r.getAs[Long](iDoc), blob.length.toLong, header, mean,
            sampleFrames(blob, nFrames)) ++ iExtras.map(r.get))
      }
    }(Encoders.row(outSchema))
  }
}
