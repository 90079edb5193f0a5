package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal columns — binary payloads with typed metadata (builder
  * mandate: image/audio/video as opaque BINARY + decode/feature/resize/
  * frame-sample stages).
  *
  * The decode stage dispatches on the payload's magic bytes:
  *   - RIFF/WAVE payloads go through a REAL pure-JVM codec: chunk walk,
  *     fmt validation, sample decode for the three wild-common mono
  *     subformats — PCM16 (LE int16), PCM8 (unsigned bytes, the format's
  *     own storage semantics), and IEEE float32 (normalized [−1,1],
  *     scaled to the int16 grid) — the same shape as the reference's
  *     real parsers (PyMuPDF page text at app.py:123-132, docx at
  *     app.py:134-143), implemented against the public RIFF/WAVE layout
  *     with no native deps.
  *   - PNG payloads go through the REAL pure-JVM image codec in [[Png]]:
  *     chunk walk with CRC verification, zlib inflate, five-filter
  *     scanline reconstruction — pixels come back as the sample stream.
  *   - Anything else is treated as an opaque sample stream (unsigned byte
  *     values) — the fallback for payload types whose codecs genuinely
  *     aren't in this container (JPEG/MP3/H.264), keeping downstream
  *     stages (pooling, frame sampling, checksums) exact, deterministic,
  *     and oracle-checkable for any payload.
  * A new format = one more `case` in `decodeSamples`; the Spark plumbing
  * (BINARY column, typed schema, executor-side mapPartitions batches)
  * is format-agnostic.
  */
object Multimodal {

  private def le16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  private def le32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  private def tag(b: Array[Byte], off: Int): String =
    new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** True iff the payload carries a RIFF/WAVE header. */
  private[graft] def isWav(bytes: Array[Byte]): Boolean =
    bytes.length >= 12 && tag(bytes, 0) == "RIFF" && tag(bytes, 8) == "WAVE"

  /** Encode mono 16-bit PCM samples as a standards-shaped WAV file:
    * RIFF header, `fmt ` chunk (PCM, 1 channel, 16 bps), `data` chunk of
    * little-endian int16 frames. Samples must fit int16. */
  private[graft] def encodeWavPcm16(samples: Array[Int], sampleRate: Int = 8000): Array[Byte] = {
    val dataLen = samples.length * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort)            // audio format: PCM
      .putShort(1.toShort)            // channels: mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2)         // byte rate = rate * block align
      .putShort(2.toShort)            // block align (1 ch × 16 bit)
      .putShort(16.toShort)           // bits per sample
    buf.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach { s =>
      require(s >= Short.MinValue && s <= Short.MaxValue, s"sample $s exceeds int16")
      buf.putShort(s.toShort)
    }
    buf.array()
  }

  /** Encode mono 8-bit PCM: WAV's 8-bit convention is UNSIGNED bytes
    * (0-255), and the decoder returns exactly those values. Data chunks
    * with odd length get the RIFF word-alignment pad byte. */
  private[graft] def encodeWavPcm8(samples: Array[Int], sampleRate: Int = 8000): Array[Byte] = {
    val dataLen = samples.length
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen + (dataLen & 1))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen + (dataLen & 1))
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort)            // audio format: PCM
      .putShort(1.toShort)            // channels: mono
      .putInt(sampleRate)
      .putInt(sampleRate)             // byte rate = rate * block align (1)
      .putShort(1.toShort)            // block align (1 ch × 8 bit)
      .putShort(8.toShort)            // bits per sample
    buf.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach { s =>
      require(s >= 0 && s <= 255, s"sample $s exceeds unsigned 8-bit")
      buf.put(s.toByte)
    }
    buf.array()                       // trailing pad byte (if any) is 0
  }

  /** Encode mono IEEE-float32 (format 3): samples normalized to [−1,1)
    * on the int16 grid (s / 32768). Division by a power of two is exact
    * in float for any int16, so decode recovers the integer bit-exactly. */
  private[graft] def encodeWavFloat32(samples: Array[Int], sampleRate: Int = 8000): Array[Byte] = {
    val dataLen = samples.length * 4
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(3.toShort)            // audio format: IEEE float
      .putShort(1.toShort)            // channels: mono
      .putInt(sampleRate)
      .putInt(sampleRate * 4)         // byte rate = rate * block align
      .putShort(4.toShort)            // block align (1 ch × 32 bit)
      .putShort(32.toShort)           // bits per sample
    buf.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach { s =>
      require(s >= Short.MinValue && s <= Short.MaxValue, s"sample $s exceeds int16 grid")
      buf.putFloat(s / 32768.0f)
    }
    buf.array()
  }

  /** Real WAV decode: walk the RIFF chunk list (ids are 4 ASCII bytes,
    * sizes little-endian, chunks even-padded — so a LIST/INFO chunk ahead
    * of `data` is skipped, not tripped over), validate `fmt ` as one of
    * the supported mono subformats, and decode the `data` chunk's frames:
    *   - PCM16 → little-endian int16 values;
    *   - PCM8  → the raw UNSIGNED byte values 0-255 (the 8-bit format's
    *     own storage semantics — no silent recentering);
    *   - IEEE float32 → values must lie in [−1, 1] and are scaled by
    *     32768 then rounded to the int16 grid (exact for any float that
    *     encodes n/32768).
    * Anything else — stereo, PCM24, WAVE_FORMAT_EXTENSIBLE (0xFFFE),
    * μ-law — fails LOUDLY: silently mis-decoded audio is a corpus poison
    * no downstream filter can catch.
    *
    * The fmt chunk must precede data (the spec's canonical layout; both
    * orders are tolerated by buffering until the walk ends). */
  private[graft] def decodeWav(bytes: Array[Byte]): Array[Int] = {
    require(isWav(bytes), "not a RIFF/WAVE payload")
    var off = 12
    var fmt = -1                       // (audioFormat, bps) once validated
    var bps = -1
    var dataOff = -1
    var dataLen = -1
    while (off + 8 <= bytes.length && (dataOff < 0 || fmt < 0)) {
      val id = tag(bytes, off)
      val size = le32(bytes, off + 4)
      // compare in Long: a corrupt size near Int.MaxValue would wrap
      // `off + 8 + size` negative and slip past an Int-typed guard
      require(size >= 0 && off + 8 + size.toLong <= bytes.length,
        s"corrupt WAV: chunk $id size $size overruns payload")
      id match {
        case "fmt " =>
          require(size >= 16, s"corrupt WAV: fmt chunk size $size")
          val audioFormat = le16(bytes, off + 8)
          val channels = le16(bytes, off + 10)
          val b = le16(bytes, off + 22)
          require(channels == 1 &&
            ((audioFormat == 1 && (b == 16 || b == 8)) || (audioFormat == 3 && b == 32)),
            s"unsupported WAV encoding (format=$audioFormat ch=$channels bps=$b); " +
              "only mono PCM16, PCM8, and IEEE float32 are implemented")
          fmt = audioFormat; bps = b
        case "data" =>
          dataOff = off + 8; dataLen = size
        case _ => () // LIST, fact, cue … — skip
      }
      off += 8 + size + (size & 1) // chunks are word-aligned
    }
    require(fmt > 0, "corrupt WAV: no fmt chunk")
    require(dataOff >= 0, "corrupt WAV: no data chunk")
    (fmt, bps) match {
      case (1, 16) =>
        Array.tabulate(dataLen / 2)(i => le16(bytes, dataOff + 2 * i).toShort.toInt)
      case (1, 8) =>
        Array.tabulate(dataLen)(i => bytes(dataOff + i) & 0xff)
      case (3, 32) =>
        Array.tabulate(dataLen / 4) { i =>
          val f = java.lang.Float.intBitsToFloat(le32(bytes, dataOff + 4 * i))
          require(!f.isNaN && f >= -1.0f && f <= 1.0f,
            s"corrupt WAV: float sample $f outside [-1, 1]")
          math.round(f * 32768.0f)
        }
      case _ => throw new IllegalStateException("unreachable: fmt validated above")
    }
  }

  /** Decode dispatch: real WAV codec for RIFF/WAVE payloads, real PNG
    * codec for PNG payloads, opaque bytes-as-samples for formats without
    * an offline codec. */
  private[graft] def decodeSamples(bytes: Array[Byte]): Array[Int] =
    if (isWav(bytes)) decodeWav(bytes)
    else if (Png.isPng(bytes)) Png.decodeToSamples(bytes)
    else bytes.map(b => b & 0xff)

  /** "Resize": average-pool the sample stream into 8 equal segments
    * (segment of sample i = i*8/n), like pooling an image to fixed dims. */
  private def pool8(samples: Array[Int]): Array[Double] = {
    val sums = new Array[Double](8)
    val counts = new Array[Long](8)
    val n = samples.length
    var i = 0
    while (i < n) { val s = i * 8 / n; sums(s) += samples(i); counts(s) += 1; i += 1 }
    Array.tabulate(8)(s => if (counts(s) == 0) 0.0 else sums(s) / counts(s))
  }

  /** "Frame sampling": every 16th sample (video keyframe analog) folded
    * into a rolling checksum mod 2^31−1, plus the frame count. */
  private def frames(samples: Array[Int]): (Long, Long) = {
    var acc = 0L
    var n = 0L
    var i = 0
    while (i < samples.length) {
      if (i % 16 == 0) { acc = (acc * 31 + samples(i)) % 2147483647L; n += 1 }
      i += 1
    }
    (acc, n)
  }

  /** Typed row for the feature stage — field names ARE the output schema. */
  case class Features(
      doc_id: Long, n_samples: Long,
      b0: Double, b1: Double, b2: Double, b3: Double,
      b4: Double, b5: Double, b6: Double, b7: Double,
      frame_checksum: Long, n_frames: Long)

  /** Lenient variant's row: decode_ok=false quarantines a corrupt blob
    * (zeroed features, the error's class+message preserved) instead of
    * failing the stage. */
  case class FeaturesL(
      doc_id: Long, n_samples: Long,
      b0: Double, b1: Double, b2: Double, b3: Double,
      b4: Double, b5: Double, b6: Double, b7: Double,
      frame_checksum: Long, n_frames: Long,
      decode_ok: Boolean, decode_error: String)

  /** blobs(doc_id LONG, content BINARY) → per-blob features. Batch shape:
    * one partition iterator pass via typed `Dataset.mapPartitions` — the
    * mapInPandas-equivalent contract — staying on the Dataset/encoder
    * path (no RDD round-trip), so the object stage fuses into the
    * surrounding plan with Serialize/DeserializeToObject boundaries. */
  def extractFeatures(blobs: DataFrame): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.select(col("doc_id").cast("long"), col("content").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val samples = decodeSamples(if (bytes == null) Array.empty else bytes)
          val p = pool8(samples)
          val (ck, nf) = frames(samples)
          Features(id, samples.length.toLong,
            p(0), p(1), p(2), p(3), p(4), p(5), p(6), p(7), ck, nf)
        }
      }
      .toDF()
  }

  /** [[extractFeatures]] with corrupt-blob quarantine: at lake scale some
    * blobs WILL be truncated or mislabeled, and one bad file must not
    * fail a 10-hour stage. Decode errors become `decode_ok = false` rows
    * carrying the error text (routable to a quarantine sink with one
    * filter); good blobs are bit-identical to the strict path. The strict
    * path stays the default — a VALIDATED corpus wants corruption loud. */
  def extractFeaturesLenient(blobs: DataFrame): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.select(col("doc_id").cast("long"), col("content").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          try {
            val samples = decodeSamples(if (bytes == null) Array.empty else bytes)
            val p = pool8(samples)
            val (ck, nf) = frames(samples)
            FeaturesL(id, samples.length.toLong,
              p(0), p(1), p(2), p(3), p(4), p(5), p(6), p(7), ck, nf,
              decode_ok = true, decode_error = "")
          } catch {
            case e: Exception =>
              FeaturesL(id, 0L, 0, 0, 0, 0, 0, 0, 0, 0, 0L, 0L,
                decode_ok = false,
                decode_error = s"${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        }
      }
      .toDF()
  }
}
