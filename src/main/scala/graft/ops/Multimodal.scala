package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (BASELINE.json north star; SURVEY.md §2h).
  *
  * Media (image/audio/video) is carried as an opaque `binary` column plus
  * typed metadata. The container has no image/audio codecs, so the decode
  * kernel is a clearly-marked DETERMINISTIC STUB — but everything Spark
  * cares about is real: the schema, the binary column lifecycle, the
  * per-partition batched execution shape (mapPartitions with fixed-size
  * batches, exactly how a vectorized decoder is driven), and partitioning.
  *
  * The corpus has no media files, so the binary payload is synthesized
  * from documents.text (UTF-8 bytes) — stands in for any blob column.
  */
object Multimodal {

  /** Decoded-media metadata produced by the (stub) decode kernel. */
  case class MediaMeta(doc_id: Long, n_bytes: Long, width: Int, height: Int,
      n_frames: Int, checksum: Long)

  /** Batch size a real vectorized decoder would be driven at. */
  val DecodeBatch = 64

  /** Attach the opaque binary column + cheap native metadata. Everything
    * here is a codegen'd projection — no decode needed for byte length /
    * content hash, so filters on these never touch the (expensive) kernel. */
  def withBinary(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      octet_length(col("text")).cast("long").as("n_bytes"),
      md5(col("text")).as("fp"))

  /** ====== STUB ====== Deterministic fake decode of one payload.
    * A real implementation would hand `bytes` to an image/audio library
    * (not present in this container) and return true dimensions; the fake
    * derives plausible values purely from the byte content so tests are
    * stable. Swap this single function for the real kernel. */
  private def decodeStub(docId: Long, bytes: Array[Byte]): MediaMeta = {
    var sum = 0L
    var i = 0
    while (i < bytes.length) { sum += (bytes(i) & 0xFF).toLong * 31 + 7; i += 1 }
    MediaMeta(
      doc_id = docId,
      n_bytes = bytes.length.toLong,
      width = 64 + (bytes.length % 512),
      // long math like the binaryMeta oracle twin — int `len*31` would
      // overflow (diverge) for payloads over ~69 MB
      height = 64 + (bytes.length.toLong * 31 % 512).toInt,
      n_frames = 1 + (sum % 16).toInt,
      checksum = sum)
  }

  /** Batched per-partition decode: the real execution shape for a media
    * kernel (grouped iterator => one kernel invocation per DecodeBatch
    * payloads, results streamed out — constant memory per partition).
    * Stays distributed: no collect, no driver involvement. */
  def decodeMeta(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val bin = withBinary(docs).select("doc_id", "payload")
      .as[(Long, Array[Byte])]
    bin.mapPartitions { it =>
      it.grouped(DecodeBatch).flatMap { batch =>
        // one "kernel call" per batch (stubbed per-element here);
        // null payloads decode like empty ones (no executor NPE)
        batch.map { case (id, bytes) =>
          decodeStub(id, if (bytes == null) Array.emptyByteArray else bytes)
        }
      }
    }.toDF().orderBy("doc_id")
  }

  case class DecodedImage(doc_id: Long, width: Int, height: Int, px_sum: Long)


  /** ====== REAL KERNEL ====== Deterministic PNG synthesis via
    * `javax.imageio` (in the JDK — needs no external codec): a W×H 8-bit
    * grayscale image whose pixel at linear index i = y*W + x has value
    * (a + i) mod 256, with
    *   W = 8 + doc_id mod 9, H = 8 + (doc_id mod 9 * 7) mod 9,
    *   a = (doc_id mod 256 * 31) mod 256.
    * Every parameter is integer arithmetic on doc_id, so the DECODED
    * dimensions and exact pixel sum have a closed-form SQL twin — which
    * is what lets a REAL encode→decode round trip carry an exact DuckDB
    * oracle (the mm_decode_real query), unlike the stub kernels. */
  def synthPngBytes(docId: Long): Array[Byte] = {
    val w = 8 + (docId % 9).toInt
    val h = 8 + ((docId % 9) * 7 % 9).toInt
    val a = ((docId % 256) * 31 % 256).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        raster.setSample(x, y, 0, (a + y * w + x) % 256)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Synthesize the PNG payload column on EXECUTORS (batched like every
    * kernel here) — a real binary media column derived from doc_id. */
  def synthPng(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    Spread(docs.select("doc_id")).as[Long]
      .mapPartitions { it =>
        it.grouped(DecodeBatch).flatMap(_.map(id => (id, synthPngBytes(id))))
      }.toDF("doc_id", "payload")
  }

  /** ====== REAL KERNEL ====== Batched PNG decode: `ImageIO.read` per
    * payload through the SAME grouped-iterator execution shape as
    * [[decodeMeta]] (one kernel batch per DecodeBatch payloads, results
    * streamed, bounded memory, no driver involvement). Returns the TRUE
    * decoded dimensions and the exact sum of 8-bit pixel samples —
    * values that only exist post-decode. PNG grayscale is lossless, so
    * against [[synthPng]] payloads the output matches the closed-form
    * synthesis arithmetic exactly. */
  def decodePngMeta(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    payloads.select("doc_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // decode straight from memory — no ImageIO temp-file cache on executors
        javax.imageio.ImageIO.setUseCache(false)
        it.grouped(DecodeBatch).flatMap { batch =>
          batch.map { case (id, bytes) =>
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes))
            require(img != null, s"undecodable payload for doc_id=$id")
            val r = img.getRaster
            var sum = 0L
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) { sum += r.getSample(x, y, 0); x += 1 }
              y += 1
            }
            DecodedImage(id, img.getWidth, img.getHeight, sum)
          }
        }
      }.toDF().orderBy("doc_id")
  }

  /** The mm_decode_real surface: synthesize real PNGs, round-trip them
    * through the batched decode kernel. */
  def decodeReal(spark: SparkSession, docs: DataFrame): DataFrame =
    decodePngMeta(spark, synthPng(spark, docs))

  /** ====== REAL KERNEL ====== PNG resize: ImageIO decode →
    * nearest-neighbor resample to targetW×targetH (source pixel
    * (x'·W)/W', (y'·H)/H', integer floor — the arithmetic a SQL twin can
    * reproduce) → PNG re-encode. Binary-in/binary-out through the same
    * batched shape as [[resize]]; unlike that stub this decodes and
    * resamples REAL pixels, and [[resizeReal]] decodes the output AGAIN
    * so the checked surface proves the whole encode→decode→resample→
    * encode→decode chain. */
  def resizePng(spark: SparkSession, payloads: DataFrame,
      targetW: Int = 16, targetH: Int = 16): DataFrame = {
    import spark.implicits._
    payloads.select("doc_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.grouped(DecodeBatch).flatMap { batch =>
          batch.map { case (id, bytes) =>
            val src = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes))
            require(src != null, s"undecodable payload for doc_id=$id")
            val out = new java.awt.image.BufferedImage(targetW, targetH,
              java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
            val sr = src.getRaster
            val outr = out.getRaster
            var y = 0
            while (y < targetH) {
              var x = 0
              while (x < targetW) {
                outr.setSample(x, y, 0, sr.getSample(
                  x * src.getWidth / targetW, y * src.getHeight / targetH, 0))
                x += 1
              }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(out, "png", bos)
            (id, bos.toByteArray)
          }
        }
      }.toDF("doc_id", "payload")
  }

  /** The mm_resize_real surface: synth → decode+resample+re-encode →
    * decode again; dims echo the target, pixel sum has a closed form. */
  def resizeReal(spark: SparkSession, docs: DataFrame): DataFrame =
    decodePngMeta(spark, resizePng(spark, synthPng(spark, docs)))

  case class DecodedAudio(doc_id: Long, sample_rate: Int, n_frames: Long,
      pcm_sum: Long)

  /** ====== REAL KERNEL ====== Deterministic WAV synthesis via
    * `javax.sound.sampled` (in the JDK — needs no external codec): a
    * mono PCM16LE clip whose frame i carries the signed sample
    * (a + i) − 32768, with
    *   rate = 8000 + doc_id mod 3 * 4000,
    *   N    = 800 + doc_id mod 5 * 160   (frames),
    *   a    = doc_id * 37 mod 60000.
    * a + N ≤ 61439 < 2¹⁶, so the ramp never wraps and the decoded PCM
    * sum has the closed form N·a + N(N−1)/2 − 32768·N — integer
    * arithmetic on doc_id, giving the REAL encode→decode round trip an
    * exact DuckDB oracle exactly like [[synthPngBytes]] does for images. */
  def synthWavBytes(docId: Long): Array[Byte] = {
    val rate = (8000 + (docId % 3) * 4000).toInt
    val n = (800 + (docId % 5) * 160).toInt
    val a = (docId * 37 % 60000).toInt
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = a + i - 32768
      pcm(2 * i) = (s & 0xFF).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1,
      true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** ====== REAL KERNEL ====== WAV synthesis with PLANTED voiced
    * segments for the activity-detection surface: audio is F frames of
    * 160 samples each; frames [2, 2+v₁) carry a constant ±8000 signal,
    * frames [8+id%3, 8+id%3+v₂) a second burst — except docs with
    * id ≡ 0 (mod 5), which stay single-burst (the negative path).
    * F = 12 + id%5, v₁ = 2 + id%3, v₂ = 1 + id%2 keep the bursts
    * disjoint with ≥1 silent frame between, so the segment structure
    * is closed-form. Everything else is silence (true zeros). */
  def synthVadWavBytes(docId: Long): Array[Byte] = {
    val frames = (12 + docId % 5).toInt
    val v1 = (2 + docId % 3).toInt
    val s2 = (8 + docId % 3).toInt
    val v2 = (1 + docId % 2).toInt
    val twoSeg = docId % 5 != 0
    def voiced(j: Int): Boolean =
      (j >= 2 && j < 2 + v1) || (twoSeg && j >= s2 && j < s2 + v2)
    val n = frames * 160
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = if (voiced(i / 160)) 8000 else 0
      pcm(2 * i) = (s & 0xFF).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true,
      false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** ====== REAL KERNEL ====== Energy-threshold voice-activity
    * detection — the audio-curation primitive that decides which clip
    * regions are worth transcribing/training on: decode the PCM, reduce
    * each 160-sample frame to its integer energy IN the batched reader
    * kernel (only (doc, frame, energy) rows ever shuffle — the audio
    * byte volume stays in the scan stage, the [[shotDetect]]
    * discipline), then segment voiced runs with one per-doc lag window
    * (gaps-and-islands). Per clip: total/voiced frame counts, segment
    * count, first voiced frame (−1 for all-silence). Against
    * [[synthVadWavBytes]] payloads every number is closed-form while
    * the Spark side must recover it from true decoded samples. */
  def audioVad(spark: SparkSession, docs: DataFrame,
      energyThreshold: Long = 1000000L): DataFrame = {
    import spark.implicits._
    val frames = docs.select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.grouped(DecodeBatch).flatMap(_.flatMap { id =>
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(synthVadWavBytes(id)))
          val fmt = ais.getFormat
          require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
            !fmt.isBigEndian, s"unexpected format for doc_id=$id: $fmt")
          val pcm = ais.readAllBytes()
          ais.close()
          val nFrames = pcm.length / (2 * 160)
          Iterator.range(0, nFrames).map { j =>
            var e = 0L
            var i = j * 160
            while (i < (j + 1) * 160) {
              val s = ((pcm(2 * i) & 0xFF) | (pcm(2 * i + 1) << 8))
                .toShort.toLong
              e += s * s
              i += 1
            }
            (id, j, e)
          }
        })
      }.toDF("doc_id", "frame_idx", "energy")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("frame_idx")
    frames
      .withColumn("voiced", (col("energy") > energyThreshold).cast("long"))
      .withColumn("starts",
        (col("voiced") === 1L &&
          coalesce(lag("voiced", 1).over(w), lit(0L)) === 0L)
          .cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"), sum("voiced").as("n_voiced"),
        sum("starts").as("n_segments"),
        coalesce(min(when(col("voiced") === 1L, col("frame_idx"))),
          lit(-1)).as("first_voiced_frame"))
      .orderBy("doc_id")
  }

  /** Synthesize the WAV payload column on EXECUTORS (batched like every
    * kernel here) — a real binary audio column derived from doc_id. */
  def synthWav(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.grouped(DecodeBatch).flatMap(_.map(id => (id, synthWavBytes(id))))
      }.toDF("doc_id", "payload")
  }

  /** ====== REAL KERNEL ====== Batched WAV decode:
    * `AudioSystem.getAudioInputStream` per payload through the same
    * grouped-iterator shape as [[decodePngMeta]]. Returns the TRUE
    * header-decoded rate and frame count plus the exact sum of decoded
    * signed 16-bit samples — values that only exist post-decode. PCM is
    * lossless, so against [[synthWav]] payloads the output matches the
    * closed-form synthesis arithmetic exactly. */
  def decodeWavMeta(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    payloads.select("doc_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(DecodeBatch).flatMap { batch =>
          batch.map { case (id, bytes) =>
            val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(bytes))
            val fmt = ais.getFormat
            require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
              !fmt.isBigEndian, s"unexpected format for doc_id=$id: $fmt")
            val nFrames = ais.getFrameLength
            val pcm = ais.readAllBytes()
            ais.close()
            var sum = 0L
            var i = 0
            while (i + 1 < pcm.length) {
              sum += ((pcm(i) & 0xFF) | (pcm(i + 1) << 8)).toShort.toLong
              i += 2
            }
            DecodedAudio(id, fmt.getSampleRate.toInt, nFrames, sum)
          }
        }
      }.toDF().orderBy("doc_id")
  }

  /** The mm_audio_real surface: synthesize real WAVs, round-trip them
    * through the batched decode kernel. */
  def audioReal(spark: SparkSession, docs: DataFrame): DataFrame =
    decodeWavMeta(spark, synthWav(spark, docs))

  /** ====== REAL KERNEL ====== WAV synthesis with a PLANTED 16-bit
    * frame-energy pattern for the fingerprint surface: 16 frames of 160
    * samples, frame j at constant amplitude 4000 when bit j of
    * `pattern = (id·37 + 11) mod 2¹⁶` is set, else 1000 (nonzero — the
    * decode path must separate quiet from loud, not zero from signal).
    * Variant 1 flips bit (id mod 16) for ids ≡ 0 (mod 4) — a planted
    * near-duplicate at Hamming distance exactly 1; other ids' variants
    * are bit-identical. Closed-form end to end. */
  def synthFpWavBytes(docId: Long, variant: Int): Array[Byte] = {
    val base = ((docId * 37 + 11) % 65536).toInt
    val pat =
      if (variant == 1 && docId % 4 == 0) base ^ (1 << (docId % 16).toInt)
      else base
    val n = 16 * 160
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val amp = if ((pat & (1 << (i / 160))) != 0) 4000 else 1000
      pcm(2 * i) = (amp & 0xFF).toByte
      pcm(2 * i + 1) = ((amp >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true,
      false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** ====== REAL KERNEL ====== Acoustic fingerprinting — the
    * frame-energy-signature primitive behind audio near-dup detection
    * (the dHash idea one modality over): decode the PCM, reduce each
    * 160-sample frame to its integer energy in the batched reader (the
    * [[audioVad]] discipline — only (doc, variant, fp) ever shuffles),
    * threshold to one bit per frame, pack to a 16-bit fingerprint.
    * Output per doc: both variants' fingerprints and their exact
    * Hamming distance — against [[synthFpWavBytes]] payloads every
    * value is closed-form (the planted pattern and its single-bit
    * flip), while the Spark side must recover it from true decoded
    * samples through javax.sound. Frame energies: 160·4000² = 2.56e9
    * vs 160·1000² = 1.6e8 — the 1e9 threshold sits an order of
    * magnitude from both. */
  def audioFingerprint(spark: SparkSession, docs: DataFrame,
      energyThreshold: Long = 1000000000L): DataFrame = {
    import spark.implicits._
    val fps = docs.select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.grouped(DecodeBatch).flatMap(_.flatMap { id =>
          Iterator.range(0, 2).map { v =>
            val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(synthFpWavBytes(id, v)))
            val fmt = ais.getFormat
            require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
              !fmt.isBigEndian, s"unexpected format for doc_id=$id: $fmt")
            val pcm = ais.readAllBytes()
            ais.close()
            val nFrames = pcm.length / (2 * 160)
            var fp = 0L
            var j = 0
            while (j < nFrames && j < 16) {
              var e = 0L
              var i = j * 160
              while (i < (j + 1) * 160) {
                val s = ((pcm(2 * i) & 0xFF) | (pcm(2 * i + 1) << 8))
                  .toShort.toLong
                e += s * s
                i += 1
              }
              if (e > energyThreshold) fp |= (1L << j)
              j += 1
            }
            (id, v, fp)
          }
        })
      }.toDF("doc_id", "variant", "fp")
    fps.groupBy("doc_id")
      .agg(max(when(col("variant") === 0, col("fp"))).as("fp0"),
        max(when(col("variant") === 1, col("fp"))).as("fp1"))
      .withColumn("hamming",
        bit_count(col("fp0").bitwiseXOR(col("fp1"))).cast("long"))
      .orderBy("doc_id")
  }

  case class AudioStats(doc_id: Long, sample_rate: Int, n_frames: Long,
      energy: Long, peak: Long, duration_us: Long)

  /** ====== REAL KERNEL ====== Loudness/energy profile from decoded
    * PCM: per clip, Σ sample² (energy — the clipping / silence screen
    * an audio-corpus filter runs before feature extraction), peak
    * |sample|, and integer duration in µs from the decoded header.
    * Same batched `AudioSystem` decode as [[decodeWavMeta]]; against
    * [[synthWav]] payloads the ramp makes every statistic closed-form
    * (Σ of consecutive squares), so the REAL decode chain keeps an
    * exact DuckDB twin. RMS is deliberately NOT surfaced: isqrt via
    * double `sqrt` can floor differently across engines at
    * perfect-square boundaries — energy and frame count carry the same
    * information exactly. */
  def decodeWavStats(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    payloads.select("doc_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(DecodeBatch).flatMap { batch =>
          batch.map { case (id, bytes) =>
            val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(bytes))
            val fmt = ais.getFormat
            require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
              !fmt.isBigEndian, s"unexpected format for doc_id=$id: $fmt")
            val nFrames = ais.getFrameLength
            val pcm = ais.readAllBytes()
            ais.close()
            var energy = 0L
            var peak = 0L
            var i = 0
            while (i + 1 < pcm.length) {
              val s = ((pcm(i) & 0xFF) | (pcm(i + 1) << 8)).toShort.toLong
              energy += s * s
              if (math.abs(s) > peak) peak = math.abs(s)
              i += 2
            }
            val rate = fmt.getSampleRate.toLong
            AudioStats(id, fmt.getSampleRate.toInt, nFrames, energy, peak,
              nFrames * 1000000L / rate)
          }
        }
      }.toDF().orderBy("doc_id")
  }

  /** The mm_audio_stats surface: synth → decode → loudness profile. */
  def audioStats(spark: SparkSession, docs: DataFrame): DataFrame =
    decodeWavStats(spark, synthWav(spark, docs))

  /** Native-expression twin of the stub's size-derived fields (no kernel,
    * pure Catalyst arithmetic) — oracle-checkable, and shows that metadata
    * predicates can be evaluated without decoding. */
  def binaryMeta(docs: DataFrame): DataFrame =
    withBinary(docs)
      .withColumn("stub_width", (lit(64) + col("n_bytes") % 512).cast("int"))
      .withColumn("stub_height", (lit(64) + (col("n_bytes") * 31) % 512).cast("int"))
      .drop("payload")
      .orderBy("doc_id")

  case class Frame(doc_id: Long, frame_idx: Int, frame_bytes: Array[Byte])
  case class Resized(doc_id: Long, payload: Array[Byte], width: Int,
      height: Int)

  /** ====== STUB kernel / real plumbing ====== Resize: binary-in →
    * binary-out transform to a fixed target size (the image-preprocessing
    * execution shape: payload column is replaced, metadata columns update
    * to the target dims, batch-driven like decode). The fake
    * down/up-samples bytes to exactly targetW*targetH; a real kernel
    * would decode, resample pixels, re-encode. */
  def resize(spark: SparkSession, docs: DataFrame,
      targetW: Int = 32, targetH: Int = 32): DataFrame = {
    import spark.implicits._
    val outLen = targetW * targetH
    withBinary(docs).select("doc_id", "payload")
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(DecodeBatch).flatMap { batch =>
          batch.map { case (id, raw) =>
            val bytes = if (raw == null) Array.emptyByteArray else raw
            val out = new Array[Byte](outLen)
            if (bytes.nonEmpty) {
              var i = 0
              while (i < outLen) {
                out(i) = bytes((i.toLong * bytes.length / outLen).toInt)
                i += 1
              }
            }
            Resized(id, out, targetW, targetH)
          }
        }
      }.toDF().orderBy("doc_id")
  }

  /** Driver-checkable surface of [[resize]]: the resized payload reduced
    * to scalars (dims, length, byte-sum checksum) — the driver's checker
    * cannot hash a binary column, and on the ASCII corpus the checksum is
    * SQL-expressible, so the whole batched binary-in/binary-out kernel
    * path gets an exact oracle. */
  def resizeMeta(spark: SparkSession, docs: DataFrame,
      targetW: Int = 32, targetH: Int = 32): DataFrame = {
    import spark.implicits._
    resize(spark, docs, targetW, targetH)
      .as[Resized]
      .map { r =>
        var sum = 0L
        var i = 0
        while (i < r.payload.length) { sum += (r.payload(i) & 0xFF); i += 1 }
        (r.doc_id, r.width, r.height, r.payload.length.toLong, sum)
      }
      .toDF("doc_id", "width", "height", "out_bytes", "checksum")
      .orderBy("doc_id")
  }

  /** Feature extraction: one fixed-width histogram per payload (per slot
    * j: sum of payload bytes at positions ≡ j mod dim), surfaced as a CSV
    * string — the embedding-model execution shape (batched kernel calls
    * in mapPartitions). Exact integer math on both engines (a float
    * vector's accumulation order is float32-rounding-sensitive), so it is
    * hash-oracle'd. */
  def featureHistogram(spark: SparkSession, docs: DataFrame,
      dim: Int = 16): DataFrame = {
    import spark.implicits._
    withBinary(docs).select("doc_id", "payload")
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(DecodeBatch).flatMap { batch =>
          batch.map { case (id, raw) =>
            val bytes = if (raw == null) Array.emptyByteArray else raw
            val v = new Array[Long](dim)
            var i = 0
            while (i < bytes.length) { v(i % dim) += (bytes(i) & 0xFF); i += 1 }
            (id, v.mkString(","))
          }
        }
      }
      .toDF("doc_id", "hist_csv")
      .orderBy("doc_id")
  }

  /** Driver-checkable surface of [[frameSample]]: on the ASCII corpus a
    * frame's bytes decode losslessly back to a string, so every sampled
    * frame (offset arithmetic included) is oracle'd exactly. */
  def frameSampleText(spark: SparkSession, docs: DataFrame,
      frameBytes: Int = 32, stride: Int = 4): DataFrame = {
    import spark.implicits._
    frameSample(spark, docs, frameBytes, stride)
      .as[Frame]
      .map(f => (f.doc_id, f.frame_idx,
        new String(f.frame_bytes, java.nio.charset.StandardCharsets.UTF_8)))
      .toDF("doc_id", "frame_idx", "frame_text")
      .orderBy("doc_id", "frame_idx")
  }

  /** ====== STUB kernel / real plumbing ====== Frame sampling: explode
    * each (video-like) payload into every `stride`-th fixed-size chunk as
    * its own row — the one-to-many kernel shape (flatMap inside the
    * batched iterator; output cardinality is data-dependent, memory stays
    * bounded per partition because frames stream out lazily). */
  case class SampledFrame(doc_id: Long, frame_idx: Int, width: Int,
      height: Int, px_sum: Long)

  /** Synthesize a REAL multi-frame animated GIF: 3–5 solid-gray frames
    * whose level is a pure function of (doc_id, frame) — solid frames
    * make the GIF palette round-trip exact by construction, so the
    * decoded pixel sums have a closed-form oracle like [[synthPngBytes]].
    * ImageIO's sequence writer (prepareWriteSequence/writeToSequence) is
    * the JDK-only animated-GIF encoder. */
  def synthGifBytes(docId: Long): Array[Byte] = {
    val w = 6 + (docId % 5).toInt
    val h = 6 + (docId % 7).toInt
    val nFrames = 3 + (docId % 3).toInt
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    var f = 0
    while (f < nFrames) {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val g = (((docId % 256) * 31 + 37L * f) % 256).toInt
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { raster.setSample(x, y, 0, g); x += 1 }
        y += 1
      }
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      f += 1
    }
    writer.endWriteSequence()
    writer.dispose()
    ios.close()
    bos.toByteArray
  }

  /** ====== REAL KERNEL ====== Frame sampling over a true multi-frame
    * container: decode every `every`-th frame of each GIF payload with
    * ImageIO's frame-indexed reader and emit TRUE decoded dims + the
    * exact pixel sum (via getRGB — the reader returns palette-indexed
    * rasters, so raw samples would be palette INDICES, not gray levels).
    * The frame-sample shape a video pipeline runs: one-to-many rows per
    * payload, streamed lazily, per-partition reader reuse, no driver. */
  def sampleGifFrames(spark: SparkSession, payloads: DataFrame,
      every: Int = 2): DataFrame = {
    import spark.implicits._
    require(every >= 1, s"every >= 1, got $every")
    payloads.select("doc_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        val reader = javax.imageio.ImageIO
          .getImageReadersByFormatName("gif").next()
        it.flatMap { case (id, bytes) =>
          reader.setInput(javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(bytes)))
          val n = reader.getNumImages(true)
          Iterator.range(0, n, every).map { f =>
            val img = reader.read(f)
            var sum = 0L
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) {
                sum += (img.getRGB(x, y) & 0xFF); x += 1
              }
              y += 1
            }
            SampledFrame(id, f, img.getWidth, img.getHeight, sum)
          }
        }
      }.toDF().orderBy("doc_id", "frame_idx")
  }

  /** The mm_frames_real surface: synthesize animated GIFs on executors,
    * sample every 2nd frame through the batched reader kernel. */
  def framesReal(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val payloads = Spread(docs.select("doc_id")).as[Long]
      .mapPartitions(it => it.grouped(DecodeBatch)
        .flatMap(_.map(id => (id, synthGifBytes(id)))))
      .toDF("doc_id", "payload")
    sampleGifFrames(spark, payloads)
  }

  /** ====== REAL KERNEL ====== GIF synthesis with a PLANTED scene cut
    * for the shot-detection surface: frames 0..c−1 are uniform gray
    * g₁ + 2f (a gentle within-scene drift, so "no change" is never a
    * degenerate zero signal), frames c.. are g₁ + 100 + 2f — a hard
    * +100 luminance step at the cut. Docs with id ≡ 0 (mod 4) get NO
    * cut (single scene) so the detector's negative path is exercised
    * too. g₁ = 10 + id%90 and ≤ 8 frames keep every level in [10, 213]
    * — no wrap, no clamp; all parameters are integer functions of
    * doc_id, so the expected cut structure has a closed-form SQL twin
    * while the Spark side must recover it from REAL decoded pixels. */
  def synthShotGifBytes(docId: Long): Array[Byte] = {
    val w = 6 + (docId % 5).toInt
    val h = 6 + (docId % 7).toInt
    val nFrames = 6 + (docId % 3).toInt
    val cut = 2 + (docId % 3).toInt
    val g1 = 10 + (docId % 90).toInt
    val hasCut = docId % 4 != 0
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    var f = 0
    while (f < nFrames) {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val scene = if (hasCut && f >= cut) 100 else 0
      val g = g1 + scene + 2 * f
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { raster.setSample(x, y, 0, g); x += 1 }
        y += 1
      }
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      f += 1
    }
    writer.endWriteSequence()
    writer.dispose()
    ios.close()
    bos.toByteArray
  }

  /** ====== REAL KERNEL ====== Shot-boundary detection — the video
    * curation primitive (split footage into shots before per-shot
    * sampling/captioning): decode EVERY frame of each container, reduce
    * each to its integer mean luminance, and flag a cut wherever the
    * mean jumps by more than `threshold` between consecutive frames.
    * Frame decode + reduce runs in the batched per-partition reader
    * kernel (one reader per partition, lazily streamed, no driver);
    * the temporal diff is a per-doc lag window over the #frames-sized
    * reduced table — the heavy pixel work never shuffles, only
    * (doc_id, frame_idx, mean) rows do. Per doc: frame count, cut
    * count, and the first cut index (−1 when the doc is a single
    * shot). At 100 TB of video the reduced table is #frames rows —
    * the plan's shuffle is independent of pixel volume. */
  def shotDetect(spark: SparkSession, docs: DataFrame,
      threshold: Int = 50): DataFrame = {
    import spark.implicits._
    val means = Spread(docs.select("doc_id")).as[Long]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        val reader = javax.imageio.ImageIO
          .getImageReadersByFormatName("gif").next()
        it.grouped(DecodeBatch).flatMap(_.flatMap { id =>
          reader.setInput(javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(synthShotGifBytes(id))))
          val n = reader.getNumImages(true)
          Iterator.range(0, n).map { f =>
            val img = reader.read(f)
            var sum = 0L
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) {
                sum += (img.getRGB(x, y) & 0xFF); x += 1
              }
              y += 1
            }
            (id, f, sum / (img.getWidth * img.getHeight))
          }
        })
      }.toDF("doc_id", "frame_idx", "mean_gray")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("frame_idx")
    means
      .withColumn("prev", lag("mean_gray", 1).over(w))
      .withColumn("is_cut",
        (col("prev").isNotNull &&
          abs(col("mean_gray") - col("prev")) > threshold).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"), sum("is_cut").as("n_cuts"),
        coalesce(min(when(col("is_cut") === 1L, col("frame_idx"))),
          lit(-1)).as("first_cut_idx"))
      .orderBy("doc_id")
  }

  case class DHash(doc_id: Long, variant: Int, hash_hi: Long, hash_lo: Long)

  /** ====== REAL KERNEL ====== Deterministic PNG synthesis for the
    * perceptual-hash surfaces: a stride-73 ramp (73 coprime to 256), so
    * adjacent-pixel comparisons — the signal dHash reads — vary richly
    * instead of being monotone. Pixel at linear i = y·W + x is
    * (a + 73·i) mod 256; `variant = 1` additionally perturbs the single
    * pixel at linear index pj = doc_id mod (W·H) to (base + 96) mod
    * 256 — an invisible-to-the-eye, byte-level-different twin. W ≥ 9 and
    * H ≥ 8 so the 9×8 dHash grid samples each source pixel AT MOST once
    * (floor(x·W/9) is strictly increasing for W ≥ 9) — the perturbed
    * pixel feeds at most the two comparisons that read it, bounding the
    * twin's Hamming distance at 2. Every parameter is integer arithmetic
    * on doc_id, so the decoded hash has a closed-form SQL twin like the
    * other real kernels. */
  def synthHashPngBytes(docId: Long, variant: Int): Array[Byte] = {
    val w = 9 + (docId % 8).toInt
    val h = 8 + ((docId % 8) * 5 % 8).toInt
    val a = ((docId % 256) * 31 % 256).toInt
    val pj = (docId % (w * h)).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var i = 0
    while (i < w * h) {
      val base = (a + 73L * i % 256).toInt % 256
      val px = if (variant == 1 && i == pj) (base + 96) % 256 else base
      raster.setSample(i % w, i / w, 0, px)
      i += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** 64-bit difference hash of a decoded grayscale image: nearest-neighbor
    * resample to a 9×8 grid (source pixel (x·W/9, y·H/8), integer floor —
    * the same resample arithmetic as [[resizePng]]), then bit (y·8 + x) =
    * 1 iff grid(x+1, y) > grid(x, y). Split into two unsigned-32-bit
    * halves so the value survives BIGINT arithmetic on both engines. */
  def dhashOf(img: java.awt.image.BufferedImage): (Long, Long) = {
    val r = img.getRaster
    val grid = Array.ofDim[Int](8, 9)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 9) {
        grid(y)(x) = r.getSample(x * img.getWidth / 9, y * img.getHeight / 8, 0)
        x += 1
      }
      y += 1
    }
    var hi = 0L
    var lo = 0L
    var idx = 0
    while (idx < 64) {
      val y0 = idx / 8
      val x0 = idx % 8
      if (grid(y0)(x0 + 1) > grid(y0)(x0)) {
        if (idx >= 32) hi |= 1L << (idx - 32) else lo |= 1L << idx
      }
      idx += 1
    }
    (hi, lo)
  }

  /** ====== REAL KERNEL ====== The mm_dhash_real surface: synthesize both
    * variants of each doc's PNG on executors, decode them back with
    * ImageIO and compute the perceptual difference hash from TRUE pixels.
    * The one perturbed pixel flips at most 2 of the 64 bits (each source
    * pixel is sampled at most once, and feeds at most two comparisons),
    * so (v0, v1) are Hamming-near twins with DIFFERENT bytes — what
    * perceptual dedup exists to catch and exact byte/md5 dedup provably
    * cannot. */
  def dhashReal(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    Spread(docs.select("doc_id")).as[Long]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.grouped(DecodeBatch).flatMap(_.flatMap { id =>
          Seq(0, 1).map { v =>
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(synthHashPngBytes(id, v)))
            require(img != null, s"undecodable payload for doc_id=$id v=$v")
            val (hi, lo) = dhashOf(img)
            DHash(id, v, hi, lo)
          }
        })
      }.toDF().orderBy("doc_id", "variant")
  }

  /** Hamming-LSH near-duplicate image pairs over the dHash corpus —
    * multimodal dedup with the same bounded-candidate discipline as the
    * text family:
    *  1. byte-identical-hash collapse FIRST (groupBy the 64-bit hash →
    *     min-key representative), so degenerate repeated images cost one
    *     group row, never O(dups²) candidates;
    *  2. band each hash into 4×16-bit keys; candidates = distinct-hash
    *     pairs sharing ANY band (a shuffle join on band_key — never
    *     all-pairs). Pigeonhole recall theorem: ≤ 3 differing bits touch
    *     ≤ 3 bands, so one band survives intact — every pair within the
    *     maxDist = 3 threshold is REACHED, exactly (the ER blocking
    *     contract, for images);
    *  3. exact verify: Hamming distance via xor + bit_count (codegen'd),
    *     keep 1 ≤ dist ≤ maxDist.
    * Output: (l_rep, r_rep, dist) over representative keys
    * key = doc_id·2 + variant.
    *
    * `maxBucket` is the hot-bucket cap (the [[Dedup.minhashLsh]]
    * discipline, applied to images): a band value shared by more than
    * `maxBucket` DISTINCT hashes is dropped from candidate generation
    * via a broadcast hot-list, so a skewed corpus (near-constant band
    * halves — e.g. letterboxed or bordered images) is bounded at
    * O(maxBucket²) per bucket instead of quadratic in the corpus.
    * Identical images never hit the cap (they collapse to one rep in
    * step 1); what the cap trades away is recall for NEAR-identical
    * clusters wider than maxBucket, and that trade is observable, not
    * silent — [[phashCapStats]] reports hot-key and dropped-row counts
    * (the image twin of `dedup_cap_stats`). */
  def phashNearDup(spark: SparkSession, docs: DataFrame,
      maxDist: Int = 3, maxBucket: Int = 64): DataFrame = {
    require(maxDist <= 3, s"4x16 banding only guarantees recall to dist 3, got $maxDist")
    val bands = dhashBands(spark, docs)
    val hot = bands.groupBy("band_key").agg(count(lit(1)).as("bs"))
      .filter(col("bs") > maxBucket).select("band_key")
    val kept = bands.join(broadcast(hot), Seq("band_key"), "left_anti")
    val l = kept.select(col("band_key"), col("rep").as("l_rep"),
      col("hash_hi").as("l_hi"), col("hash_lo").as("l_lo"))
    val r = kept.select(col("band_key"), col("rep").as("r_rep"),
      col("hash_hi").as("r_hi"), col("hash_lo").as("r_lo"))
    l.join(r, Seq("band_key"))
      .where(col("l_rep") < col("r_rep"))
      .select("l_rep", "r_rep", "l_hi", "l_lo", "r_hi", "r_lo").distinct()
      .withColumn("dist",
        (bit_count(col("l_hi").bitwiseXOR(col("r_hi"))) +
          bit_count(col("l_lo").bitwiseXOR(col("r_lo")))).cast("int"))
      .where(col("dist") <= maxDist)
      .select("l_rep", "r_rep", "dist")
      .orderBy("l_rep", "r_rep")
  }

  /** Shared banding front half of [[phashNearDup]] / [[phashCapStats]]:
    * distinct-hash representatives of the dHash corpus, exploded into
    * their 4×16-bit band keys (band index folded into the key's high
    * bits so bands never cross-match). */
  private def dhashBands(spark: SparkSession, docs: DataFrame): DataFrame = {
    val hashes = dhashReal(spark, docs)
      .select((col("doc_id") * 2 + col("variant")).as("key"),
        col("hash_hi"), col("hash_lo"))
    val groups = hashes.groupBy("hash_hi", "hash_lo")
      .agg(min("key").as("rep"))
    groups.select(col("rep"), col("hash_hi"), col("hash_lo"),
      explode(array(
        col("hash_lo").bitwiseAND(lit(0xFFFFL)),
        lit(0x10000L) + shiftright(col("hash_lo"), 16).bitwiseAND(lit(0xFFFFL)),
        lit(0x20000L) + col("hash_hi").bitwiseAND(lit(0xFFFFL)),
        lit(0x30000L) + shiftright(col("hash_hi"), 16).bitwiseAND(lit(0xFFFFL))
      )).as("band_key"))
  }

  /** Cap observability for [[phashNearDup]] — one row reporting how many
    * band buckets exceed `maxBucket` distinct hashes and how many banded
    * rows those hot buckets carry (= the candidate-generation volume the
    * cap removed). The drop volume is itself an oracle-checked quantity,
    * so "the cap silently ate my near-dups" cannot happen: a nonzero
    * n_dropped_rows is visible in the same registry that reports the
    * pairs. Always exactly one row (zeros when nothing is hot). */
  def phashCapStats(spark: SparkSession, docs: DataFrame,
      maxBucket: Int = 64): DataFrame =
    dhashBands(spark, docs)
      .groupBy("band_key").agg(count(lit(1)).as("sz"))
      .filter(col("sz") > maxBucket)
      .agg(coalesce(count(lit(1)), lit(0L)).as("n_hot_keys"),
        coalesce(sum("sz"), lit(0L)).as("n_dropped_rows"))
      .select(lit("phash_band").as("stage"), col("n_hot_keys"),
        col("n_dropped_rows"))

  def frameSample(spark: SparkSession, docs: DataFrame,
      frameBytes: Int = 32, stride: Int = 4): DataFrame = {
    import spark.implicits._
    withBinary(docs).select("doc_id", "payload")
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, raw) =>
          val bytes = if (raw == null) Array.emptyByteArray else raw
          Iterator.range(0, math.max(bytes.length - frameBytes + 1, 0), frameBytes * stride)
            .zipWithIndex
            .map { case (off, idx) =>
              Frame(id, idx, java.util.Arrays.copyOfRange(bytes, off, off + frameBytes))
            }
        }
      }.toDF().orderBy("doc_id", "frame_idx")
  }
}
