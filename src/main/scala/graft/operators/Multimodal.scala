package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Hashing

/** Multimodal-column plumbing: media as opaque `binary` columns with
  * typed metadata, decoded/feature-extracted in partition-sized
  * batches.
  *
  * The decode itself is a DETERMINISTIC STUB (no image/audio codecs in
  * this container): byte-level arithmetic stands in for pixel work.
  * Everything around it — the binary schema, the per-partition batch
  * loop (the Scala analogue of a pandas-batched UDF), the bounded
  * output schema — is the real plumbing a codec would drop into.
  *
  * Scale: mapPartitions keeps the decode batched per task with zero
  * driver involvement; binary payloads never shuffle (metadata is
  * projected out before any wide operation downstream).
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("media_type", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = false)))

  val decodedSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("media_type", StringType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("checksum", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("frame_offsets", ArrayType(LongType, containsNull = false), nullable = false)))

  /** Wrap a documents table as a media table: the UTF-8 payload plays
    * the role of an encoded image/audio blob.
    */
  def asMedia(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("media_id"),
      concat(lit("fake/"), col("source")).as("media_type"),
      col("text").cast(BinaryType).as("payload"))

  val frameSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("frame_offset", LongType, nullable = false),
    StructField("frame_len", IntegerType, nullable = false),
    StructField("frame_checksum", LongType, nullable = false)))

  /** FNV-1a over a byte range — the stub stand-in for per-frame pixel
    * work, shared by [[decode]] and [[frameSample]].
    */
  private def fnv(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Frame sampling: every `stride`-th 256-byte "frame" of each
    * payload, with byte-range metadata and a per-frame checksum (the
    * stub for a per-frame feature extraction). One mapPartitions pass
    * over the media table — decode and sample fuse into a single scan,
    * the payload never shuffles, and output volume is
    * n_frames/stride rows of fixed-width metadata (the video-pipeline
    * pattern: sample on the executor, ship only features).
    */
  def frameSample(media: DataFrame, stride: Int = 4): DataFrame = {
    require(stride >= 1)
    val enc = RowEncoder.encoderFor(frameSchema)
    val ds: Dataset[Row] = media.select("media_id", "payload")
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          val nFrames = (bytes.length + 255) / 256
          (0 until nFrames by stride).iterator.map { f =>
            val off = f * 256
            val len = math.min(256, bytes.length - off)
            Row(id, f, off.toLong, len, fnv(bytes, off, off + len))
          }
        }
      }(enc)
    ds.toDF()
  }

  // ---------------------------------------------------------------
  // REAL decode path: javax.imageio (in-JDK, no external codec)
  // behind the SAME batched mapPartitions shape as the stub. The stub
  // remains the registered/bench default — synthetic document bytes
  // are not valid image streams — but the plumbing below proves the
  // contract is real: schema-in/schema-out, per-partition batching,
  // payloads never shuffle, only fixed-width metadata comes out.

  /** Deterministic synthetic PNG: id-keyed dimensions and a gradient
    * pattern, encoded with the JDK writer. PNG is lossless, so the
    * DECODED PIXELS are an exact function of `id` even though the
    * encoded byte stream is codec-version-dependent — specs assert on
    * pixels, never on encoding bytes.
    */
  def syntheticPng(id: Long): Array[Byte] = {
    val w = 16 + (id % 8).toInt * 4
    val h = 12 + (id % 5).toInt * 4
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = (x * 7 + id.toInt) % 256
        val g = (y * 11 + 3 * id.toInt) % 256
        val b = (x + y + 5 * id.toInt) % 256
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** A media table of `n` synthetic PNGs, generated ON THE EXECUTORS
    * (the driver never holds a payload) — the seed for the real-decode
    * specs and the drop-in stand-in for an object-store image scan.
    */
  def pngMedia(spark: org.apache.spark.sql.SparkSession, n: Int): DataFrame = {
    val enc = RowEncoder.encoderFor(mediaSchema)
    val ds: Dataset[Row] = spark.range(n.toLong).toDF("media_id")
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          Row(id, "image/png", syntheticPng(id))
        }
      }(enc)
    ds.toDF()
  }

  /** FNV-1a over the decoded ARGB pixels in scan order — the real
    * analogue of the stub's byte checksum: pixel-exact, codec-
    * independent, and cheap enough to run inline with the decode.
    */
  private[graft] def pixelChecksum(img: java.awt.image.BufferedImage): Long = {
    var h = 0xcbf29ce484222325L
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        h ^= (img.getRGB(x, y) & 0xffffffffL)
        h *= 0x100000001b3L
        x += 1
      }
      y += 1
    }
    h
  }

  /** REAL image decode: javax.imageio behind the same batched
    * mapPartitions as [[decode]] — actual width/height from the codec,
    * checksum over decoded pixels, frame_offsets = scanline byte
    * offsets (width·4 bytes per decoded row). Undecodable payloads
    * fail loudly per-row with the media id rather than poisoning the
    * batch.
    */
  def decodeImage(media: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(decodedSchema)
    val ds: Dataset[Row] = media.select("media_id", "media_type", "payload")
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val mt = r.getString(1)
          val bytes = r.getAs[Array[Byte]](2)
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes))
          require(img != null, s"undecodable image payload for media $id")
          val w = img.getWidth
          val h = img.getHeight
          val rowBytes = w.toLong * 4
          val offsets = 0L.until(h.toLong * rowBytes, rowBytes).toArray
          Row(id, mt, bytes.length.toLong, pixelChecksum(img), w, h, offsets)
        }
      }(enc)
    ds.toDF()
  }

  /** Deterministic synthetic "photo": 4×4-pixel blocks colored by an
    * integer mix of (block, id) — blocky noise with a strong per-id
    * signature (unlike [[syntheticPng]]'s smooth gradients, which an
    * average-hash deliberately sees as similar). `delta` brightens
    * every channel by a clamped offset — the classic perceptual-dup
    * perturbation (re-encode/brightness shift) that must NOT change
    * the hash by more than a couple of bits.
    */
  def noisePng(id: Long, delta: Int = 0): Array[Byte] = {
    val w = 32; val h = 32
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    def mix(a: Long): Long = {
      var x = a * 0x9e3779b97f4a7c15L
      x ^= x >>> 32; x *= 0xbf58476d1ce4e5b9L; x ^= x >>> 29
      x
    }
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = mix(id * 1024 + (y / 4) * 8 + (x / 4))
        def ch(shift: Int) =
          math.min(255, ((v >>> shift) & 0xff).toInt + delta)
        img.setRGB(x, y, (ch(0) << 16) | (ch(8) << 8) | ch(16))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** 64-bit average-hash (aHash) over DECODED pixels: 8×8 block-mean
    * luma, one bit per block thresholded at the global mean. Pure
    * integer/double arithmetic on the decoded image — no
    * codec-dependent smoothing — so the hash is bit-stable across
    * JDKs for lossless formats, and invariant to uniform brightness
    * shifts by construction (both the cell means and the threshold
    * move together).
    */
  private[graft] def aHash(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth; val h = img.getHeight
    val means = new Array[Double](64)
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 8) {
        val x0 = gx * w / 8; val x1 = (gx + 1) * w / 8
        val y0 = gy * h / 8; val y1 = (gy + 1) * h / 8
        var sum = 0L; var n = 0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val p = img.getRGB(x, y)
            sum += 299L * ((p >> 16) & 0xff) + 587L * ((p >> 8) & 0xff) +
              114L * (p & 0xff)
            n += 1; x += 1
          }
          y += 1
        }
        means(gy * 8 + gx) = if (n == 0) 0.0 else sum.toDouble / n
        gx += 1
      }
      gy += 1
    }
    val mean = means.sum / 64.0
    var bits = 0L; var i = 0
    while (i < 64) { if (means(i) > mean) bits |= (1L << i); i += 1 }
    bits
  }

  /** A media table of `n` noise photos plus planted perceptual
    * duplicates: every `dupEvery`-th base image re-appears as
    * `media_id + dupOffset` with a +8 brightness shift (re-encoded,
    * different bytes, visually identical). Payloads are generated ON
    * the executors — the driver never holds an image.
    */
  def noiseMedia(spark: org.apache.spark.sql.SparkSession, n: Int,
      dupEvery: Int = 10, dupOffset: Long = 100000L): DataFrame = {
    val enc = RowEncoder.encoderFor(mediaSchema)
    val ds: Dataset[Row] = spark.range(n.toLong).toDF("media_id")
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val base = Row(id, "image/png", noisePng(id))
          if (id % dupEvery == 0)
            Iterator(base, Row(id + dupOffset, "image/png", noisePng(id, delta = 8)))
          else Iterator(base)
        }
      }(enc)
    ds.toDF()
  }

  val phashSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("phash", LongType, nullable = false)))

  /** Decode + perceptual-hash fused into ONE mapPartitions pass: the
    * payload is read once on the executor and only (media_id, 64-bit
    * hash) ever leaves the scan — the image-dedup analogue of d03's
    * text SimHash, with the same "hash on the scan, join on the hash"
    * scale shape.
    */
  def imagePhash(media: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(phashSchema)
    val ds: Dataset[Row] = media.select("media_id", "payload")
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
          require(img != null, s"undecodable image payload for media $id")
          Row(id, aHash(img))
        }
      }(enc)
    ds.toDF()
  }

  // ----- video: length-prefixed PNG frame container (mm06) ---------

  /** Frames per clip in the video fixture. */
  val VideoFrames: Int = 8

  /** One deterministic clip: `scenes(f)` keys frame f's
    * [[noisePng]]; container = frame count + per-frame length-
    * prefixed PNG bytes (the same "real codec behind an opaque
    * binary column" discipline as the WAV/PNG fixtures).
    */
  def videoClip(scenes: Seq[Long], delta: Int = 0): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(bos)
    dos.writeInt(scenes.size)
    scenes.foreach { s =>
      val png = noisePng(s, delta)
      dos.writeInt(png.length); dos.write(png)
    }
    bos.toByteArray
  }

  /** A media table of `n` synthetic videos plus planted re-encoded
    * copies: every `dupEvery`-th clip re-appears as `media_id +
    * dupOffset` with every frame brightness-shifted (+8: different
    * bytes in EVERY frame, visually identical), and every second copy
    * additionally HARD-CUTS frame 6 — a sampled keyframe slot — to a
    * fresh scene (the partial-overlap case a clip matcher must
    * tolerate). Scene keys are disjoint across unrelated clips, so
    * ground truth is exactly the planted copies. Payloads are
    * generated ON the executors; the driver never holds a clip.
    */
  def videoMedia(spark: org.apache.spark.sql.SparkSession, n: Int,
      dupEvery: Int = 3, dupOffset: Long = 100000L): DataFrame = {
    val enc = RowEncoder.encoderFor(mediaSchema)
    val ds: Dataset[Row] = spark.range(n.toLong).toDF("media_id")
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val scenes = (0 until VideoFrames).map(f => id * 1024L + f)
          val base = Row(id, "video/x-graft", videoClip(scenes))
          if (id % dupEvery == 0) {
            val cut =
              if (id % (2 * dupEvery) == 0) scenes.updated(6, id * 1024L + 999L)
              else scenes
            Iterator(base,
              Row(id + dupOffset, "video/x-graft", videoClip(cut, delta = 8)))
          } else Iterator(base)
        }
      }(enc)
    ds.toDF()
  }

  val videoHashSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("slot", IntegerType, nullable = false),
    StructField("khash", LongType, nullable = false)))

  /** Keyframe sampling + decode + perceptual hash fused in ONE
    * mapPartitions pass (mm02's stride discipline feeding mm03's
    * aHash): every `stride`-th frame is length-seeked to, decoded,
    * and hashed; non-sampled frames are SKIPPED without decoding
    * (the length prefix is the seek table), and only (media_id,
    * slot, 8-byte hash) ever leaves the payload partition — at 100 TB
    * of video the shuffle carries ~32 bytes per clip, not pixels.
    */
  def videoKeyHashes(media: DataFrame, stride: Int = 2): DataFrame = {
    val enc = RowEncoder.encoderFor(videoHashSchema)
    val ds: Dataset[Row] = media.select("media_id", "payload")
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val dis = new java.io.DataInputStream(
            new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
          val nFrames = dis.readInt()
          (0 until nFrames).flatMap { f =>
            val len = dis.readInt()
            if (f % stride == 0) {
              val buf = new Array[Byte](len)
              dis.readFully(buf)
              val img = javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(buf))
              require(img != null, s"undecodable frame $f of media $id")
              Some(Row(id, f / stride, aHash(img)))
            } else { dis.skipBytes(len); None }
          }
        }
      }(enc)
    ds.toDF()
  }

  /** Clip-level near-duplicate pairs: per keyframe SLOT, candidates
    * come from the same 4×16-bit block pigeonhole equi-join as
    * [[phashPairs]], with `slot` as one more key column (slot-aligned —
    * frame 2 of clip A only ever joins frame 2 of clip B, so the key
    * space is slots × blocks, bounded); per-slot exact hamming
    * verifies ≤ `maxHamming`, and a clip pair survives when ≥
    * `minSlots` sampled slots match — which is what makes the matcher
    * robust to a hard cut in one keyframe while still rejecting
    * unrelated clips (an accidental single-block collision verifies
    * out or falls below the slot quorum). Nothing is ever all-pairs,
    * per slot or per clip.
    */
  def videoPairs(hashes: DataFrame, minSlots: Int = 3,
      maxHamming: Int = 2): DataFrame = {
    require(maxHamming <= 3, "4-block pigeonhole only covers hamming <= 3")
    // frozen before the slot-aligned self-join — phashPairs' rationale
    // (one keyframe decode pass, not one per join side)
    val fp = hashes.localCheckpoint(true)
    BandedPairs.pairs(pigeonholeKeys(fp, "khash"), "media_id",
        Seq("slot", "ti", "kv"),
        Seq(col("a.slot"), col("a.khash").as("ha"), col("b.khash").as("hb")))
      .filter(Hashing.hamming(col("ha"), col("hb")) <= maxHamming)
      .select("id_a", "id_b", "slot")
      .distinct()
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).cast(IntegerType).as("n_frames_matched"))
      .filter(col("n_frames_matched") >= minSlots)
  }

  /** Near-duplicate image pairs within `maxHamming` bits: 4×16-bit
    * block pigeonhole (any pair within hamming 3 agrees on ≥1 block)
    * generates candidates as a bounded EQUI-JOIN on (block, value) —
    * never an all-pairs loop — then exact bit_count(xor) verifies.
    * Same candidate-generation contract as the text SimHash family.
    */
  def phashPairs(hashed: DataFrame, maxHamming: Int = 2): DataFrame = {
    require(maxHamming <= 3, "4-block pigeonhole only covers hamming <= 3")
    // frozen: BOTH sides of the block self-join read the fingerprint
    // frame (the simhashPairs discipline) — unfrozen, the upstream
    // decode+hash pass ran once per side (measured at the 10× probe:
    // the full pipeline cost ~2× its decode stage for a frame of a
    // few thousand 16-byte rows)
    val fp = hashed.localCheckpoint(true)
    val hamming = Hashing.hamming(col("ha"), col("hb"))
    BandedPairs.pairs(pigeonholeKeys(fp, "phash"), "media_id",
        Seq("ti", "kv"), Seq(col("a.phash").as("ha"), col("b.phash").as("hb")))
      .filter(hamming <= maxHamming)
      .select(col("id_a"), col("id_b"), hamming.as("hamming"))
  }

  /** `fp` exploded to one row per 16-bit block of its 64-bit `hash`
    * column: (…fp columns, ti = block index, kv = block value). Any
    * two hashes within hamming 3 agree on ≥ 1 of the 4 blocks.
    */
  private def pigeonholeKeys(fp: DataFrame, hash: String): DataFrame =
    fp.select(col("*"), inline(Hashing.blockKeys(col(hash), 64, 4, 3)))

  /** A fixed fixture of `n` deterministic pseudo-random payloads
    * (0.2–1.4 KB xorshift byte streams, id-keyed length and media
    * kind), generated ON the executors. Unlike [[asMedia]] over the
    * documents corpus (whose bytes change whenever the testdata
    * regenerates), this table is a pure function of `n` — which is
    * what lets the mm entries carry LITERAL-matrix oracles: the
    * expected rows are constants of the code, independent of scale
    * factor and corpus regeneration.
    */
  def stubMedia(spark: org.apache.spark.sql.SparkSession, n: Int): DataFrame = {
    val enc = RowEncoder.encoderFor(mediaSchema)
    val ds: Dataset[Row] = spark.range(n.toLong).toDF("media_id")
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val len = 200 + ((id * 37) % 1200).toInt
          val bytes = new Array[Byte](len)
          var x = id * 0x9e3779b97f4a7c15L + 0x632be59bd9b4e019L
          var i = 0
          while (i < len) {
            x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
            bytes(i) = ((x * 0x2545f4914f6cdd1dL) >>> 56).toByte
            i += 1
          }
          val kind = (id % 3) match {
            case 0 => "fake/image"
            case 1 => "fake/audio"
            case _ => "fake/video"
          }
          Row(id, kind, bytes)
        }
      }(enc)
    ds.toDF()
  }

  /** Batched "decode": per partition, walk the payload bytes once and
    * emit typed metadata. STUB — a real build links an image codec
    * here ([[decodeImage]] is exactly that link, over javax.imageio);
    * the signature (Iterator[Row] => Iterator[Row], schema-in /
    * schema-out) is exactly what it would keep.
    */
  def decode(media: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(decodedSchema)
    val ds: Dataset[Row] = media.select("media_id", "media_type", "payload")
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val mt = r.getString(1)
          val bytes = r.getAs[Array[Byte]](2)
          // deterministic fake decode: FNV-1a checksum, fake geometry
          // from the checksum, "frame" offsets every 256 bytes
          val h = fnv(bytes, 0, bytes.length)
          val width = 320 + (math.floorMod(h, 8L) * 64).toInt
          val height = 240 + (math.floorMod(h >>> 3, 8L) * 48).toInt
          val offsets = 0L.until(bytes.length.toLong, 256L).toArray
          Row(id, mt, bytes.length.toLong, h, width, height, offsets)
        }
      }(enc)
    ds.toDF()
  }
  // ---------------------------------------------------------------
  // REAL audio decode path: javax.sound.sampled (in-JDK, no external
  // codec) — the audio analogue of the imageio path above. The
  // synthesizer emits genuine 16-bit PCM WAV containers, the decoder
  // parses them through AudioSystem, and the per-frame energy math is
  // all integer arithmetic, so the feature rows are exact constants
  // of the code (VALUES-oracle-able like mm01-mm03).

  val audioSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("n_samples", IntegerType, nullable = false),
    StructField("rms_sq", LongType, nullable = false),
    StructField("active", BooleanType, nullable = false)))

  /** Frames-per-clip × samples-per-frame for [[syntheticWav]]. */
  val WavFrames = 8
  val WavFrameSamples = 256

  /** Deterministic synthetic speech-ish clip: 8 frames of 256
    * 16-bit samples at 8 kHz. Frame f is LOUD (square wave, amplitude
    * 12000) when (id + f) % 3 == 0 and near-silent (amplitude 300)
    * otherwise — an utterance/pause pattern that is a pure function
    * of the id, so voice-activity flags are plantable ground truth.
    * A ±100 LCG dither rides on top (still integers; a pure square
    * wave would make every loud frame's energy identical). Encoded
    * as a REAL WAV container via AudioSystem.write.
    */
  def syntheticWav(id: Long): Array[Byte] = {
    val n = WavFrames * WavFrameSamples
    val pcm = new Array[Byte](n * 2)
    val half = 8 + (id % 8).toInt
    var lcg = id * 6364136223846793005L + 1442695040888963407L
    var t = 0
    while (t < n) {
      val f = t / WavFrameSamples
      val amp = if ((id + f) % 3 == 0) 12000 else 300
      val base = if ((t / half) % 2 == 0) amp else -amp
      lcg = lcg * 6364136223846793005L + 1442695040888963407L
      val noise = (((lcg >>> 33) % 201) - 100).toInt
      val v = base + noise
      pcm(2 * t) = (v & 0xff).toByte
      pcm(2 * t + 1) = ((v >> 8) & 0xff).toByte
      t += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** n synthetic WAV clips as a binary media table. */
  def wavMedia(spark: org.apache.spark.sql.SparkSession, n: Int): DataFrame = {
    val enc = RowEncoder.encoderFor(mediaSchema)
    val ds: Dataset[Row] = spark.range(n.toLong).toDF("media_id")
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          Row(id, "audio/wav", syntheticWav(id))
        }
      }(enc)
    ds.toDF()
  }

  /** REAL audio decode + framed energy/VAD fused in ONE mapPartitions
    * pass (the mm03 fusion discipline): AudioSystem parses the WAV
    * container, per-frame mean-square energy accumulates in Longs
    * (integer division by the frame size — exact), and the
    * voice-activity flag is a threshold on that energy. Only
    * (media_id, frame features) leave the payload partition — the
    * right shape when payloads dwarf metadata.
    */
  def audioEnergy(media: DataFrame, frameSamples: Int = WavFrameSamples,
      threshold: Long = 1000000L): DataFrame = {
    val enc = RowEncoder.encoderFor(audioSchema)
    val ds: Dataset[Row] = media.select("media_id", "payload")
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes))
          val fmt = ais.getFormat
          require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
            !fmt.isBigEndian,
            s"media $id: expected 16-bit mono LE PCM, got $fmt")
          val pcm = ais.readAllBytes()
          val n = pcm.length / 2
          (0 until n / frameSamples).map { f =>
            var sumSq = 0L
            var i = f * frameSamples
            val end = i + frameSamples
            while (i < end) {
              val v = ((pcm(2 * i + 1) << 8) | (pcm(2 * i) & 0xff)).toShort.toLong
              sumSq += v * v
              i += 1
            }
            val rmsSq = sumSq / frameSamples
            Row(id, f, frameSamples, rmsSq, rmsSq > threshold)
          }
        }
      }(enc)
    ds.toDF()
  }

  // ---- mm05: perceptual AUDIO dedup (the cross-media composition:
  // mm04's framed-energy features packed into a 64-bit fingerprint,
  // candidate pairs through mm03/d03's block-pigeonhole contract) ----

  /** Frames per clip in the DEDUP fixture — 64, so the framed
    * activity pattern packs into exactly one 64-bit fingerprint.
    */
  val AfpFrames = 64

  /** splitmix64 finalizer — the per-(clip, frame) activity bit must
    * be pseudorandom across frames or every clip would share one of
    * a handful of schedules and the fixture's "unrelated clips stay
    * far apart" property would not hold.
    */
  private def mix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Loud/quiet schedule of LOGICAL clip `base` at frame f. */
  private def activityBit(base: Long, f: Int): Boolean =
    ((mix64(base * 1000003L + f) >>> 40) & 1L) == 1L

  /** A 64-frame WAV following `base`'s activity schedule, XOR-flipped
    * at `flips` frames (the near-dup knob — each flip is one hamming
    * bit on the fingerprint). `gain` scales the loud amplitude: any
    * gain comfortably above the energy threshold yields the SAME
    * fingerprint — the audio analogue of mm03's brightness-shifted
    * re-encodes. The dither LCG seeds on the PHYSICAL id, so a copy's
    * bytes differ from its base everywhere, not only at flipped
    * frames.
    */
  def syntheticWavDup(id: Long, base: Long, flips: Set[Int],
      gain: Int): Array[Byte] = {
    val n = AfpFrames * WavFrameSamples
    val pcm = new Array[Byte](n * 2)
    val half = 8 + (base % 8).toInt
    var lcg = id * 6364136223846793005L + 1442695040888963407L
    var t = 0
    while (t < n) {
      val f = t / WavFrameSamples
      val loud = activityBit(base, f) ^ flips.contains(f)
      val amp = if (loud) gain else 300
      val b = if ((t / half) % 2 == 0) amp else -amp
      lcg = lcg * 6364136223846793005L + 1442695040888963407L
      val noise = (((lcg >>> 33) % 201) - 100).toInt
      val v = b + noise
      pcm(2 * t) = (v & 0xff).toByte
      pcm(2 * t + 1) = ((v >> 8) & 0xff).toByte
      t += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** `n` base clips (ids 0..n-1) plus a "re-encoded" near-dup copy of
    * every third base at id 100000+b: one or two frames flipped
    * (hamming 1-2 by construction), +10% gain, different dither —
    * different BYTES everywhere, perceptually near-identical. Pure
    * function of n (integer PCM + WAV container round-trip), so the
    * full pair matrix freezes into a literal VALUES oracle.
    */
  def wavDupMedia(spark: org.apache.spark.sql.SparkSession, n: Int): DataFrame = {
    val enc = RowEncoder.encoderFor(mediaSchema)
    val ids = spark.range(n.toLong).toDF("media_id")
      .unionByName(spark.range(0L, n.toLong, 3L).toDF("media_id")
        .select((col("media_id") + 100000L).as("media_id")))
    val ds: Dataset[Row] = ids.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val bytes =
          if (id < 100000L) syntheticWavDup(id, id, Set.empty, 12000)
          else {
            val b = id - 100000L
            val k = (b / 3L).toInt
            val flips: Set[Int] =
              if (k % 2 == 0) Set((k * 7) % AfpFrames)
              else Set((k * 7) % AfpFrames, (k * 13 + 5) % AfpFrames)
            syntheticWavDup(id, b, flips, 13200)
          }
        Row(id, "audio/wav", bytes)
      }
    }(enc)
    ds.toDF()
  }

  val afpSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("afp", LongType, nullable = false)))

  /** Decode + 64-bit audio fingerprint fused in ONE mapPartitions
    * pass (mm03's fusion discipline applied to mm04's framed energy):
    * bit f = frame f's voice-activity flag, so the fingerprint is
    * gain- and dither-invariant by construction. Only (media_id,
    * fingerprint) ever leaves the payload partition — 8 bytes out
    * per ~32 KB in, the shape that makes payload-scale dedup viable.
    */
  def audioFingerprint(media: DataFrame,
      frameSamples: Int = WavFrameSamples,
      threshold: Long = 1000000L): DataFrame = {
    val enc = RowEncoder.encoderFor(afpSchema)
    val ds: Dataset[Row] = media.select("media_id", "payload")
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes))
          val fmt = ais.getFormat
          require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
            !fmt.isBigEndian,
            s"media $id: expected 16-bit mono LE PCM, got $fmt")
          val pcm = ais.readAllBytes()
          val nSamples = pcm.length / 2
          val frames = math.min(nSamples / frameSamples, 64)
          var fp = 0L
          var f = 0
          while (f < frames) {
            var sumSq = 0L
            var i = f * frameSamples
            val end = i + frameSamples
            while (i < end) {
              val v = ((pcm(2 * i + 1) << 8) | (pcm(2 * i) & 0xff)).toShort.toLong
              sumSq += v * v
              i += 1
            }
            if (sumSq / frameSamples > threshold) fp |= (1L << f)
            f += 1
          }
          Row(id, fp)
        }
      }(enc)
    ds.toDF()
  }
}
