package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column surface — north star: treat image/audio/video as
  * opaque `binary` columns with typed metadata, and run decode /
  * feature-extract / frame-sample as distributed per-partition batch
  * transforms.
  *
  * The Spark-side plumbing is real and tested: schema (binary payload +
  * typed metadata struct), partition-parallel batched processing via
  * `mapPartitions` on a typed Dataset (the JVM analog of Python's
  * `mapInPandas` — one iterator per partition, amortized per-batch
  * setup), and a projection-pushable metadata path. `MediaCodec` ships
  * REAL pure-JVM decoders for 24bpp BMP and 16-bit PCM WAV (golden-
  * pinned in MultimodalSpec) and a deterministic byte-sum fallback for
  * payloads in no supported container (the synthetic fixture kinds);
  * heavier codecs (JPEG, mel spectrogram) slot in without touching any
  * Spark code.
  *
  * 100 TB notes: payloads stay columnar-binary end to end (no base64, no
  * driver collect); decode parallelism = partition count; metadata-only
  * queries never touch payload bytes thanks to parquet column pruning.
  */
object Multimodal {

  /** Typed record for the media table. */
  final case class MediaRow(
      media_id: Long, kind: String, payload: Array[Byte],
      width: Int, height: Int, sample_rate: Int, n_frames: Int)

  final case class MediaFeatures(
      media_id: Long, kind: String, feat_dim: Int, features: Array[Float],
      decoded_ok: Boolean)

  /** Media codec: REAL decoders for the formats a corpus actually
    * contains — 24bpp BMP and 16-bit PCM WAV as pure-JVM parsers, and
    * JPEG/PNG via the JDK's `javax.imageio` (round 8; no new deps) —
    * with the deterministic byte-sum path retained as the fallback for
    * the synthetic fixture kinds (no magic bytes). A payload that LOOKS
    * like a supported container but fails structural validation also
    * falls back — decode never throws. Heavier paths (CNN embed, mel
    * spectrograms) slot in beside these; the Spark plumbing is
    * format-agnostic. */
  object MediaCodec {
    val FeatureDim = 8

    /** Decoded 24bpp image: rgb is 3 bytes/pixel, row-major TOP-down. */
    final case class BmpImage(width: Int, height: Int, rgb: Array[Byte])

    private def le16(p: Array[Byte], o: Int): Int =
      (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
    private def le32(p: Array[Byte], o: Int): Int =
      (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8) |
        ((p(o + 2) & 0xff) << 16) | ((p(o + 3) & 0xff) << 24)

    /** Parse an uncompressed 24bpp bottom-up BMP (BITMAPINFOHEADER).
      * Returns None on any structural mismatch — callers fall back. */
    def decodeBmp(p: Array[Byte]): Option[BmpImage] = {
      if (p.length < 54 || p(0) != 'B' || p(1) != 'M') return None
      val dataOff = le32(p, 10)
      val hdrSize = le32(p, 14)
      if (hdrSize < 40) return None
      val w = le32(p, 18)
      val h = le32(p, 22)
      val bpp = le16(p, 28)
      val compression = le32(p, 30)
      if (w <= 0 || h <= 0 || bpp != 24 || compression != 0) return None
      val stride = ((w * 3 + 3) / 4) * 4
      if (dataOff < 54 || dataOff.toLong + stride.toLong * h > p.length)
        return None
      val rgb = new Array[Byte](w * h * 3)
      var row = 0
      while (row < h) {
        val src = dataOff + (h - 1 - row) * stride // bottom-up storage
        var x = 0
        while (x < w) {
          val s = src + x * 3 // BGR on disk
          val d = (row * w + x) * 3
          rgb(d) = p(s + 2); rgb(d + 1) = p(s + 1); rgb(d + 2) = p(s)
          x += 1
        }
        row += 1
      }
      Some(BmpImage(w, h, rgb))
    }

    /** JPEG (FF D8 FF) / PNG (89 'PNG') decode via `javax.imageio` —
      * in the JDK, zero new deps (round-7 verdict Next #3). Only
      * attempted when the magic bytes match, so arbitrary payloads
      * never pay an ImageIO parse; structural failures (truncated
      * stream, unsupported subformat) return None and callers fall
      * back. The decoded pixels are normalized to the same row-major
      * top-down RGB layout as [[decodeBmp]], so the feature path is
      * shared. */
    def decodeImageIo(p: Array[Byte]): Option[BmpImage] = {
      val isJpeg = p.length > 3 && (p(0) & 0xff) == 0xff &&
        (p(1) & 0xff) == 0xd8 && (p(2) & 0xff) == 0xff
      val isPng = p.length > 8 && (p(0) & 0xff) == 0x89 &&
        p(1) == 'P' && p(2) == 'N' && p(3) == 'G'
      if (!isJpeg && !isPng) return None
      try {
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(p))
        if (img == null || img.getWidth <= 0 || img.getHeight <= 0) None
        else {
          val w = img.getWidth
          val h = img.getHeight
          val rgb = new Array[Byte](w * h * 3)
          val argb = img.getRGB(0, 0, w, h, null, 0, w)
          var i = 0
          while (i < w * h) {
            val v = argb(i)
            rgb(i * 3) = ((v >> 16) & 0xff).toByte
            rgb(i * 3 + 1) = ((v >> 8) & 0xff).toByte
            rgb(i * 3 + 2) = (v & 0xff).toByte
            i += 1
          }
          Some(BmpImage(w, h, rgb))
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }

    /** Decoded 16-bit PCM audio: interleaved samples. */
    final case class WavAudio(sampleRate: Int, channels: Int,
        samples: Array[Short])

    /** Parse a RIFF/WAVE container with a PCM (format 1, 16-bit) fmt
      * chunk and a data chunk. Returns None on structural mismatch. */
    def decodeWav(p: Array[Byte]): Option[WavAudio] = {
      def tag(o: Int, s: String): Boolean =
        p.length >= o + 4 && s.indices.forall(i => p(o + i) == s(i).toByte)
      if (p.length < 44 || !tag(0, "RIFF") || !tag(8, "WAVE")) return None
      var off = 12
      var rate = -1; var ch = -1; var bits = -1
      var samples: Array[Short] = null
      while (off + 8 <= p.length) {
        val size = le32(p, off + 4)
        if (size < 0 || off + 8 + size > p.length) return None
        if (tag(off, "fmt ")) {
          if (size < 16) return None
          if (le16(p, off + 8) != 1) return None // PCM only
          ch = le16(p, off + 10)
          rate = le32(p, off + 12)
          bits = le16(p, off + 22)
        } else if (tag(off, "data")) {
          if (bits != 16 || ch <= 0 || rate <= 0) return None // fmt first
          val n = size / 2
          samples = new Array[Short](n)
          var i = 0
          while (i < n) {
            samples(i) = le16(p, off + 8 + i * 2).toShort
            i += 1
          }
        }
        off += 8 + size + (size & 1) // RIFF chunks are 2-byte aligned
      }
      if (samples == null || rate <= 0 || ch <= 0) None
      else Some(WavAudio(rate, ch, samples))
    }

    /** Per-channel image stats as the feature vector: mean R/G/B and the
      * population stddev of Rec.601 luminance (all scaled to [0,1]),
      * plus width, height, aspect, and the format tag 2.0. */
    def bmpFeatures(img: BmpImage): Array[Float] = {
      val n = img.width * img.height
      var sr = 0L; var sg = 0L; var sb = 0L
      var sl = 0.0; var sll = 0.0
      var i = 0
      while (i < n) {
        val r = img.rgb(i * 3) & 0xff
        val g = img.rgb(i * 3 + 1) & 0xff
        val b = img.rgb(i * 3 + 2) & 0xff
        sr += r; sg += g; sb += b
        val lum = 0.299 * r + 0.587 * g + 0.114 * b
        sl += lum; sll += lum * lum
        i += 1
      }
      val nd = n.toDouble
      val varLum = math.max(0.0, sll / nd - (sl / nd) * (sl / nd))
      Array(
        (sr / nd / 255.0).toFloat, (sg / nd / 255.0).toFloat,
        (sb / nd / 255.0).toFloat, (math.sqrt(varLum) / 255.0).toFloat,
        img.width.toFloat, img.height.toFloat,
        img.width.toFloat / img.height.toFloat, 2.0f)
    }

    /** Amplitude stats as the feature vector: mean, RMS, zero-crossing
      * rate, peak (sample-scale normalized), plus sample rate, sample
      * count, channels, and the format tag 3.0. */
    def wavFeatures(a: WavAudio): Array[Float] = {
      val n = a.samples.length
      var s = 0L; var ss = 0.0; var zc = 0L; var peak = 0L
      var i = 0
      while (i < n) {
        val v = a.samples(i).toLong
        s += v; ss += v.toDouble * v
        if (math.abs(v) > peak) peak = math.abs(v)
        if (i > 0 && ((a.samples(i - 1) < 0) != (v < 0))) zc += 1
        i += 1
      }
      val nd = math.max(1, n).toDouble
      Array(
        (s / nd / 32768.0).toFloat, (math.sqrt(ss / nd) / 32768.0).toFloat,
        (zc / math.max(1.0, nd - 1)).toFloat, (peak / 32768.0).toFloat,
        a.sampleRate.toFloat, n.toFloat, a.channels.toFloat, 3.0f)
    }

    def decodeToFeatures(payload: Array[Byte], kind: String): Array[Float] =
      decodeBmp(payload).map(bmpFeatures)
        .orElse(decodeImageIo(payload).map(bmpFeatures))
        .orElse(decodeWav(payload).map(wavFeatures))
        .getOrElse(fakeFeatures(payload, kind))

    /** Deterministic fallback for payloads in no supported container
      * (the synthetic fixture kinds): chunked byte sums, normalized —
      * stable across JVMs/partitions. */
    def fakeFeatures(payload: Array[Byte], kind: String): Array[Float] = {
      val out = new Array[Float](FeatureDim)
      var i = 0
      while (i < payload.length) {
        out(i % FeatureDim) += (payload(i) & 0xff) / 255.0f
        i += 1
      }
      val kindSalt = kind.hashCode.toFloat / Int.MaxValue
      out.map(v => v / math.max(1, payload.length / FeatureDim) + kindSalt)
    }

    /** 9×7 integer luminance grid (63 cells, row-major, 9 wide) over a
      * decoded image: cell = truncating MEAN of the exact integer
      * luminance 299r + 587g + 114b over its pixel block; block bounds
      * are the floor(g·W/9) / floor(g·H/7) splits (deterministic;
      * degenerate dimensions clamp each block to ≥ 1 pixel). The
      * perceptual-hash grid (round 13). */
    def gridLum63(img: BmpImage): Array[Long] = {
      val cells = new Array[Long](63)
      var gy = 0
      while (gy < 7) {
        val y0 = gy * img.height / 7
        val y1 = math.max(y0 + 1, (gy + 1) * img.height / 7)
        var gx = 0
        while (gx < 9) {
          val x0 = gx * img.width / 9
          val x1 = math.max(x0 + 1, (gx + 1) * img.width / 9)
          var s = 0L; var n = 0L
          var y = y0
          while (y < y1 && y < img.height) {
            var x = x0
            while (x < x1 && x < img.width) {
              val o = (y * img.width + x) * 3
              s += 299L * (img.rgb(o) & 0xff) +
                587L * (img.rgb(o + 1) & 0xff) +
                114L * (img.rgb(o + 2) & 0xff)
              n += 1; x += 1
            }
            y += 1
          }
          cells(gy * 9 + gx) = if (n == 0) 0L else s / n
          gx += 1
        }
        gy += 1
      }
      cells
    }

    /** Fallback grid for payloads in no decodable container: the
      * payload read as UTF-8 (replacement chars keep it total), its
      * CODE POINTS split into 63 contiguous floor-boundary chunks,
      * cell = chunk sum — exactly the DuckDB `ord(substr(...))` chunk
      * replay, so the fallback signature is oracle-replayable (the
      * qm4 "payload bytes are the text" pin). */
    def fallbackCells63(payload: Array[Byte]): Array[Long] = {
      val s = new String(payload, java.nio.charset.StandardCharsets.UTF_8)
      val cps = s.codePoints().toArray
      val n = cps.length
      val cells = new Array[Long](63)
      var j = 0
      while (j < 63) {
        var acc = 0L
        var i = j * n / 63
        val hi = (j + 1) * n / 63
        while (i < hi) { acc += cps(i); i += 1 }
        cells(j) = acc
        j += 1
      }
      cells
    }

    /** 56-bit dHash over a 63-cell 9-wide grid: bit (r·8 + c) is set
      * iff cell[r·9 + c + 1] > cell[r·9 + c] (the horizontal-gradient
      * hash of Krawetz's dHash, published; 56 bits keeps every
      * arithmetic step far inside BIGINT so both engines can band it
      * with plain div/mod). Non-negative by construction. */
    def dHash56(cells: Array[Long]): Long = {
      var h = 0L
      var r = 0
      while (r < 7) {
        var c = 0
        while (c < 8) {
          if (cells(r * 9 + c + 1) > cells(r * 9 + c))
            h |= 1L << (r * 8 + c)
          c += 1
        }
        r += 1
      }
      h
    }

    /** (decoded?, 56-bit perceptual hash): real images ride the
      * luminance grid (re-encoded copies — same pixels in BMP vs PNG —
      * hash identically, MultimodalSpec pin); everything else takes
      * the code-point fallback grid. */
    def perceptualHash(payload: Array[Byte]): (Boolean, Long) =
      decodeBmp(payload).map(i => (true, dHash56(gridLum63(i))))
        .orElse(decodeImageIo(payload)
          .map(i => (true, dHash56(gridLum63(i)))))
        .getOrElse((false, dHash56(fallbackCells63(payload))))

    /** STUB frame sampling: pick every `stride`-th "frame" (fixed-size
      * byte windows stand in for decoded frames). */
    def sampleFrames(payload: Array[Byte], frameBytes: Int,
        stride: Int): Seq[Array[Byte]] =
      payload.grouped(frameBytes).zipWithIndex
        .collect { case (f, i) if i % stride == 0 => f }.toSeq
  }

  /** Build a deterministic synthetic media table from the documents
    * fixture (payload = UTF-8 text bytes; kinds round-robin) — the
    * container ships no real media, so the fixture supplies bytes with
    * realistic skew in length. */
  def syntheticMediaTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val payload = text.getBytes("UTF-8")
        val kind = Seq("image", "audio", "video")((id % 3).toInt)
        MediaRow(id, kind, payload,
          width = 64 + (id % 8).toInt * 16, height = 64,
          sample_rate = if (kind == "audio") 16000 else 0,
          n_frames = if (kind == "video") payload.length / 32 else 1)
      }
  }

  /** Batched decode → features over partitions: the mapInPandas shape —
    * per-partition iterator, per-batch (here per-partition) setup cost
    * amortized, output is a new typed Dataset. */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition setup (real codecs open handles/models here once)
      val dim = MediaCodec.FeatureDim
      rows.map { r =>
        val feats = MediaCodec.decodeToFeatures(r.payload, r.kind)
        MediaFeatures(r.media_id, r.kind, dim, feats, feats.nonEmpty)
      }
    }
  }

  /** Metadata-only aggregate — must never deserialize payload bytes
    * (verified by plan pruning in MultimodalSpec). */
  def metadataStats(media: Dataset[MediaRow]): DataFrame =
    media.toDF()
      .groupBy("kind")
      .agg(count(lit(1)).as("n"),
        max(col("width")).cast("long").as("max_w"),
        sum(col("n_frames")).as("frames"))
      .orderBy("kind")

  /** Frame sampling as a generator: one output row per kept frame. */
  def sampleFrames(media: Dataset[MediaRow], frameBytes: Int = 32,
      stride: Int = 4): DataFrame = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      MediaCodec.sampleFrames(r.payload, frameBytes, stride)
        .zipWithIndex.map { case (f, i) => (r.media_id, i, f.length) }
    }.toDF("media_id", "frame_no", "frame_bytes")
  }

  /** queries-map entries (implementation-only: stub codec outputs). */
  def qm1Features(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    extractFeatures(syntheticMediaTable(spark, dir))
      .map(f => (f.media_id, f.kind, f.feat_dim, f.decoded_ok,
        f.features.map(x => (x * 1000).round).sum))
      .toDF("media_id", "kind", "feat_dim", "decoded_ok", "feat_checksum")
      .orderBy("media_id")
  }

  def qm2MetadataStats(spark: SparkSession, dir: String): DataFrame =
    metadataStats(syntheticMediaTable(spark, dir))

  def qm3FrameSample(spark: SparkSession, dir: String): DataFrame =
    sampleFrames(syntheticMediaTable(spark, dir))
      .orderBy("media_id", "frame_no")

  /** qm4 — ORACLE-GATED byte-level media facts (round-3 verdict item 6):
    * the codec is a stub, but payload length, md5 digest, and the typed
    * metadata are engine-checkable facts, so the whole media plumbing
    * (synthetic table build, payload projection, metadata typing) sits
    * under the hard DuckDB gate even while decode is fake. */
  def qm4MediaDigest(spark: SparkSession, dir: String): DataFrame =
    syntheticMediaTable(spark, dir).toDF()
      .select(col("media_id"), col("kind"),
        length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("digest"),
        col("width").cast("long").as("width"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("n_frames").cast("long").as("n_frames"))
      .orderBy("media_id")

  /** qm5 — MEDIA DEDUPLICATION by content digest: duplicate payload
    * groups (count, bytes, keeper = min id). Exact byte-level dedup is
    * THE first pass of any multimodal pipeline — before any decode —
    * and needs only the digest: the shuffle carries (digest, id,
    * length), never payload bytes (the q32 hash-first discipline
    * applied to binary columns). */
  def qm5MediaDups(spark: SparkSession, dir: String): DataFrame = {
    val media = syntheticMediaTable(spark, dir).toDF()
      .select(col("media_id"), col("payload"))
    // The synthetic corpus has no byte-identical payloads, so plant
    // re-ingested copies (same bytes, shifted id) for every 10th blob —
    // the re-upload/mirror scenario the digest pass exists to catch.
    media.unionAll(media.filter(col("media_id") % 10 === 0)
        .select((col("media_id") + 1000000L).as("media_id"),
          col("payload")))
      .select(md5(col("payload")).as("digest"),
        length(col("payload")).cast("long").as("nb"), col("media_id"))
      .groupBy("digest")
      .agg(count(lit(1)).as("n"), sum(col("nb")).as("total_bytes"),
        min(col("media_id")).as("keeper"))
      .filter(col("n") > 1)
      .orderBy("digest")
  }

  /** qm6 — PERCEPTUAL SIGNATURE TABLE (round 13, verdict-r12 item 4):
    * 56-bit dHash per media row. Decoded images ride the integer
    * luminance grid; undecodable payloads take the code-point
    * chunk-sum fallback — which IS the DuckDB replay, so on the
    * synthetic fixture (UTF-8 text payloads, the qm4 pin) the whole
    * table is ORACLE-GATED while the real image path is golden-pinned
    * in MultimodalSpec (BMP ≡ re-encoded PNG copy → identical hash).
    * Scale: pure per-row projection — scan speed, no shuffle. */
  def qm6MediaPhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    syntheticMediaTable(spark, dir).map { r =>
      val (ok, h) = MediaCodec.perceptualHash(r.payload)
      (r.media_id, r.kind, if (ok) 1L else 0L, h)
    }.toDF("media_id", "kind", "decoded", "phash").orderBy("media_id")
  }

  /** qm7 — PERCEPTUAL NEAR-DUP PAIRS: the q33b banding discipline on
    * the Hamming axis — the 56-bit signature splits into 4×14-bit
    * bands, candidates bucket-join per band (two copies within
    * Hamming 6 disagree in ≤ 6 bits, which by pigeonhole leaves ≥ 1
    * of 4 bands identical — recall 1 at the threshold), and verify is
    * exact bit_count(xor) ≤ 6. Planted re-ingested copies (qm5's
    * plant) guarantee hamming-0 pairs in the output. 100 TB: the
    * shuffle carries (band, 14-bit value, id) — never payloads; hot
    * identical-signature buckets are exact-dup clusters and take the
    * qm5 digest pass first by design. */
  def qm7MediaNearDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = syntheticMediaTable(spark, dir).map { r =>
      (r.media_id, MediaCodec.perceptualHash(r.payload)._2)
    }.toDF("media_id", "phash")
    val media = base.unionAll(base.filter(col("media_id") % 10 === 0)
      .select((col("media_id") + 1000000L).as("media_id"),
        col("phash")))
    val bands = media.select(col("media_id"), col("phash"),
        explode(typedlit(Seq(0, 1, 2, 3))).as("b"))
      .withColumn("bv", expr("(phash div element_at(" +
        "array(1L, 16384L, 268435456L, 4398046511104L), b + 1))" +
        " % 16384"))
      .select("media_id", "phash", "b", "bv")
    bands.as("x").join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.bv") === col("y.bv") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("a"), col("y.media_id").as("b"),
        col("x.phash").as("pa"), col("y.phash").as("pb"))
      .distinct()
      .withColumn("hamming", expr("CAST(bit_count(pa ^ pb) AS BIGINT)"))
      .filter(col("hamming") <= 6)
      .select(col("a"), col("b"), col("hamming"))
      .orderBy("a", "b")
  }

  /** qm8 — BYTE-vs-PERCEPTUAL DEDUP CENSUS (round 13): over the same
    * planted table, how the two dedup passes relate — byte-equal
    * pairs (qm5's digest), perceptual pairs (qm7's banding), their
    * intersection, and each side's exclusives. The structural
    * invariant is MEASURED by the gate: byte-equal payloads hash
    * identically, so `n_byte_only = 0` always (byte dedup ⊆
    * perceptual dedup), while `n_phash_only` counts the re-encoded/
    * near-copies only the perceptual pass can see (fixture2's anagram
    * plant lands there). The "which dedup pass catches what" readout
    * a multimodal ingest publishes.
    *
    * Scale: both pair sets are banding/digest-bounded; the census is
    * one full-outer join of pair frames + a 1-row rollup. */
  def qm8MediaDedupCensus(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    val base = syntheticMediaTable(spark, dir).map { r =>
      (r.media_id, MediaCodec.perceptualHash(r.payload)._2,
        java.security.MessageDigest.getInstance("MD5")
          .digest(r.payload).map("%02x".format(_)).mkString)
    }.toDF("media_id", "phash", "digest")
    val planted = base.unionAll(base.filter(col("media_id") % 10 === 0)
      .select((col("media_id") + 1000000L).as("media_id"),
        col("phash"), col("digest")))
    val bytePairs = planted.as("x").join(planted.as("y"),
        col("x.digest") === col("y.digest") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("a"), col("y.media_id").as("b"),
        lit(1L).as("byte_eq"))
    val phashPairs = qm7MediaNearDup(spark, dir)
      .select(col("a"), col("b"), lit(1L).as("ph_eq"))
    bytePairs.join(phashPairs, Seq("a", "b"), "full_outer")
      .agg(
        sum(coalesce(col("byte_eq"), lit(0L))).as("n_byte_pairs"),
        sum(coalesce(col("ph_eq"), lit(0L))).as("n_phash_pairs"),
        sum(when(col("byte_eq").isNotNull && col("ph_eq").isNotNull,
          1L).otherwise(0L)).as("n_both"),
        sum(when(col("byte_eq").isNull, 1L).otherwise(0L))
          .as("n_phash_only"),
        sum(when(col("ph_eq").isNull, 1L).otherwise(0L))
          .as("n_byte_only"))
  }

  /** qm9 — PHASH BANDING SWEEP (round-14 verdict item 7): the q244
    * S-curve measurement on the HAMMING axis — candidate count and
    * precision of the banding join at 2 / 4 / 7 bands over the SAME
    * signature set (56 bits → 28/14/8-bit bands). The pigeonhole
    * recall-1 threshold MOVES with band count (B bands guarantee a
    * shared band for pairs within Hamming B−1: 1 / 3 / 6), so the 4-
    * band default is the unique config whose guarantee covers qm7's
    * verify threshold 6 without the 8-bit bands' candidate blow-up —
    * this table is that design decision, measured. Verify stays the
    * qm7 exact bit_count ≤ 6 everywhere.
    *
    * Scale: one signature frame fans 13 slim band rows per id (2+4+7
    * configs); candidates are per-config bucket joins — never
    * all-pairs; the rollup is config-sized. */
  def qm9PhashBandingSweep(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    val base = syntheticMediaTable(spark, dir).map { r =>
      (r.media_id, MediaCodec.perceptualHash(r.payload)._2)
    }.toDF("media_id", "phash")
    val media = base.unionAll(base.filter(col("media_id") % 10 === 0)
      .select((col("media_id") + 1000000L).as("media_id"),
        col("phash")))
    val cfg = Seq(2, 4, 7).flatMap { nb =>
      val w = 56 / nb
      (0 until nb).map(b => (nb.toLong, b.toLong, 1L << (b * w),
        1L << w))
    }
    val bands = media.select(col("media_id"), col("phash"),
        explode(typedlit(cfg)).as("c"))
      .select(col("media_id"), col("phash"),
        col("c._1").as("nb"), col("c._2").as("b"),
        expr("(phash div c._3) % c._4").as("bv"))
    bands.as("x").join(bands.as("y"),
        col("x.nb") === col("y.nb") && col("x.b") === col("y.b") &&
          col("x.bv") === col("y.bv") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.nb").as("nb"), col("x.media_id").as("a"),
        col("y.media_id").as("b2"), col("x.phash").as("pa"),
        col("y.phash").as("pb"))
      .distinct()
      .withColumn("ok",
        when(expr("bit_count(pa ^ pb) <= 6"), 1L).otherwise(0L))
      .groupBy("nb")
      .agg(count(lit(1)).as("n_candidates"),
        sum(col("ok")).as("n_verified"))
      .select(col("nb").as("n_bands"),
        expr("56 div nb").as("band_bits"),
        col("n_candidates"), col("n_verified"),
        expr("(n_verified * 1000000) div n_candidates")
          .as("precision_ppm"),
        (col("nb") - 1L).as("pigeonhole_hamming"))
      .orderBy("n_bands")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "qm9_phash_banding_sweep" -> (qm9PhashBandingSweep _),
    "qm1_media_features" -> (qm1Features _),
    "qm8_media_dedup_census" -> (qm8MediaDedupCensus _),
    "qm2_media_metadata" -> (qm2MetadataStats _),
    "qm3_media_frames" -> (qm3FrameSample _),
    "qm4_media_digest" -> (qm4MediaDigest _),
    "qm5_media_dups" -> (qm5MediaDups _),
    "qm6_media_phash" -> (qm6MediaPhash _),
    "qm7_media_neardup" -> (qm7MediaNearDup _),
  )

  /** qm4 oracle: payload bytes ARE the document's UTF-8 text, so DuckDB
    * reproduces every column from `documents` — md5 over the same bytes
    * (DuckDB md5(VARCHAR) hashes UTF-8), octet_length over text::BLOB,
    * and the metadata formulas inlined. qm1/qm3 stay impl-only (stub
    * codec outputs have no SQL equivalent). */
  /** The fallback-phash CTE chain (cps → cells → ph), shared by the
    * qm6 and qm7 oracles: code-point chunk sums into 63 cells, the
    * 56-bit horizontal-gradient fold — every payload in the synthetic
    * fixture is undecodable text bytes, so this replays [[MediaCodec
    * .perceptualHash]] exactly (the decoded branch is golden-pinned
    * in MultimodalSpec, the qm1 discipline). */
  private val phashCtes: String =
    """WITH cps AS (
      |  SELECT doc_id AS media_id,
      |    list_transform(range(1, len(text) + 1),
      |      i -> CAST(ord(substr(text, i, 1)) AS BIGINT)) AS cp,
      |    CAST(len(text) AS BIGINT) AS n
      |  FROM documents),
      |cells AS (
      |  SELECT media_id,
      |    list_transform(range(0, 63), j ->
      |      list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        cp[((j * n) // 63) + 1 : ((j + 1) * n) // 63]),
      |        (a, b) -> a + b)) AS cells
      |  FROM cps),
      |ph AS (
      |  SELECT media_id,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(0, 7), r ->
      |        list_reduce(list_prepend(CAST(0 AS BIGINT),
      |          list_transform(range(0, 8), c ->
      |            CASE WHEN cells[r * 9 + c + 2] > cells[r * 9 + c + 1]
      |              THEN CAST(1 AS BIGINT) << CAST(r * 8 + c AS INTEGER)
      |              ELSE CAST(0 AS BIGINT) END)),
      |          (a, b) -> a + b))),
      |      (a, b) -> a + b) AS phash
      |  FROM cells)""".stripMargin

  val oracle: Map[String, String] = Map(
    // qm6: the fallback phash chain + qm4's kind formula; decoded = 0
    // everywhere because the fixture payloads are text bytes.
    "qm6_media_phash" -> (phashCtes +
      """
        |SELECT media_id,
        |  CASE CAST(media_id % 3 AS INTEGER) WHEN 0 THEN 'image'
        |       WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CAST(0 AS BIGINT) AS decoded, phash
        |FROM ph ORDER BY media_id""".stripMargin),
    // qm7: same signatures + the qm5 plant, 4×14-bit band buckets,
    // exact Hamming verify (bit_count(xor) — two's-complement-free
    // because the 56-bit hash is non-negative on both engines).
    "qm7_media_neardup" -> (phashCtes +
      """,
        |m2 AS (
        |  SELECT media_id, phash FROM ph
        |  UNION ALL
        |  SELECT media_id + 1000000, phash FROM ph
        |  WHERE media_id % 10 = 0),
        |bnd AS (
        |  SELECT media_id, phash, CAST(b AS BIGINT) AS b,
        |    (phash // ([1, 16384, 268435456, 4398046511104]::BIGINT[])
        |      [b + 1]) % 16384 AS bv
        |  FROM m2, unnest([0, 1, 2, 3]) AS t(b)),
        |cand AS (
        |  SELECT DISTINCT x.media_id AS a, y.media_id AS b,
        |    x.phash AS pa, y.phash AS pb
        |  FROM bnd x JOIN bnd y
        |    ON x.b = y.b AND x.bv = y.bv AND x.media_id < y.media_id)
        |SELECT a, b,
        |  CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming
        |FROM cand
        |WHERE bit_count(xor(pa, pb)) <= 6
        |ORDER BY a, b""".stripMargin),
    // qm8: the phash chain + md5-digest pairs over the same plant;
    // the full-outer census measures byte ⊆ perceptual (n_byte_only
    // = 0 structurally) and counts the perceptual exclusives.
    "qm8_media_dedup_census" -> (phashCtes + """,
      |m8 AS (
      |  SELECT media_id, phash, md5(text) AS digest
      |  FROM ph JOIN documents ON ph.media_id = documents.doc_id
      |  UNION ALL
      |  SELECT media_id + 1000000, phash, md5(text)
      |  FROM ph JOIN documents ON ph.media_id = documents.doc_id
      |  WHERE media_id % 10 = 0),
      |bp8 AS (
      |  SELECT x.media_id AS a, y.media_id AS b, 1 AS byte_eq
      |  FROM m8 x JOIN m8 y
      |    ON x.digest = y.digest AND x.media_id < y.media_id),
      |bnd8 AS (
      |  SELECT media_id, phash, CAST(b AS BIGINT) AS b,
      |    (phash // ([1, 16384, 268435456, 4398046511104]::BIGINT[])
      |      [b + 1]) % 16384 AS bv
      |  FROM m8, unnest([0, 1, 2, 3]) AS t(b)),
      |pp8 AS (
      |  SELECT a, b, 1 AS ph_eq FROM (
      |    SELECT DISTINCT x.media_id AS a, y.media_id AS b,
      |      x.phash AS pa, y.phash AS pb
      |    FROM bnd8 x JOIN bnd8 y
      |      ON x.b = y.b AND x.bv = y.bv AND x.media_id < y.media_id)
      |  WHERE bit_count(xor(pa, pb)) <= 6),
      |cj AS (
      |  SELECT COALESCE(bp8.byte_eq, 0) AS byte_eq,
      |    COALESCE(pp8.ph_eq, 0) AS ph_eq
      |  FROM bp8 FULL OUTER JOIN pp8 USING (a, b))
      |SELECT
      |  CAST(SUM(byte_eq) AS BIGINT) AS n_byte_pairs,
      |  CAST(SUM(ph_eq) AS BIGINT) AS n_phash_pairs,
      |  CAST(SUM(CASE WHEN byte_eq = 1 AND ph_eq = 1 THEN 1 ELSE 0
      |    END) AS BIGINT) AS n_both,
      |  CAST(SUM(CASE WHEN byte_eq = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_phash_only,
      |  CAST(SUM(CASE WHEN ph_eq = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_byte_only
      |FROM cj""".stripMargin),
    // qm9: the phash chain + the qm7 plant; 13 literal (nb, b) config
    // rows (2+4+7 bands), per-config shift/mod band values, bucket
    // joins, exact bit_count ≤ 6 verify, per-config precision rollup.
    "qm9_phash_banding_sweep" -> (phashCtes + s""",
      |m9 AS (
      |  SELECT media_id, phash FROM ph
      |  UNION ALL
      |  SELECT media_id + 1000000, phash FROM ph
      |  WHERE media_id % 10 = 0),
      |cfg9 AS (
      |  SELECT CAST(nb AS BIGINT) AS nb, CAST(b AS BIGINT) AS b
      |  FROM (VALUES ${Seq(2, 4, 7).flatMap(nb =>
          (0 until nb).map(b => s"($nb, $b)")).mkString(", ")})
      |    c(nb, b)),
      |bnd9 AS (
      |  SELECT media_id, phash, nb, b,
      |    (phash // (CAST(1 AS BIGINT) <<
      |        CAST(b * (56 // nb) AS INTEGER)))
      |      % (CAST(1 AS BIGINT) << CAST(56 // nb AS INTEGER)) AS bv
      |  FROM m9 CROSS JOIN cfg9),
      |cand9 AS (
      |  SELECT DISTINCT x.nb AS nb, x.media_id AS a, y.media_id AS b,
      |    x.phash AS pa, y.phash AS pb
      |  FROM bnd9 x JOIN bnd9 y
      |    ON x.nb = y.nb AND x.b = y.b AND x.bv = y.bv
      |    AND x.media_id < y.media_id),
      |agg9 AS (
      |  SELECT nb, CAST(COUNT(*) AS BIGINT) AS n_candidates,
      |    CAST(SUM(CASE WHEN bit_count(xor(pa, pb)) <= 6 THEN 1
      |      ELSE 0 END) AS BIGINT) AS n_verified
      |  FROM cand9 GROUP BY nb)
      |SELECT nb AS n_bands, 56 // nb AS band_bits, n_candidates,
      |  n_verified, (n_verified * 1000000) // n_candidates
      |    AS precision_ppm,
      |  nb - 1 AS pigeonhole_hamming
      |FROM agg9 ORDER BY n_bands""".stripMargin),
    // qm5: payload bytes are the document's UTF-8 text (qm4 pin), so
    // DuckDB reproduces digest groups from `documents` directly.
    "qm5_media_dups" ->
      """WITH media AS (
        |  SELECT doc_id AS media_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents
        |  WHERE doc_id % 10 = 0)
        |SELECT md5(text) AS digest, COUNT(*) AS n,
        |  CAST(SUM(octet_length(encode(text))) AS BIGINT)
        |    AS total_bytes,
        |  MIN(media_id) AS keeper
        |FROM media GROUP BY md5(text) HAVING COUNT(*) > 1
        |ORDER BY digest""".stripMargin,
    "qm4_media_digest" ->
      """SELECT doc_id AS media_id,
        |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
        |       WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS digest,
        |  CAST(64 + (doc_id % 8) * 16 AS BIGINT) AS width,
        |  CAST(CASE WHEN doc_id % 3 = 1 THEN 16000 ELSE 0 END AS BIGINT)
        |    AS sample_rate,
        |  CAST(CASE WHEN doc_id % 3 = 2
        |       THEN octet_length(encode(text)) // 32
        |       ELSE 1 END AS BIGINT) AS n_frames
        |FROM documents ORDER BY media_id""".stripMargin,
  )
}
