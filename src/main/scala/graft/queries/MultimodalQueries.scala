package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Multimodal

/** Multimodal-column coverage: binary payloads + typed metadata, decode
  * stub via partition-local mapPartitions, resize arithmetic, frame
  * sampling plan. Metadata/plan arithmetic is integer/double-exact →
  * DuckDB oracles; the decode stub is validated through its invariant
  * (per-row feature histogram sums to 1 for nonempty payloads).
  */
object MultimodalQueries extends QuerySet {

  /** The deterministic 8×8 test raster shared by mm03/mm05: pixel
    * bytes are a closed-form function of (doc_id, position) that BOTH
    * oracles restate directly — change it in exactly one place.
    */
  private def testRaster(id: Long): Array[Byte] = {
    val w = 8; val h = 8
    val rgb = new Array[Byte](w * h * 3)
    var p = 0
    while (p < w * h) {
      rgb(p * 3) = ((id * 31 + p) % 256).toByte
      rgb(p * 3 + 1) = ((id * 37 + p) % 256).toByte
      rgb(p * 3 + 2) = ((id * 41 + p) % 256).toByte
      p += 1
    }
    graft.ops.Codecs.encodePpm(w, h, rgb)
  }

  private def testMedia(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id"))
      // CAP: fixture
      .filter(col("doc_id") < 100).as[Long]
      .map(id => (id, testRaster(id))).toDF("media_id", "bytes")
  }

  /** The mm03 pixel formula encoded as a REAL RGBA PNG (alpha is a
    * fourth closed-form plane the decoder must strip): exercises the
    * full `Codecs.encodePng` → chunk walk → CRC check → Inflater →
    * un-filter → alpha-drop path, against the same DuckDB closed form.
    */
  private def testPngMedia(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id"))
      // CAP: fixture
      .filter(col("doc_id") < 100).as[Long]
      .map { id =>
        val w = 8; val h = 8
        val rgba = new Array[Byte](w * h * 4)
        var p = 0
        while (p < w * h) {
          rgba(p * 4) = ((id * 31 + p) % 256).toByte
          rgba(p * 4 + 1) = ((id * 37 + p) % 256).toByte
          rgba(p * 4 + 2) = ((id * 41 + p) % 256).toByte
          rgba(p * 4 + 3) = ((id + p) % 256).toByte
          p += 1
        }
        (id, graft.ops.Codecs.encodePng(w, h, 4, rgba))
      }.toDF("media_id", "bytes")
  }

  /** The mm03 pixel formula carried as a REAL GIF87a: palette build,
    * true LZW compression (growing dictionary, width escalation),
    * sub-block framing — decoded back through the full LZW path.
    */
  private def testGifMedia(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id"))
      // CAP: fixture
      .filter(col("doc_id") < 100).as[Long]
      .map(id => {
        val w = 8; val h = 8
        val rgb = new Array[Byte](w * h * 3)
        var p = 0
        while (p < w * h) {
          rgb(p * 3) = ((id * 31 + p) % 256).toByte
          rgb(p * 3 + 1) = ((id * 37 + p) % 256).toByte
          rgb(p * 3 + 2) = ((id * 41 + p) % 256).toByte
          p += 1
        }
        (id, graft.ops.Codecs.encodeGif(w, h, rgb))
      }).toDF("media_id", "bytes")
  }

  /** 16×16 grayscale rasters, CONSTANT on each aligned 8×8 tile with
    * even values, carried as REAL baseline JPEG at quality 50: every
    * block quantizes to a DC-only spectrum whose level-shifted value
    * is a multiple of qDC = 16, so the LOSSY codec is exact on
    * exactly this family — the closed form survives the full
    * DCT → quant → Huffman → parse → dequant → IDCT pipeline
    * bit-for-bit (arbitrary-raster error is bounded in
    * PipelineOpsSpec instead, where exactness is impossible).
    */
  private def testJpegMedia(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id"))
      // CAP: fixture
      .filter(col("doc_id") < 100).as[Long]
      .map { id =>
        val w = 16; val h = 16
        val gray = new Array[Byte](w * h)
        var p = 0
        while (p < w * h) {
          val b = ((p / w) / 8) * 2 + (p % w) / 8
          gray(p) = (((id * 23 + b * 67) % 128) * 2).toByte
          p += 1
        }
        (id, graft.ops.Codecs.encodeJpegGray(w, h, gray, quality = 50))
      }.toDF("media_id", "bytes")
  }

  /** Animated GIFs as the VIDEO fixture: (id % 3 + 2) full-size 8×8
    * frames per file, per-frame pixel formula alternating on frame
    * parity (global palette stays ≤ 128 colors), one global color
    * table, independent LZW stream per frame.
    */
  private def testVideoMedia(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id"))
      // CAP: fixture
      .filter(col("doc_id") < 100).as[Long]
      .map { id =>
        val w = 8; val h = 8
        val nf = (id % 3).toInt + 2
        val frames = (0 until nf).map { f =>
          val rgb = new Array[Byte](w * h * 3)
          var p = 0
          while (p < w * h) {
            rgb(p * 3) = ((id * 31 + p + (f % 2) * 101) % 256).toByte
            rgb(p * 3 + 1) = ((id * 37 + p + (f % 2) * 59) % 256).toByte
            rgb(p * 3 + 2) = ((id * 41 + p + (f % 2) * 29) % 256).toByte
            p += 1
          }
          rgb
        }
        (id, graft.ops.Codecs.encodeGifFrames(w, h, frames))
      }.toDF("media_id", "bytes")
  }

  /** 18×16 rasters for the dHash near-dup query: pixels are a
    * closed-form function of (base id, position); ids ≥ 100000 are
    * TWINS of `id − 100000` with the top-left 2×2 block's blue channel
    * +2 — a sub-pooling-cell edit a byte hash misses and a perceptual
    * hash must survive. Blue's base range is capped at 249 so the +2
    * can never wrap. The oracle restates this formula verbatim.
    */
  private def nearDupRaster(id: Long): Array[Byte] = {
    val w = 18; val h = 16
    val b0 = id % 100000
    val twin = id >= 100000
    val rgb = new Array[Byte](w * h * 3)
    var py = 0
    while (py < h) {
      var px = 0
      while (px < w) {
        val i = (py * w + px) * 3
        rgb(i) = ((b0 * 31 + px * 7 + py * 13) % 256).toByte
        rgb(i + 1) = ((b0 * 37 + px * 11 + py * 3) % 256).toByte
        val base = (b0 * 41 + px * 5 + py * 17) % 250
        rgb(i + 2) =
          (base + (if (twin && px < 2 && py < 2) 2 else 0)).toByte
        px += 1
      }
      py += 1
    }
    graft.ops.Codecs.encodePpm(w, h, rgb)
  }

  private def nearDupMedia(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.documents(s, d).select(col("doc_id"))
      // CAP: fixture
      .filter(col("doc_id") < 100).as[Long]
    val twins = Tables.documents(s, d).select(col("doc_id"))
      // CAP: fixture
      .filter(col("doc_id") < 50).as[Long].map(_ + 100000L)
    base.union(twins).map(id => (id, nearDupRaster(id)))
      .toDF("media_id", "bytes")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Image near-dup via 64-bit dHash + the SAME banded Hamming join
    // text SimHash rides: 150 real PPM payloads (100 bases, 50
    // perturbed twins) decode → pool 2× → 9×8 luma → dHash, pairs at
    // Hamming ≤ 3 via 4×16-bit band buckets. Integer-exact
    // end-to-end, so DuckDB replays pixels, pooling, luma, every hash
    // bit, the band join AND the popcount verify.
    "mm17_dhash_neardup" -> ((s, d) => {
      // persist the signatures: capBuckets' eager hot-key probe and
      // the banded self-join would otherwise each re-run the whole
      // decode→pool→hash pipeline (the dominant cost at scale) —
      // the simhashNearDupsCached discipline
      val signed = Multimodal.dhashImages(nearDupMedia(s, d),
        poolFactor = 2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.ops.Dedup.hammingNearDups64Cached(signed, maxHamming = 3).df
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Audio near-dup via the 64-bit window fingerprint + the same
    // banded Hamming join (one near-dup engine, three modalities):
    // 150 payloads — 100 base signals, 50 amplitude-perturbed twins —
    // encoded WAV for even ids and FLAC for odd (lossless, same PCM),
    // so twins pair ACROSS containers and the whole decode → windows
    // → bits → bands → popcount chain sits on the oracle.
    "mm18_audio_fingerprint" -> ((s, d) => {
      import s.implicits._
      val base = Tables.documents(s, d).select(col("doc_id"))
        // CAP: fixture
        .filter(col("doc_id") < 100).as[Long]
      val twins = Tables.documents(s, d).select(col("doc_id"))
        // CAP: fixture
        .filter(col("doc_id") < 50).as[Long].map(_ + 100000L)
      val media = base.union(twins).map { id =>
        val b0 = id % 100000
        val twin = id >= 100000
        // per-id sample step (7919 + (b0%101)*293 spans ~8k..37k vs the
        // 65530 modulus) makes window means wrap pseudo-randomly, so
        // distinct ids get decorrelated fingerprints; the 65530 cap
        // keeps the +3 twin bump away from Short overflow
        val step = 7919 + (b0 % 101) * 293
        val samples = Array.tabulate(260) { k =>
          val v = ((b0 * 104729 + k * step) % 65530) - 32768 +
            (if (twin && k < 4) 3 else 0)
          v.toShort
        }
        // twins take the OTHER container than their base (even-b0 base
        // = WAV, its twin = FLAC, and vice versa), so every planted
        // pair matches ACROSS containers — lossless PCM is the bridge
        val asWav = (b0 % 2 == 0) != twin
        val bytes =
          if (asWav) graft.ops.Codecs.encodeWavPcm16(16000, 1, samples)
          else graft.ops.Codecs.encodeFlac(16000, 1, samples)
        (id, bytes)
      }.toDF("media_id", "bytes")
      val signed = Multimodal.audioFingerprint(media, windowSize = 4)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.ops.Dedup.hammingNearDups64Cached(signed, maxHamming = 3).df
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Streaming perceptual image dedup (§2.6 × mm17): payloads stream
    // in REPLAYED (at-least-once, st04's union shape) plus the 50
    // perturbed twins; dHash computes scan-locally INSIDE the stream
    // (stateless mapPartitions decode), dropDuplicates on the hash is
    // the stateful exactly-once collapse, and the surviving distinct
    // fingerprints must equal the batch pipeline's — replay never
    // double-counts, twins collapse onto their bases.
    "st17_stream_image_dedup" -> ((s, d) => {
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      Tables.drain(s, "st17_img_dedup_sink", "complete") { c =>
        import c.implicits._
        def ids = c.readStream.schema(schema)
          .option("pathGlobFilter", "documents.parquet").parquet(d)
          // CAP: fixture
          .filter(col("doc_id") < 100).select(col("doc_id")).as[Long]
        val media = ids.union(ids)
          .flatMap { id =>
            val base = Seq((id, nearDupRaster(id)))
            if (id < 50) base :+ ((id + 100000L, nearDupRaster(id + 100000L)))
            else base
          }.toDF("media_id", "bytes")
        Multimodal.dhashImages(media, poolFactor = 2)
          .dropDuplicates("sim")
          .groupBy()
          .agg(count(lit(1)).as("n_unique"),
            expr("bit_xor(sim)").as("hash_xor"),
            min(col("sim")).as("hash_min"), max(col("sim")).as("hash_max"))
      }
    }),

    "mm01_decode_resize" -> ((s, d) => {
      val media = Multimodal.fromDocuments(Tables.documents(s, d))
      val resized = Multimodal.withResizedDims(media, 256, 256)
      val decoded = Multimodal.decodeFeatures(media, dim = 32).toDF()
        .withColumn("rowsum",
          aggregate(col("features"), lit(0.0), (a, x) => a + x.cast("double")))
        .select(col("media_id"),
          (abs(col("rowsum") - 1.0) < 0.01).cast("int").as("decoded_ok"))
      resized.join(decoded, "media_id")
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n"),
          sum(col("out_width")).as("sum_w"),
          sum(col("out_height")).as("sum_h"),
          sum(col("decoded_ok")).as("n_decoded"))
        .orderBy(col("kind"))
    }),

    "mm02_frame_plan" -> ((s, d) => {
      val media = Multimodal.fromDocuments(Tables.documents(s, d))
      Multimodal.frameSamplePlan(media, stride = 2, maxFrames = 8)
        .agg(countDistinct(col("media_id")).as("n_media"),
          count(lit(1)).as("n_frames"),
          max(col("frame_idx")).as("max_idx"))
    }),

    // REAL image codec round trip: deterministic 8×8 RGB rasters
    // (pixel bytes are a closed-form function of doc_id and position)
    // encode to actual binary PPM, decode through Codecs.decodePpm,
    // and the integer channel sums must equal the closed form the
    // oracle computes directly — the encode and decode errors cannot
    // cancel because the header (dims) is checked too.
    "mm03_image_roundtrip" -> ((s, d) =>
      Multimodal.decodeImageStats(testMedia(s, d))
        .orderBy(col("media_id"))),

    // REAL pixel resize: the mm03 rasters decode, average-pool 8×8→4×4
    // (floor arithmetic), re-encode, decode AGAIN, and the pooled
    // channel sums must equal the closed form DuckDB computes by
    // grouping the pixel formula into 2×2 blocks — two full codec
    // round trips plus the pooling kernel, all integer-exact.
    "mm05_image_resize" -> ((s, d) =>
      Multimodal.decodeImageStats(
        Multimodal.resizePixels(testMedia(s, d), 2))
        .orderBy(col("media_id"))),

    // REAL PNG codec round trip: the mm03 rasters carried as 8-bit
    // RGBA PNG — signature, CRC-verified chunk walk, JDK-Inflater
    // decompress, filter reconstruction, alpha drop — and the decoded
    // channel sums must equal the same closed form DuckDB computes.
    // The encode and decode cannot share a bug: the encoder writes
    // filter-0 scanlines only, while the decoder is exercised on all
    // five filter types in PipelineOpsSpec.
    "mm06_png_roundtrip" -> ((s, d) =>
      Multimodal.decodeImageStats(testPngMedia(s, d))
        .orderBy(col("media_id"))),

    // REAL PNG resize: PNG in → decode → 2×2 average-pool → re-encode
    // as PNG (container preserved) → decode again → pooled channel
    // sums vs the mm05 closed form. Two full PNG round trips.
    "mm07_png_resize" -> ((s, d) =>
      Multimodal.decodeImageStats(
        Multimodal.resizePixels(testPngMedia(s, d), 2))
        .orderBy(col("media_id"))),

    // REAL COMPRESSED image codec round trip: the mm03 rasters as
    // actual GIF87a — palette + true LZW (the second compressed format
    // after FLAC whose losslessness lets an engine-independent oracle
    // state bit-exact expectations). Same closed form as mm03.
    "mm09_gif_roundtrip" -> ((s, d) =>
      Multimodal.decodeImageStats(testGifMedia(s, d))
        .orderBy(col("media_id"))),

    // REAL GIF resize: GIF in → LZW decode → 2×2 average-pool →
    // re-encode as GIF (container preserved) → decode again → pooled
    // channel sums vs the mm05 closed form. Two full LZW round trips.
    "mm10_gif_resize" -> ((s, d) =>
      Multimodal.decodeImageStats(
        Multimodal.resizePixels(testGifMedia(s, d), 2))
        .orderBy(col("media_id"))),

    // REAL LOSSY image codec, exact on its DC-stable family: baseline
    // JPEG round trip on 8×8-tile-constant grayscale (see
    // testJpegMedia) — entropy coding, marker walk, Huffman tables,
    // dequant and IDCT all on the oracle's hash-exact signal even
    // though JPEG in general cannot round-trip losslessly.
    "mm11_jpeg_roundtrip" -> ((s, d) =>
      Multimodal.decodeImageStats(testJpegMedia(s, d))
        .orderBy(col("media_id"))),

    // JPEG → decode → 2×2 average-pool → PPM re-encode → decode: the
    // lossy-in / lossless-out resize chain. Pooling within the
    // constant 8×8 tiles is exact (each 2×2 window sits inside one
    // tile), so the pooled closed form survives hash-exactly.
    "mm12_jpeg_resize" -> ((s, d) =>
      Multimodal.decodeImageStats(
        Multimodal.resizePixels(testJpegMedia(s, d), 2))
        .orderBy(col("media_id"))),

    // Per-channel histogram equalization over the PNG fixture: decode
    // → integer CDF mapping (OpenCV convention, floor div) → PPM
    // re-encode → stats; the oracle rebuilds each image's per-channel
    // histogram, CDF, and mapping from the pixel formula and sums the
    // equalized values — pure integers end to end.
    "mm15_equalize" -> ((s, d) =>
      Multimodal.decodeImageStats(
        Multimodal.equalizePixels(testPngMedia(s, d)))
        .orderBy(col("media_id"))),

    // REAL video-as-frames: animated GIF decode with stride sampling
    // ON DECODED PIXELS (mm02 samples descriptor metadata only) —
    // every 2nd frame, cap 4, per-frame exact channel sums vs the
    // per-(id, frame) closed form. The multi-image container, global
    // palette, and per-frame LZW streams all sit on the oracle signal.
    "mm13_video_frames" -> ((s, d) =>
      Multimodal.decodeFrameStats(testVideoMedia(s, d),
        stride = 2, maxFrames = 4)
        .orderBy(col("media_id"), col("frame_idx"))),

    // REAL audio codec round trip (the WAV twin of mm03): PCM-16
    // samples from a closed form, encoded as a real RIFF/WAVE payload,
    // decoded back; header fields and exact sample statistics checked.
    "mm04_audio_roundtrip" -> ((s, d) => {
      import s.implicits._
      val ids = Tables.documents(s, d).select(col("doc_id"))
        // CAP: fixture
        .filter(col("doc_id") < 100).as[Long]
      val media = ids.map { id =>
        val n = 64
        val samples = Array.tabulate(n)(k =>
          (((id * 7919 + k * 263) % 65536) - 32768).toShort)
        (id, graft.ops.Codecs.encodeWavPcm16(16000, 1, samples))
      }.toDF("media_id", "bytes")
      Multimodal.decodeAudioStats(media).orderBy(col("media_id"))
    }),

    // REAL audio resample: the mm04 WAV fixture decoded, average-
    // pooled 4:1 per channel (truncating division — JVM `/` and
    // DuckDB `//` agree toward zero on negative
    // samples), re-encoded at rate/4, decoded again — pooled sample
    // stats vs DuckDB grouping the closed form into 4-sample windows.
    "mm14_audio_resample" -> ((s, d) => {
      import s.implicits._
      val ids = Tables.documents(s, d).select(col("doc_id"))
        // CAP: fixture
        .filter(col("doc_id") < 100).as[Long]
      val media = ids.map { id =>
        val n = 64
        val samples = Array.tabulate(n)(k =>
          (((id * 7919 + k * 263) % 65536) - 32768).toShort)
        (id, graft.ops.Codecs.encodeWavPcm16(16000, 1, samples))
      }.toDF("media_id", "bytes")
      Multimodal.decodeAudioStats(
        Multimodal.resampleAudio(media, 4)).orderBy(col("media_id"))
    }),

    // REAL COMPRESSED codec round trip: the mm04 closed-form samples
    // carried as actual FLAC — fixed predictors, Rice residuals,
    // CRC-8/16 — through the full decoder (STREAMINFO walk, frame
    // parse, predictor reconstruction). FLAC is lossless, so the
    // decoded stats hash-match the SAME closed form; the compression
    // is real (the fixed-predictor stage strips the signal's linear
    // structure). This closes the "compressed formats are
    // container-bound" gap for the one compressed format whose
    // bit-exactness an engine-independent oracle can state.
    "mm08_flac_roundtrip" -> ((s, d) => {
      import s.implicits._
      val ids = Tables.documents(s, d).select(col("doc_id"))
        // CAP: fixture
        .filter(col("doc_id") < 100).as[Long]
      val media = ids.map { id =>
        val n = 64
        val samples = Array.tabulate(n)(k =>
          (((id * 7919 + k * 263) % 65536) - 32768).toShort)
        (id, graft.ops.Codecs.encodeFlac(16000, 1, samples))
      }.toDF("media_id", "bytes")
      Multimodal.decodeAudioStats(media).orderBy(col("media_id"))
    }),

    // COMPRESSED-audio-in resample: the mm08 FLAC fixture through the
    // full Rice/LPC decoder, then the mm14 pooling chain (truncating
    // division) and a WAV re-encode — FLAC losslessness means the
    // pooled closed form survives identically to the WAV-in case.
    "mm16_flac_resample" -> ((s, d) => {
      import s.implicits._
      val ids = Tables.documents(s, d).select(col("doc_id"))
        // CAP: fixture
        .filter(col("doc_id") < 100).as[Long]
      val media = ids.map { id =>
        val n = 64
        val samples = Array.tabulate(n)(k =>
          (((id * 7919 + k * 263) % 65536) - 32768).toShort)
        (id, graft.ops.Codecs.encodeFlac(16000, 1, samples))
      }.toDF("media_id", "bytes")
      Multimodal.decodeAudioStats(
        Multimodal.resampleAudio(media, 4)).orderBy(col("media_id"))
    })
  )

  private val kindSql =
    "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"

  /** hsum/hashes: pack a `bits(id, pos)` CTE into one signed BIGINT
    * per id (HUGEINT two's complement; `imgs(id, …)` supplies the full
    * id set so zero-bit payloads keep a row).
    */
  private val hashPackSql =
    """hsum AS (SELECT i.id,
                    COALESCE(SUM(1::HUGEINT << CAST(b.pos AS INT)),
                             0::HUGEINT) AS u
                  FROM imgs i LEFT JOIN bits b ON b.id = i.id
                  GROUP BY i.id),
         hashes AS (SELECT id,
                      CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
                                THEN u - 18446744073709551616::HUGEINT
                                ELSE u END AS BIGINT) AS h
                    FROM hsum)"""

  /** 4×16-bit band join + popcount verify over `hashes(id, h)` — the
    * SQL restatement of [[graft.ops.Dedup.hammingNearDups64Cached]].
    */
  private val bandPairSql =
    """bands AS (SELECT id, h, k,
                     (h >> CAST(k * 16 AS INT)) & 65535 AS chunk
                   FROM hashes,
                        (SELECT unnest(range(0, 4)) AS k) ks),
         cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                    a.h AS ha, b.h AS hb
                  FROM bands a JOIN bands b
                    ON a.k = b.k AND a.chunk = b.chunk AND a.id < b.id)
         SELECT id_a, id_b,
                CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
         FROM cand WHERE bit_count(xor(ha, hb)) <= 3
         ORDER BY id_a, id_b"""

  private val hammingTailSql = s"$hashPackSql,\n         $bandPairSql"

  private def dhashOracleSql: String = dhashWithTail(hammingTailSql)

  /** mm17's generator/pool/luma/bits prelude with a caller-chosen SQL
    * tail (mm17 appends the band-pair machinery; st17 appends a
    * distinct-hash collapse).
    */
  private def dhashWithTail(tail: String): String = {
    def px(chan: String, dx: Int, dy: Int): String = chan match {
      case "r" => s"((b0*31 + (2*x+$dx)*7 + (2*y+$dy)*13) % 256)"
      case "g" => s"((b0*37 + (2*x+$dx)*11 + (2*y+$dy)*3) % 256)"
      case _ =>
        s"(((b0*41 + (2*x+$dx)*5 + (2*y+$dy)*17) % 250)" +
          s" + (CASE WHEN twin = 1 AND (2*x+$dx) < 2 AND (2*y+$dy) < 2" +
          s" THEN 2 ELSE 0 END))"
    }
    def pooled(chan: String): String =
      s"((${px(chan, 0, 0)} + ${px(chan, 1, 0)} + ${px(chan, 0, 1)}" +
        s" + ${px(chan, 1, 1)}) // 4)"
    s"""WITH imgs AS (SELECT doc_id AS id, doc_id AS b0, 0 AS twin
                      FROM documents WHERE doc_id < 100
                      UNION ALL
                      SELECT doc_id + 100000, doc_id, 1
                      FROM documents WHERE doc_id < 50),
         cells AS (SELECT id, x, y,
                     ((77 * ${pooled("r")} + 150 * ${pooled("g")}
                       + 29 * ${pooled("b")}) // 256) AS gray
                   FROM imgs,
                        (SELECT unnest(range(0, 9)) AS x) xs,
                        (SELECT unnest(range(0, 8)) AS y) ys),
         bits AS (SELECT c1.id, (c1.y * 8 + c1.x) AS pos
                  FROM cells c1 JOIN cells c2
                    ON c2.id = c1.id AND c2.y = c1.y AND c2.x = c1.x + 1
                  WHERE c1.x < 8 AND c1.gray > c2.gray),
         $tail"""
  }

  def oracle: Map[String, String] = Map(
    "mm17_dhash_neardup" -> dhashOracleSql,
    // streaming must converge to the batch fingerprint set exactly:
    // same generator prelude, collapsed to distinct-hash stats
    "st17_stream_image_dedup" -> dhashWithTail(
      s"""$hashPackSql,
         dh AS (SELECT DISTINCT h FROM hashes)
         SELECT COUNT(*) AS n_unique,
                CAST(bit_xor(h) AS BIGINT) AS hash_xor,
                MIN(h) AS hash_min, MAX(h) AS hash_max
         FROM dh"""),
    // the audio twin: same id layout, same banded tail; the PCM closed
    // form mirrors the fixture (65530 cap keeps the twin bump away
    // from Short overflow), window means of 4 via `//` — which
    // TRUNCATES toward zero in DuckDB, matching the Scala side's
    // JVM division (NOT floorDiv) on negative sums
    "mm18_audio_fingerprint" ->
      s"""WITH imgs AS (SELECT doc_id AS id, doc_id AS b0, 0 AS twin
                        FROM documents WHERE doc_id < 100
                        UNION ALL
                        SELECT doc_id + 100000, doc_id, 1
                        FROM documents WHERE doc_id < 50),
         sm AS (SELECT id, r.range AS k,
                  ((b0 * 104729
                    + r.range * (7919 + (b0 % 101) * 293)) % 65530
                   - 32768
                   + CASE WHEN twin = 1 AND r.range < 4
                          THEN 3 ELSE 0 END) AS s
                FROM imgs CROSS JOIN range(0, 260) r),
         w AS (SELECT id, k // 4 AS wi,
                 CAST(SUM(s) AS BIGINT) // 4 AS m
               FROM sm GROUP BY 1, 2),
         bits AS (SELECT w1.id, w1.wi AS pos
                  FROM w w1 JOIN w w2
                    ON w2.id = w1.id AND w2.wi = w1.wi + 1
                  WHERE w1.wi < 64 AND w1.m > w2.m),
         $hammingTailSql""",
    "mm01_decode_resize" ->
      s"""WITH m AS (
            SELECT $kindSql AS kind,
              CAST(n_chars % 640 + 16 AS INT) AS w,
              CAST(n_chars % 480 + 16 AS INT) AS h,
              CASE WHEN LENGTH(text) > 0 THEN 1 ELSE 0 END AS decoded_ok
            FROM documents),
          r AS (
            SELECT kind, decoded_ok,
              GREATEST(CAST(FLOOR(w * LEAST(256.0 / w, 256.0 / h, 1.0)) AS INT), 1) AS ow,
              GREATEST(CAST(FLOOR(h * LEAST(256.0 / w, 256.0 / h, 1.0)) AS INT), 1) AS oh
            FROM m)
          SELECT kind, COUNT(*) AS n,
            CAST(SUM(ow) AS BIGINT) AS sum_w,
            CAST(SUM(oh) AS BIGINT) AS sum_h,
            CAST(SUM(decoded_ok) AS BIGINT) AS n_decoded
          FROM r GROUP BY kind ORDER BY kind""",
    "mm02_frame_plan" ->
      s"""SELECT COUNT(*) AS n_media,
            CAST(SUM(LEAST((nf + 1) // 2, 8)) AS BIGINT) AS n_frames,
            CAST(MAX(LEAST((nf + 1) // 2, 8) * 2 - 2) AS INT) AS max_idx
          FROM (SELECT CAST(n_chars % 30 + 1 AS INT) AS nf
                FROM documents WHERE doc_id % 3 = 2)""",
    "mm11_jpeg_roundtrip" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents
                      WHERE doc_id < 100),
         bl AS (SELECT id, r.range AS b
                FROM ids CROSS JOIN range(0, 4) r),
         s AS (SELECT id,
                 SUM(((id * 23 + b * 67) % 128) * 2 * 64) AS v
               FROM bl GROUP BY id)
         SELECT id AS media_id,
                CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
                CAST(v AS BIGINT) AS r_sum,
                CAST(v AS BIGINT) AS g_sum,
                CAST(v AS BIGINT) AS b_sum
         FROM s ORDER BY media_id""",
    "mm12_jpeg_resize" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents
                      WHERE doc_id < 100),
         bl AS (SELECT id, r.range AS b
                FROM ids CROSS JOIN range(0, 4) r),
         s AS (SELECT id,
                 SUM(((id * 23 + b * 67) % 128) * 2 * 16) AS v
               FROM bl GROUP BY id)
         SELECT id AS media_id,
                CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
                CAST(v AS BIGINT) AS r_sum,
                CAST(v AS BIGINT) AS g_sum,
                CAST(v AS BIGINT) AS b_sum
         FROM s ORDER BY media_id""",
    "mm15_equalize" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents
                      WHERE doc_id < 100),
         px AS (SELECT id, r.range AS p
                FROM ids CROSS JOIN range(0, 64) r),
         lf AS (
           SELECT id, 'r' AS ch, (id * 31 + p) % 256 AS v FROM px
           UNION ALL SELECT id, 'g', (id * 37 + p) % 256 FROM px
           UNION ALL SELECT id, 'b', (id * 41 + p) % 256 FROM px),
         h AS (SELECT id, ch, v, COUNT(*) AS cnt FROM lf GROUP BY 1, 2, 3),
         hc AS (SELECT id, ch, v, cnt,
                  SUM(cnt) OVER (PARTITION BY id, ch ORDER BY v) AS cdf
                FROM h),
         mn AS (SELECT id, ch, MIN(cdf) AS cdfmin FROM hc GROUP BY 1, 2),
         eq AS (SELECT hc.id, hc.ch, hc.cnt,
                  CASE WHEN 64 = mn.cdfmin THEN 0
                       ELSE ((hc.cdf - mn.cdfmin) * 255)
                            // (64 - mn.cdfmin) END AS e
                FROM hc JOIN mn
                  ON hc.id = mn.id AND hc.ch = mn.ch)
         SELECT id AS media_id,
                CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
                CAST(SUM(CASE WHEN ch = 'r' THEN cnt * e END) AS BIGINT)
                  AS r_sum,
                CAST(SUM(CASE WHEN ch = 'g' THEN cnt * e END) AS BIGINT)
                  AS g_sum,
                CAST(SUM(CASE WHEN ch = 'b' THEN cnt * e END) AS BIGINT)
                  AS b_sum
         FROM eq GROUP BY id ORDER BY media_id""",
    "mm13_video_frames" ->
      """WITH ids AS (SELECT doc_id AS id, doc_id % 3 + 2 AS nf
                      FROM documents WHERE doc_id < 100),
         fr AS (SELECT id, f.range AS f
                FROM ids CROSS JOIN range(0, 4) f
                WHERE f.range < nf AND f.range % 2 = 0
                  AND f.range // 2 < 4),
         px AS (SELECT id, f, r.range AS p
                FROM fr CROSS JOIN range(0, 64) r)
         SELECT id AS media_id, CAST(f AS INT) AS frame_idx,
                CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
                CAST(SUM((id * 31 + p + (f % 2) * 101) % 256) AS BIGINT)
                  AS r_sum,
                CAST(SUM((id * 37 + p + (f % 2) * 59) % 256) AS BIGINT)
                  AS g_sum,
                CAST(SUM((id * 41 + p + (f % 2) * 29) % 256) AS BIGINT)
                  AS b_sum
         FROM px GROUP BY id, f ORDER BY media_id, frame_idx""",
    "mm03_image_roundtrip" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents
                      WHERE doc_id < 100),
         px AS (SELECT id, r.range AS p
                FROM ids CROSS JOIN range(0, 64) r)
         SELECT id AS media_id,
                CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
                CAST(SUM((id * 31 + p) % 256) AS BIGINT) AS r_sum,
                CAST(SUM((id * 37 + p) % 256) AS BIGINT) AS g_sum,
                CAST(SUM((id * 41 + p) % 256) AS BIGINT) AS b_sum
         FROM px GROUP BY id ORDER BY media_id""",
    "mm05_image_resize" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents
                      WHERE doc_id < 100),
         px AS (SELECT id, r.range AS p
                FROM ids CROSS JOIN range(0, 64) r),
         pooled AS (SELECT id, (p // 8) // 2 AS py, (p % 8) // 2 AS qx,
                      SUM((id * 31 + p) % 256) // 4 AS pr,
                      SUM((id * 37 + p) % 256) // 4 AS pg,
                      SUM((id * 41 + p) % 256) // 4 AS pb
                    FROM px GROUP BY 1, 2, 3)
         SELECT id AS media_id,
                CAST(4 AS INT) AS width, CAST(4 AS INT) AS height,
                CAST(SUM(pr) AS BIGINT) AS r_sum,
                CAST(SUM(pg) AS BIGINT) AS g_sum,
                CAST(SUM(pb) AS BIGINT) AS b_sum
         FROM pooled GROUP BY id ORDER BY media_id""",
    "mm06_png_roundtrip" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents
                      WHERE doc_id < 100),
         px AS (SELECT id, r.range AS p
                FROM ids CROSS JOIN range(0, 64) r)
         SELECT id AS media_id,
                CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
                CAST(SUM((id * 31 + p) % 256) AS BIGINT) AS r_sum,
                CAST(SUM((id * 37 + p) % 256) AS BIGINT) AS g_sum,
                CAST(SUM((id * 41 + p) % 256) AS BIGINT) AS b_sum
         FROM px GROUP BY id ORDER BY media_id""",
    "mm07_png_resize" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents
                      WHERE doc_id < 100),
         px AS (SELECT id, r.range AS p
                FROM ids CROSS JOIN range(0, 64) r),
         pooled AS (SELECT id, (p // 8) // 2 AS py, (p % 8) // 2 AS qx,
                      SUM((id * 31 + p) % 256) // 4 AS pr,
                      SUM((id * 37 + p) % 256) // 4 AS pg,
                      SUM((id * 41 + p) % 256) // 4 AS pb
                    FROM px GROUP BY 1, 2, 3)
         SELECT id AS media_id,
                CAST(4 AS INT) AS width, CAST(4 AS INT) AS height,
                CAST(SUM(pr) AS BIGINT) AS r_sum,
                CAST(SUM(pg) AS BIGINT) AS g_sum,
                CAST(SUM(pb) AS BIGINT) AS b_sum
         FROM pooled GROUP BY id ORDER BY media_id""",
    "mm09_gif_roundtrip" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents
                      WHERE doc_id < 100),
         px AS (SELECT id, r.range AS p
                FROM ids CROSS JOIN range(0, 64) r)
         SELECT id AS media_id,
                CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
                CAST(SUM((id * 31 + p) % 256) AS BIGINT) AS r_sum,
                CAST(SUM((id * 37 + p) % 256) AS BIGINT) AS g_sum,
                CAST(SUM((id * 41 + p) % 256) AS BIGINT) AS b_sum
         FROM px GROUP BY id ORDER BY media_id""",
    "mm10_gif_resize" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents
                      WHERE doc_id < 100),
         px AS (SELECT id, r.range AS p
                FROM ids CROSS JOIN range(0, 64) r),
         pooled AS (SELECT id, (p // 8) // 2 AS py, (p % 8) // 2 AS qx,
                      SUM((id * 31 + p) % 256) // 4 AS pr,
                      SUM((id * 37 + p) % 256) // 4 AS pg,
                      SUM((id * 41 + p) % 256) // 4 AS pb
                    FROM px GROUP BY 1, 2, 3)
         SELECT id AS media_id,
                CAST(4 AS INT) AS width, CAST(4 AS INT) AS height,
                CAST(SUM(pr) AS BIGINT) AS r_sum,
                CAST(SUM(pg) AS BIGINT) AS g_sum,
                CAST(SUM(pb) AS BIGINT) AS b_sum
         FROM pooled GROUP BY id ORDER BY media_id""",
    "mm04_audio_roundtrip" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents
                      WHERE doc_id < 100),
         sm AS (SELECT id, (id * 7919 + r.range * 263) % 65536 - 32768
                  AS s
                FROM ids CROSS JOIN range(0, 64) r)
         SELECT id AS media_id,
                CAST(16000 AS INT) AS sample_rate,
                CAST(1 AS INT) AS channels,
                CAST(64 AS INT) AS n_samples,
                CAST(SUM(s) AS BIGINT) AS sum_samples,
                CAST(MIN(s) AS INT) AS min_sample,
                CAST(MAX(s) AS INT) AS max_sample
         FROM sm GROUP BY id ORDER BY media_id""",
    // FLAC in, same pooled closed form out (lossless front end)
    "mm16_flac_resample" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents
                      WHERE doc_id < 100),
         sm AS (SELECT id, r.range AS k,
                  (id * 7919 + r.range * 263) % 65536 - 32768 AS s
                FROM ids CROSS JOIN range(0, 64) r),
         g AS (SELECT id, k // 4 AS j, CAST(SUM(s) AS BIGINT) AS s4
               FROM sm GROUP BY 1, 2),
         p AS (SELECT id, j, s4 // 4 AS ps FROM g)
         SELECT id AS media_id,
                CAST(4000 AS INT) AS sample_rate,
                CAST(1 AS INT) AS channels,
                CAST(16 AS INT) AS n_samples,
                CAST(SUM(ps) AS BIGINT) AS sum_samples,
                CAST(MIN(ps) AS INT) AS min_sample,
                CAST(MAX(ps) AS INT) AS max_sample
         FROM p GROUP BY id ORDER BY media_id""",
    "mm14_audio_resample" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents
                      WHERE doc_id < 100),
         sm AS (SELECT id, r.range AS k,
                  (id * 7919 + r.range * 263) % 65536 - 32768 AS s
                FROM ids CROSS JOIN range(0, 64) r),
         g AS (SELECT id, k // 4 AS j, CAST(SUM(s) AS BIGINT) AS s4
               FROM sm GROUP BY 1, 2),
         p AS (SELECT id, j, s4 // 4 AS ps FROM g)
         SELECT id AS media_id,
                CAST(4000 AS INT) AS sample_rate,
                CAST(1 AS INT) AS channels,
                CAST(16 AS INT) AS n_samples,
                CAST(SUM(ps) AS BIGINT) AS sum_samples,
                CAST(MIN(ps) AS INT) AS min_sample,
                CAST(MAX(ps) AS INT) AS max_sample
         FROM p GROUP BY id ORDER BY media_id""",
    // lossless compression: the FLAC round trip must reproduce the
    // EXACT closed form the WAV twin states
    "mm08_flac_roundtrip" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents
                      WHERE doc_id < 100),
         sm AS (SELECT id, (id * 7919 + r.range * 263) % 65536 - 32768
                  AS s
                FROM ids CROSS JOIN range(0, 64) r)
         SELECT id AS media_id,
                CAST(16000 AS INT) AS sample_rate,
                CAST(1 AS INT) AS channels,
                CAST(64 AS INT) AS n_samples,
                CAST(SUM(s) AS BIGINT) AS sum_samples,
                CAST(MIN(s) AS INT) AS min_sample,
                CAST(MAX(s) AS INT) AS max_sample
         FROM sm GROUP BY id ORDER BY media_id"""
  )
}
