package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Multimodal

/** Multimodal-plumbing queries: documents' text bytes stand in for media
  * payloads (ASCII, so DuckDB `length(text)`/`ascii()` can mirror the byte
  * arithmetic of the stub codec exactly). The Spark side runs the REAL
  * typed pipeline — binary column → `mapPartitions` decode →
  * `flatMap` frame explode — and only the codec math is fake.
  */
object MultimodalQueries {

  /** Media corpus: every doc becomes one payload, kind cycling
    * image/audio/video by `doc_id`.
    */
  def media(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(
      col("doc_id").as("media_id"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio")
        .otherwise("video").as("kind"),
      col("text").cast("binary").as("content"))

  private val mediaSql =
    """m AS (
      |  SELECT doc_id AS media_id,
      |         CASE WHEN doc_id % 3 = 0 THEN 'image'
      |              WHEN doc_id % 3 = 1 THEN 'audio'
      |              ELSE 'video' END AS kind,
      |         length(text) AS len,
      |         ascii(substr(text, 1, 1)) AS lead
      |  FROM documents),
      |f AS (
      |  SELECT media_id, kind, len AS byte_len, len % 640 AS width,
      |         (len // 640) % 480 + 1 AS height,
      |         CASE WHEN kind = 'video' THEN len // 100 + 1 ELSE 1 END AS n_frames,
      |         lead AS lead_byte
      |  FROM m)""".stripMargin

  /** M1 — decode features per kind (the mapPartitions stage end-to-end). */
  def mediaFeatures(spark: SparkSession, sfDir: String): DataFrame =
    Multimodal.decodeFeatures(Multimodal.asMedia(media(spark, sfDir)))
      .groupBy("kind")
      .agg(count(lit(1)).as("n_media"), sum(col("byte_len")).as("total_bytes"),
        sum(col("width")).as("sum_width"), sum(col("n_frames")).as("sum_frames"),
        min(col("lead_byte")).as("min_lead"), max(col("lead_byte")).as("max_lead"))

  val mediaFeaturesSql: String =
    s"""WITH $mediaSql
       |SELECT kind, COUNT(*) AS n_media,
       |       CAST(SUM(byte_len) AS BIGINT) AS total_bytes,
       |       CAST(SUM(width) AS BIGINT) AS sum_width,
       |       CAST(SUM(n_frames) AS BIGINT) AS sum_frames,
       |       MIN(lead_byte) AS min_lead, MAX(lead_byte) AS max_lead
       |FROM f GROUP BY 1""".stripMargin

  /** M2 — frame sampling (the flatMap explode stage): every 3rd frame. */
  def frameSample(spark: SparkSession, sfDir: String): DataFrame =
    Multimodal.sampleFrames(
      Multimodal.decodeFeatures(Multimodal.asMedia(media(spark, sfDir))), stride = 3)
      .groupBy("kind")
      .agg(count(lit(1)).as("n_sampled"), max(col("frame_idx")).as("max_frame_idx"))

  val frameSampleSql: String =
    s"""WITH $mediaSql
       |SELECT kind, CAST(SUM((n_frames + 2) // 3) AS BIGINT) AS n_sampled,
       |       MAX(((n_frames - 1) // 3) * 3) AS max_frame_idx
       |FROM f GROUP BY 1""".stripMargin

  /** M3 — REAL resize end-to-end: deterministic synthetic PNGs (dims
    * derived from doc_id, solid fill — real encoded pixels, not stub
    * arithmetic) are Java2D-resized to fit 64 px and the RESIZED bytes are
    * decoded again; the output dims come from real pixels while the oracle
    * predicts them with the same integer formula
    * (`max(1, side·64 div longSide)`). A wrong-size scale, a corrupt PNG
    * re-encode, or a decode failure all change the output rows.
    */
  def resized(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // Decode/encode work is CPU-bound per payload, so its parallelism must
    // not inherit the scan's granularity (a single small parquet file = one
    // row group = one task doing ALL the pixel work). Spreading the 8-byte
    // ids is a negligible shuffle; on a cluster this is exactly how a media
    // pipeline fans out a manifest of large objects before fetching them.
    val pngs = Tables.documents(spark, sfDir)
      .select(col("doc_id")).filter(col("doc_id") % 3 === 0)
      .as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { ids =>
        ids.map { id =>
          val w = 20 + (id % 80).toInt
          val h = 15 + (id % 60).toInt
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = img.createGraphics()
          g.setColor(new java.awt.Color((id % 255).toInt, 128, 64))
          g.fillRect(0, 0, w, h)
          g.dispose()
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          (id, "image", bos.toByteArray)
        }
      }.toDF("media_id", "kind", "content")
    Multimodal.resizeStage(Multimodal.asMedia(pngs), maxSide = 64)
      .select("media_id", "orig_w", "orig_h", "new_w", "new_h")
  }

  val resizedSql: String =
    """WITH d AS (
      |  SELECT doc_id AS media_id,
      |         CAST(20 + doc_id % 80 AS INT) AS w,
      |         CAST(15 + doc_id % 60 AS INT) AS h
      |  FROM documents WHERE doc_id % 3 = 0)
      |SELECT media_id, w AS orig_w, h AS orig_h,
      |       CASE WHEN greatest(w, h) <= 64 THEN w
      |            ELSE greatest(1, (w * 64) // greatest(w, h)) END AS new_w,
      |       CASE WHEN greatest(w, h) <= 64 THEN h
      |            ELSE greatest(1, (h * 64) // greatest(w, h)) END AS new_h
      |FROM d""".stripMargin

  /** M4 — REAL MJPEG-in-AVI decode end-to-end: deterministic synthetic AVIs
    * (2-7 solid-gray JPEG frames each, dims and luma derived from doc_id) go
    * through the full container parse + per-frame ImageIO decode of
    * [[graft.ops.Multimodal.videoFrames]]. The output is one row per frame
    * with the REAL decoded dimensions and a `luma_ok` flag comparing the
    * decoded mean luma against the planted gray value (±2 — JPEG quantizes
    * the DC coefficient, so a solid tone round-trips to within ~1 level).
    * A container mis-parse drops frames (row-count mismatch); a pixel-decode
    * bug flips `luma_ok` (hash mismatch). The oracle predicts the structure
    * exactly.
    */
  /** The synthetic MJPEG-AVI corpus shared by m4/m6: per id, n solid-gray
    * frames whose luma walks `32 + 16·((id+i) % 12)` — so frame-to-frame
    * deltas are 16 everywhere EXCEPT the %12 wrap, where the jump is 176:
    * an analytically-predictable shot boundary. Manifest fan-out as in
    * m3: per-frame JPEG encode+decode dominates, so spread the ids across
    * all cores before the heavy stage.
    */
  private def syntheticAvis(spark: SparkSession, sfDir: String) = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(col("doc_id")).filter(col("doc_id") % 3 === 2)
      .as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { ids =>
        ids.map { id =>
          val n = 2 + (id % 6).toInt
          val w = 16 + (id % 4).toInt * 8
          val h = 16 + (id % 3).toInt * 8
          val frames = (0 until n).map { i =>
            val lum = 32 + 16 * ((id + i) % 12).toInt
            val img = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = img.createGraphics()
            g.setColor(new java.awt.Color(lum, lum, lum))
            g.fillRect(0, 0, w, h)
            g.dispose()
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "jpg", bos)
            bos.toByteArray
          }
          (id, "video", Multimodal.AviCodec.build(frames, w, h))
        }
      }.toDF("media_id", "kind", "content")
  }

  def videoFrameStats(spark: SparkSession, sfDir: String): DataFrame = {
    val avis = syntheticAvis(spark, sfDir)
    Multimodal.videoFrames(Multimodal.asMedia(avis)).toDF()
      .select(
        col("media_id"),
        col("frame_idx").cast("long").as("frame_idx"),
        col("frame_w"), col("frame_h"),
        (abs(col("mean_luma") -
          (lit(32) + lit(16) * ((col("media_id") + col("frame_idx")) % 12))) <= 2.0)
          .as("luma_ok"))
  }

  val videoFrameStatsSql: String =
    """WITH v AS (
      |  SELECT doc_id AS media_id,
      |         2 + doc_id % 6 AS n_frames,
      |         CAST(16 + (doc_id % 4) * 8 AS INT) AS frame_w,
      |         CAST(16 + (doc_id % 3) * 8 AS INT) AS frame_h
      |  FROM documents WHERE doc_id % 3 = 2)
      |SELECT media_id, unnest(range(n_frames)) AS frame_idx,
      |       frame_w, frame_h, TRUE AS luma_ok
      |FROM v""".stripMargin

  /** M6 — shot detection over the REAL frame decode
    * ([[graft.ops.Multimodal.shotBoundaries]]): the planted luma walk
    * jumps 176 levels exactly where `(media_id + frame_idx) % 12` wraps
    * to 0 and 16 levels everywhere else, so a threshold of 100 separates
    * cuts from motion with ±4 JPEG-quantization margin — the oracle
    * predicts the boundary set analytically, and only a REAL pixel
    * decode + per-video luma delta can reproduce it.
    */
  def shotDetect(spark: SparkSession, sfDir: String): DataFrame =
    Multimodal.shotBoundaries(
      Multimodal.videoFrames(Multimodal.asMedia(syntheticAvis(spark, sfDir))),
      threshold = 100.0)

  val shotDetectSql: String =
    """WITH v AS (
      |  SELECT doc_id AS media_id, 2 + doc_id % 6 AS n_frames
      |  FROM documents WHERE doc_id % 3 = 2),
      |f AS (SELECT media_id, unnest(range(1, n_frames)) AS frame_idx FROM v)
      |SELECT media_id, frame_idx FROM f
      |WHERE (media_id + frame_idx) % 12 = 0""".stripMargin

  /** M11 — per-shot keyframes ([[graft.ops.Multimodal.shotKeyframes]]):
    * m6's cut logic rolled into shots (running cut count) with each
    * shot's first frame as the keyframe — the thumbnail/sampling policy
    * every video pipeline applies after shot detection. Real decode on
    * the Spark side; the oracle replays the analytic cut walk and the
    * same running-count shot assignment.
    */
  def shotKeyframesQ(spark: SparkSession, sfDir: String): DataFrame =
    Multimodal.shotKeyframes(
      Multimodal.videoFrames(Multimodal.asMedia(syntheticAvis(spark, sfDir))),
      threshold = 100.0)

  val shotKeyframesSql: String =
    """WITH v AS (
      |  SELECT doc_id AS media_id, 2 + doc_id % 6 AS n_frames
      |  FROM documents WHERE doc_id % 3 = 2),
      |f AS (SELECT media_id, unnest(range(n_frames)) AS frame_idx FROM v),
      |s AS (
      |  SELECT media_id, frame_idx,
      |         CAST(SUM(CASE WHEN frame_idx >= 1 AND (media_id + frame_idx) % 12 = 0
      |                       THEN 1 ELSE 0 END)
      |              OVER (PARTITION BY media_id ORDER BY frame_idx
      |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |              AS BIGINT) AS shot_idx
      |  FROM f)
      |SELECT media_id, shot_idx, CAST(MIN(frame_idx) AS BIGINT) AS keyframe_idx,
      |       COUNT(*) AS n_frames
      |FROM s GROUP BY 1, 2""".stripMargin

  /** M7 — windowed audio features over a REAL (and lossless) PCM WAV
    * decode ([[graft.ops.Multimodal.audioWindowFeatures]]): each doc's
    * deterministic triangle wave round-trips through the canonical
    * 16-bit mono RIFF/WAVE container, and the decode pass folds every
    * 250-sample window into integer energy (Σx²) and zero-crossing
    * counts — the classic cheap voice/music/silence discriminators.
    * Because PCM is lossless (unlike m5's ADPCM), the oracle
    * re-synthesizes the SAME triangle in SQL integer arithmetic and
    * computes the same windowed sums — a full-strength hash grade of
    * container build, chunk-walk parse, sample iteration, window
    * framing, and boundary-crossing bookkeeping at once. Scale shape:
    * the fold happens inside the decode `mapPartitions` (O(1) memory
    * per payload, output = samples/window rows), zero shuffles.
    */
  def audioWindows(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val wavs = Tables.documents(spark, sfDir)
      .select(col("doc_id")).filter(col("doc_id") % 3 === 0)
      .as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { ids =>
        ids.map { id =>
          (id, "audio",
            Multimodal.PcmCodec.build(triWave(id), 8000 + (id % 4).toInt * 4000))
        }
      }.toDF("media_id", "kind", "content")
    Multimodal.audioWindowFeatures(Multimodal.asMedia(wavs), window = 250).toDF()
  }

  val audioWindowsSql: String =
    """WITH p AS (
      |  SELECT doc_id, 2000 + (doc_id % 7) * 500 AS n,
      |         64 + (doc_id % 5) * 16 AS period,
      |         4096 + (doc_id % 8) * 1024 AS amp
      |  FROM documents WHERE doc_id % 3 = 0),
      |s AS (SELECT doc_id, period, amp, UNNEST(range(n)) AS i FROM p),
      |v AS (SELECT doc_id, i,
      |             CASE WHEN (i % period) < period // 2
      |                  THEN -amp + (2 * amp * (i % period)) // (period // 2)
      |                  ELSE amp - (2 * amp * ((i % period) - period // 2)) // (period // 2)
      |             END AS x
      |      FROM s),
      |w AS (SELECT doc_id, i, x, i // 250 AS win,
      |             lag(x) OVER (PARTITION BY doc_id ORDER BY i) AS px
      |      FROM v)
      |SELECT doc_id AS media_id, win, COUNT(*) AS n_samples,
      |       CAST(SUM(x * x) AS BIGINT) AS energy,
      |       CAST(COUNT(*) FILTER (WHERE px IS NOT NULL AND ((x >= 0) != (px >= 0)))
      |            AS BIGINT) AS zero_crossings
      |FROM w GROUP BY 1, 2""".stripMargin

  /** M10 — energy-based activity segmentation (the VAD shape: detect
    * speech/sound bursts, merge consecutive active stretches into
    * segments): a burst-gated triangle corpus — per 250-sample window the
    * amplitude is full (`amp`) when `(win·37 + id) % 5 < 3` and
    * attenuated (`amp // 32`, POSITIVE division only, so Scala trunc and
    * DuckDB floor agree) otherwise — round-trips through the real PCM
    * container into [[graft.ops.Multimodal.audioWindowFeatures]]; windows
    * at energy ≥ 5·10⁷ (three decades above quiet, one below active) flag
    * active, and consecutive active windows merge by the gaps-and-islands
    * trick (`win − row_number`, integer-exact) into segments with
    * start/end/width/total energy. One media-keyed window shuffle after
    * the in-decode fold; everything integer, exact hash grade.
    */
  def audioSegments(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val wavs = Tables.documents(spark, sfDir)
      .select(col("doc_id")).filter(col("doc_id") % 3 === 1)
      .as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { ids =>
        ids.map { id =>
          (id, "audio",
            Multimodal.PcmCodec.build(gatedTriWave(id), 16000))
        }
      }.toDF("media_id", "kind", "content")
    val feats = Multimodal.audioWindowFeatures(Multimodal.asMedia(wavs),
      window = 250).toDF()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id").orderBy("win")
    feats.filter(col("energy") >= 50000000L)
      .withColumn("grp", col("win") - row_number().over(w))
      .groupBy("media_id", "grp")
      .agg(min("win").as("seg_start"), max("win").as("seg_end"),
        count(lit(1)).as("n_windows"),
        sum("energy").cast("long").as("total_energy"))
      .drop("grp")
  }

  val audioSegmentsSql: String =
    """WITH p AS (
      |  SELECT doc_id, 2000 + (doc_id % 7) * 500 AS n,
      |         64 + (doc_id % 5) * 16 AS period,
      |         4096 + (doc_id % 8) * 1024 AS amp
      |  FROM documents WHERE doc_id % 3 = 1),
      |s AS (SELECT doc_id, period, amp, UNNEST(range(n)) AS i FROM p),
      |g AS (SELECT doc_id, period, i,
      |             CASE WHEN ((i // 250) * 37 + doc_id) % 5 < 3 THEN amp
      |                  ELSE amp // 32 END AS wamp
      |      FROM s),
      |v AS (SELECT doc_id, i,
      |             CASE WHEN (i % period) < period // 2
      |                  THEN -wamp + (2 * wamp * (i % period)) // (period // 2)
      |                  ELSE wamp - (2 * wamp * ((i % period) - period // 2)) // (period // 2)
      |             END AS x
      |      FROM g),
      |w AS (SELECT doc_id AS media_id, i // 250 AS win,
      |             CAST(SUM(x * x) AS BIGINT) AS energy
      |      FROM v GROUP BY 1, 2),
      |act AS (SELECT media_id, win, energy,
      |               win - row_number() OVER (PARTITION BY media_id ORDER BY win) AS grp
      |        FROM w WHERE energy >= 50000000)
      |SELECT media_id, MIN(win) AS seg_start, MAX(win) AS seg_end,
      |       COUNT(*) AS n_windows, CAST(SUM(energy) AS BIGINT) AS total_energy
      |FROM act GROUP BY media_id, grp""".stripMargin

  /** [[triWave]] with a per-window burst gate: window `i div 250` plays at
    * full `amp` when `(win·37 + id) % 5 < 3`, else at `amp div 32` —
    * m10's planted activity pattern (all divisions positive, engine-safe).
    */
  private def gatedTriWave(id: Long): Array[Short] = {
    val n = 2000 + (id % 7).toInt * 500
    val period = 64 + (id % 5).toInt * 16
    val amp = 4096 + (id % 8).toInt * 1024
    val half = period / 2
    Array.tabulate(n) { i =>
      val win = i / 250
      val wamp = if ((win * 37 + id) % 5 < 3) amp else amp / 32
      val pos = i % period
      val v = if (pos < half) -wamp + (2 * wamp * pos) / half
              else wamp - (2 * wamp * (pos - half)) / half
      v.toShort
    }
  }

  /** Deterministic triangle PCM for one media id — the planted waveform of
    * m5 and the reference its fidelity check re-synthesizes (in SQL
    * arithmetic) to bound the codec's reconstruction error.
    */
  private def triWave(id: Long): Array[Short] = {
    val n = 2000 + (id % 7).toInt * 500
    val period = 64 + (id % 5).toInt * 16
    val amp = 4096 + (id % 8).toInt * 1024
    val half = period / 2
    Array.tabulate(n) { i =>
      val pos = i % period
      val v = if (pos < half) -amp + (2 * amp * pos) / half
              else amp - (2 * amp * (pos - half)) / half
      v.toShort
    }
  }

  /** M5 — REAL compressed-audio decode end-to-end: deterministic triangle
    * waveforms are IMA-ADPCM encoded (4:1, WAVE fmt 0x11 — a format the
    * stock JDK `AudioSystem` cannot read), then go through the full
    * container parse + nibble expansion of
    * [[graft.ops.Multimodal.decodeAdpcmAudio]]. The output carries the
    * exact format fields plus `err_ok`: the decoded PCM compared
    * element-wise (`zip_with`) against the same triangle re-synthesized in
    * SQL integer arithmetic, within the quantizer's adaptation error. A
    * framing bug drops rows; a quantizer bug blows the error bound. The
    * oracle predicts the structure exactly.
    */
  def adpcmAudio(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // same manifest fan-out as m3/m4: the encode is the CPU stage, spread
    // ids across all cores before it
    val wavs = Tables.documents(spark, sfDir)
      .select(col("doc_id")).filter(col("doc_id") % 3 === 1)
      .as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { ids =>
        ids.map { id =>
          (id, "audio", Multimodal.AdpcmCodec.build(triWave(id), 8000 + (id % 4).toInt * 4000))
        }
      }.toDF("media_id", "kind", "content")
    Multimodal.decodeAdpcmAudio(Multimodal.asMedia(wavs)).toDF()
      .withColumn("period", lit(64) + (col("media_id") % 5) * 16)
      .withColumn("amp", lit(4096) + (col("media_id") % 8) * 1024)
      .select(
        col("media_id"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("n_samples").cast("long").as("n_samples"),
        (expr(
          """array_max(zip_with(samples,
            |  transform(sequence(0L, n_samples - 1), i ->
            |    CASE WHEN (i % period) < (period DIV 2)
            |         THEN -amp + (2 * amp * (i % period)) DIV (period DIV 2)
            |         ELSE amp - (2 * amp * ((i % period) - (period DIV 2))) DIV (period DIV 2)
            |    END),
            |  (a, b) -> abs(a - b)))""".stripMargin) <= 512).as("err_ok"))
  }

  val adpcmAudioSql: String =
    """SELECT doc_id AS media_id,
      |       CAST(8000 + (doc_id % 4) * 4000 AS BIGINT) AS sample_rate,
      |       CAST(2000 + (doc_id % 7) * 500 AS BIGINT) AS n_samples,
      |       TRUE AS err_ok
      |FROM documents WHERE doc_id % 3 = 1""".stripMargin

  /** The synthetic gradient-PNG corpus shared by m8/d15: one 32×32
    * grayscale PNG per image id (doc_id ≡ 0 mod 3), luma
    * `(a·x + b·y + c) mod 256` with the sawtooth params drawn from the
    * PAIR id `doc_id div 6` — so ids `6k` and `6k+3` render the same
    * pattern, and the second member adds a bounded `+8` brightening to
    * its 4×4 top-left corner (`least(l+8, 255)` — no wraparound
    * impulse): a planted near-duplicate pair per `k`, the "same photo,
    * small edit" case image dedup exists for. Disparate sawtooths sit
    * near hamming ~31 (measured at sf0.01: the all-pairs mode is 30-35);
    * same-slope patterns at different offsets are diagonal TRANSLATES of
    * each other and often hash within a few bits — which is correct
    * pHash behavior, a translated gradient IS perceptually similar.
    * Manifest fan-out as in m3: PNG encode is the CPU stage, spread ids
    * across cores first.
    */
  private def gradientPngs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(col("doc_id")).filter(col("doc_id") % 3 === 0)
      .as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { ids =>
        ids.map(id =>
          (id, "image", gradientPngBytes(id / 6, ((id / 3) % 2).toInt)))
      }.toDF("media_id", "kind", "content")
  }

  /** Render one 32×32 gradient PNG for `(pid, variant)` — variant 0 is
    * the base sawtooth, 1 the `+8` corner edit (m8/d15's planted pair
    * member), 2 the `+16` corner edit (st9's arriving near-copies, a
    * slightly larger edit of the SAME pattern so ingest matching is
    * non-vacuous for both corpus members).
    */
  private def gradientPngBytes(pid: Long, variant: Int): Array[Byte] = {
    val a = 1 + (pid % 7).toInt
    val b = 2 + (pid % 5).toInt
    val c = ((pid * 37) % 256).toInt
    val n = Multimodal.PHashGrid
    val img = new java.awt.image.BufferedImage(n, n,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var x = 0
    while (x < n) {
      var y = 0
      while (y < n) {
        var l = (a * x + b * y + c) % 256
        if (variant >= 1 && x < 4 && y < 4) l = math.min(l + 8 * variant, 255)
        img.setRGB(x, y, (l << 16) | (l << 8) | l)
        y += 1
      }
      x += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** The analytic DuckDB replay of [[graft.ops.Multimodal.pHash64]] over
    * the planted gradient corpus, as a WITH-clause body ending in
    * `ph(doc_id, phash)`. The planted images are exactly 32×32, so the
    * downscale is the identity and the oracle computes luma per grid
    * cell directly; the DCT replays the same [[graft.ops.Multimodal.DctCos]]
    * integers (rendered as literals), the same lower-median rank, the
    * same bit layout — BIGINT arithmetic end-to-end, so the hash match
    * is exact, grading PNG encode, ImageIO decode, grid, DCT, median,
    * and bit packing at once.
    */
  private def phashCtes: String = phashCtesOver(
    """p AS (
      |  SELECT doc_id, doc_id // 6 AS pid, (doc_id // 3) % 2 AS variant
      |  FROM documents WHERE doc_id % 3 = 0)""".stripMargin)

  /** [[phashCtes]] over an arbitrary image-manifest CTE `p(doc_id, pid,
    * variant)` — st9 unions the corpus with its arriving variant-2
    * images through the same replay chain.
    */
  /** The p/pp/cells analytic luma replay shared by the m8/d15/st9 DCT
    * chain and m9's pixel statistics: `cells(doc_id, gx, gy, l)` holds the
    * exact integer luma of every pixel of the planted 32×32 corpus.
    */
  private def cellsCtesOver(pCte: String): String =
    s"""$pCte,
       |pp AS (
       |  SELECT doc_id, variant, 1 + pid % 7 AS a, 2 + pid % 5 AS b,
       |         (pid * 37) % 256 AS c
       |  FROM p),
       |cells AS (
       |  SELECT doc_id,
       |         CAST(gx AS BIGINT) AS gx, CAST(gy AS BIGINT) AS gy,
       |         CASE WHEN variant >= 1 AND gx < 4 AND gy < 4
       |              THEN least((a * gx + b * gy + c) % 256 + 8 * variant, 255)
       |              ELSE (a * gx + b * gy + c) % 256 END AS l
       |  FROM pp
       |  CROSS JOIN generate_series(0, 31) gxs(gx)
       |  CROSS JOIN generate_series(0, 31) gys(gy))""".stripMargin

  private def phashCtesOver(pCte: String): String =
    s"""${cellsCtesOver(pCte)},
       |ct AS (SELECT * FROM (VALUES ${Multimodal.dctCosSqlValues}) AS t(u, x, cv)),
       |dct AS (
       |  SELECT c.doc_id, cu.u AS u, cv2.u AS v,
       |         CAST(SUM(CAST(c.l AS BIGINT) * cu.cv * cv2.cv) AS BIGINT) AS coef
       |  FROM cells c
       |  JOIN ct cu ON cu.x = c.gx
       |  JOIN ct cv2 ON cv2.x = c.gy
       |  GROUP BY 1, 2, 3),
       |med AS (
       |  SELECT doc_id,
       |         list_sort(list(coef) FILTER (WHERE NOT (u = 0 AND v = 0)))[32] AS m
       |  FROM dct GROUP BY 1),
       |ph AS (
       |  SELECT d.doc_id,
       |         CAST(SUM(CASE WHEN NOT (d.u = 0 AND d.v = 0) AND d.coef > med.m
       |                       THEN (CAST(1 AS BIGINT) << (d.u * 8 + d.v - 1))
       |                       ELSE 0 END) AS BIGINT) AS phash
       |  FROM dct d JOIN med ON med.doc_id = d.doc_id
       |  GROUP BY 1)""".stripMargin

  /** M8 — perceptual image hash ([[graft.ops.Multimodal.pHashes]]): the
    * REAL PNG decode → integer pHash pipeline over the planted gradient
    * corpus; one `(media_id, phash)` row per image, hash-graded against
    * the full analytic DCT replay in DuckDB.
    */
  def phash(spark: SparkSession, sfDir: String): DataFrame =
    Multimodal.pHashes(Multimodal.asMedia(gradientPngs(spark, sfDir)))
      .toDF().select(col("media_id"), col("phash"))

  val phashSql: String =
    s"""WITH $phashCtes
       |SELECT doc_id AS media_id, phash FROM ph""".stripMargin

  /** M9 — per-image luma statistics ([[graft.ops.Multimodal.imageStats]]):
    * the image-corpus quality signals (exposure, flatness, clipping) over
    * the REAL PNG decode, all-Long arithmetic. The oracle replays the
    * identical pixel luma analytically (the shared `cells` CTE), so the
    * hash match grades decode + per-pixel luma + every statistic at once.
    */
  def imageStatsQ(spark: SparkSession, sfDir: String): DataFrame =
    Multimodal.imageStats(Multimodal.asMedia(gradientPngs(spark, sfDir)))
      .toDF().select(col("media_id"), col("n_px"), col("sum_l"), col("min_l"),
        col("max_l"), col("n_distinct_l"), col("n_dark"), col("n_bright"))

  val imageStatsSql: String =
    s"""WITH ${cellsCtesOver(
      """p AS (
        |  SELECT doc_id, doc_id // 6 AS pid, (doc_id // 3) % 2 AS variant
        |  FROM documents WHERE doc_id % 3 = 0)""".stripMargin)}
       |SELECT doc_id AS media_id, COUNT(*) AS n_px,
       |       CAST(SUM(l) AS BIGINT) AS sum_l,
       |       CAST(MIN(l) AS BIGINT) AS min_l,
       |       CAST(MAX(l) AS BIGINT) AS max_l,
       |       CAST(COUNT(DISTINCT l) AS BIGINT) AS n_distinct_l,
       |       CAST(SUM(CASE WHEN l < 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_dark,
       |       CAST(SUM(CASE WHEN l >= 192 THEN 1 ELSE 0 END) AS BIGINT) AS n_bright
       |FROM cells GROUP BY 1""".stripMargin

  /** D15 — image near-dup dedup: [[phash]]'s hashes through the same
    * pigeonhole-lossless hamming banding d3 uses
    * ([[graft.ops.Dedup.hammingNearDups]], 63 effective bits, 11 bands
    * for hamming ≤ 10), exact `bit_count(xor)` verify. Most planted
    * corner-edit pairs land within the bound (median hamming ~6; a few
    * whose coefficients cluster at the median flip more bits — honest
    * pHash sensitivity, not a defect), plus same-slope translated
    * gradients that genuinely hash close. The oracle scans all pairs
    * exhaustively over the same analytic hashes, so recall loss in the
    * banding (or a hash divergence) breaks the grade.
    */
  def imageNearDup(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Dedup.hammingNearDups(
      phash(spark, sfDir)
        .select(col("media_id").as("doc_id"), col("phash").as("simhash")),
      bits = 63, maxHamming = 10)

  val imageNearDupSql: String =
    s"""WITH $phashCtes
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |       CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
       |FROM ph a JOIN ph b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.phash, b.phash)) <= 10""".stripMargin

  /** C2 — the multimodal pipeline capstone: decode → pHash (m8) →
    * banded-hamming near-dup (d15) → keep-lowest-id per dup pair →
    * per-image luma statistics (m9) of the SURVIVORS only. The
    * keep-first rule drops any image appearing as the HIGHER id of a
    * near-dup pair (ids ordered inside the pair output, so the rule is
    * deterministic and single-pass — no transitive clustering needed for
    * an admission gate). Composition adds one broadcast-able anti-join
    * over the ≤|pairs| drop set; every stage keeps its own pinned
    * posture (decode-pass maps, band-keyed shuffles only).
    */
  def imagePipeline(spark: SparkSession, sfDir: String): DataFrame = {
    // materialize the rendered corpus ONCE: both the pHash branch and the
    // survivor-stats branch consume it, and without the boundary the
    // CPU-dominant PNG encode + ImageIO decode would run twice
    // (localCheckpoint, not persist — blocks free with the RDD reference)
    val corpus = Multimodal.asMedia(gradientPngs(spark, sfDir).localCheckpoint())
    val pairs = graft.ops.Dedup.hammingNearDups(
      Multimodal.pHashes(corpus).toDF()
        .select(col("media_id").as("doc_id"), col("phash").as("simhash")),
      bits = 63, maxHamming = 10)
    val drops = pairs.select(col("id_b").as("media_id")).distinct()
    Multimodal.imageStats(corpus).toDF()
      .join(drops, Seq("media_id"), "left_anti")
      .select(col("media_id"), col("n_px"), col("sum_l"), col("n_distinct_l"))
  }

  val imagePipelineSql: String =
    s"""WITH $phashCtes,
       |drops AS (
       |  SELECT DISTINCT b.doc_id AS media_id
       |  FROM ph a JOIN ph b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.phash, b.phash)) <= 10)
       |SELECT doc_id AS media_id, COUNT(*) AS n_px,
       |       CAST(SUM(l) AS BIGINT) AS sum_l,
       |       CAST(COUNT(DISTINCT l) AS BIGINT) AS n_distinct_l
       |FROM cells
       |WHERE doc_id NOT IN (SELECT media_id FROM drops)
       |GROUP BY 1""".stripMargin

  /** ST9 — streaming image-ingest dedup ([[graft.streaming.StreamPHash]]):
    * the corpus pHash table builds offline (batch m8 over the gradient
    * corpus, staged to parquet), then "arriving" images — variant-2
    * (+16 corner) edits of every corpus pattern, ids offset by 1e6 —
    * stream in two files → two micro-batches, each decoded, hashed, and
    * banded-hamming matched against the staged corpus bands. Output one
    * row per (arrival, corpus image) pair within hamming ≤ 10. Stateless
    * per-arrival answers are batch-split-invariant, so the oracle
    * replays the batch definition: analytic hashes for BOTH sides
    * through the same DCT chain, exhaustive cross-set scan.
    */
  def streamPhashDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val corpusHashPath = TarQueries.stagePath("st9_corpus_ph", sfDir)
    Staged("st9_corpus_ph", sfDir, Seq(corpusHashPath)) {
      phash(spark, sfDir)
        .select(col("media_id").as("doc_id"), col("phash").as("simhash"))
        .write.mode("overwrite").parquet(corpusHashPath)
    }
    val stream = Arrivals("st9_arrivals", sfDir) {
      import spark.implicits._
      val arrivals = Tables.documents(spark, sfDir)
        .select(col("doc_id")).filter(col("doc_id") % 3 === 0)
        .as[Long]
        .repartition(spark.sparkContext.defaultParallelism)
        .mapPartitions { ids =>
          ids.map(id => (id + 1000000L, "image", gradientPngBytes(id / 6, 2)))
        }.toDF("media_id", "kind", "content")
      // two files → two micro-batches, split on arrival-id parity
      Seq(arrivals.filter(col("media_id") % 2 === 0),
        arrivals.filter(col("media_id") % 2 === 1))
    }
    val out = s"${TarQueries.StageDir}/st9_matches.parquet"
    graft.io.FsOps.deletePrefix(spark, out)
    Arrivals.scratch { ckpt =>
      graft.streaming.StreamPHash.matchArrivals(stream,
        spark.read.parquet(corpusHashPath), bits = 63, maxHamming = 10,
        outDir = out, checkpointDir = ckpt)
    }
    if (graft.io.FsOps.exists(spark, out)) spark.read.parquet(out)
    else
      spark.range(0).select(col("id").as("batch_id"), col("id").as("corpus_id"),
        col("id").cast("int").as("hamming"))
  }

  val streamPhashDedupSql: String =
    s"""WITH ${phashCtesOver(
      """p AS (
        |  SELECT doc_id, doc_id // 6 AS pid, (doc_id // 3) % 2 AS variant
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, doc_id // 6, 2
        |  FROM documents WHERE doc_id % 3 = 0)""".stripMargin)}
       |SELECT a.doc_id AS batch_id, c.doc_id AS corpus_id,
       |       CAST(bit_count(xor(a.phash, c.phash)) AS INT) AS hamming
       |FROM ph a JOIN ph c ON a.doc_id >= 1000000 AND c.doc_id < 1000000
       |WHERE bit_count(xor(a.phash, c.phash)) <= 10""".stripMargin

  /** C4 — interleaved VLM sample packing (the LLaVA/Flamingo data-prep
    * step: one sample = a document's text tokens plus its image's ViT
    * patches, packed greedily into fixed context budgets WITHOUT
    * splitting a sample — an image cannot straddle two sequences).
    * Every 3rd doc carries an image whose dims derive from doc_id (the
    * m3 synthetic-dims convention); patches = ceil(w/14)·ceil(h/14)
    * (ViT-14 grid). Packing is greedy next-fit over doc_id order WITHIN
    * 64-doc shards — the real-pipeline shape: a global greedy pack is
    * inherently sequential (each bin boundary depends on every previous
    * remainder), so production packers pack within bounded shards. The
    * per-shard fold runs INSIDE one row via a codegen `aggregate()`
    * lambda over the collected (bounded, 64-element) item array — one
    * groupBy exchange in, one map-side-combining rollup out. The oracle
    * replays the same fold as a rank-recursive CTE.
    */
  def vlmPack(spark: SparkSession, sfDir: String): DataFrame = {
    val items = graft.Tables.documents(spark, sfDir).select(
      col("doc_id"),
      expr("doc_id div 64").as("shard"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"),
      when(col("doc_id") % 3 === 0,
        expr("((64 + (doc_id % 5) * 32 + 13) div 14) * ((64 + (doc_id % 7) * 16 + 13) div 14)"))
        .otherwise(0L).cast("long").as("n_patch"))
    val outType = "array<struct<seq: bigint, n_tok: bigint, n_patch: bigint>>"
    items.groupBy("shard")
      .agg(array_sort(collect_list(
        struct(col("doc_id"), col("n_tok"), col("n_patch")))).as("its"))
      .select(col("shard"), explode(expr(
        s"""aggregate(its,
           |  named_struct('seq', CAST(0 AS BIGINT), 'rem', CAST(0 AS BIGINT),
           |               'out', CAST(array() AS $outType)),
           |  (acc, it) -> IF(it.n_tok + it.n_patch <= acc.rem,
           |    named_struct('seq', acc.seq, 'rem', acc.rem - it.n_tok - it.n_patch,
           |      'out', array_append(acc.out, named_struct(
           |        'seq', acc.seq, 'n_tok', it.n_tok, 'n_patch', it.n_patch))),
           |    named_struct('seq', acc.seq + CAST(1 AS BIGINT),
           |      'rem', CAST(2048 AS BIGINT) - it.n_tok - it.n_patch,
           |      'out', array_append(acc.out, named_struct(
           |        'seq', acc.seq + CAST(1 AS BIGINT), 'n_tok', it.n_tok,
           |        'n_patch', it.n_patch)))),
           |  acc -> acc.out)""".stripMargin)).as("e"))
      .groupBy(col("shard"), col("e.seq").as("seq"))
      .agg(count(lit(1)).as("n_samples"),
        sum(col("e.n_tok")).as("n_tokens"),
        sum(col("e.n_patch")).as("n_patches"))
  }

  val vlmPackSql: String =
    """WITH RECURSIVE items AS (
      |  SELECT doc_id, doc_id // 64 AS shard,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok,
      |    CAST(CASE WHEN doc_id % 3 = 0
      |      THEN ((64 + (doc_id % 5) * 32 + 13) // 14) * ((64 + (doc_id % 7) * 16 + 13) // 14)
      |      ELSE 0 END AS BIGINT) AS n_patch,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id // 64 ORDER BY doc_id) AS rn
      |  FROM documents),
      |st AS (
      |  SELECT shard, rn, n_tok, n_patch, CAST(1 AS BIGINT) AS seq,
      |         2048 - n_tok - n_patch AS rem
      |  FROM items WHERE rn = 1
      |  UNION ALL
      |  SELECT i.shard, i.rn, i.n_tok, i.n_patch,
      |    CASE WHEN i.n_tok + i.n_patch <= s.rem THEN s.seq ELSE s.seq + 1 END,
      |    CASE WHEN i.n_tok + i.n_patch <= s.rem THEN s.rem - i.n_tok - i.n_patch
      |         ELSE 2048 - i.n_tok - i.n_patch END
      |  FROM items i JOIN st s ON i.shard = s.shard AND i.rn = s.rn + 1)
      |SELECT shard, CAST(seq AS BIGINT) AS seq, COUNT(*) AS n_samples,
      |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      |  CAST(SUM(n_patch) AS BIGINT) AS n_patches
      |FROM st GROUP BY shard, seq""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m8_phash" -> phash,
    "m9_image_stats" -> imageStatsQ,
    "m10_audio_segments" -> audioSegments,
    "c2_image_pipeline" -> imagePipeline,
    "c4_vlm_pack" -> vlmPack,
    "d15_image_neardup" -> imageNearDup,
    "st9_stream_phash_dedup" -> streamPhashDedup,
    "m1_media_features" -> mediaFeatures,
    "m2_frame_sample" -> frameSample,
    "m3_resize" -> resized,
    "m4_video_frames" -> videoFrameStats,
    "m5_adpcm_audio" -> adpcmAudio,
    "m7_audio_windows" -> audioWindows,
    "m6_shot_detect" -> shotDetect,
    "m11_shot_keyframes" -> shotKeyframesQ
  )

  def oracleSql: Map[String, String] = Map(
    "m8_phash" -> phashSql,
    "m9_image_stats" -> imageStatsSql,
    "m10_audio_segments" -> audioSegmentsSql,
    "c2_image_pipeline" -> imagePipelineSql,
    "c4_vlm_pack" -> vlmPackSql,
    "d15_image_neardup" -> imageNearDupSql,
    "st9_stream_phash_dedup" -> streamPhashDedupSql,
    "m1_media_features" -> mediaFeaturesSql,
    "m2_frame_sample" -> frameSampleSql,
    "m3_resize" -> resizedSql,
    "m4_video_frames" -> videoFrameStatsSql,
    "m5_adpcm_audio" -> adpcmAudioSql,
    "m7_audio_windows" -> audioWindowsSql,
    "m6_shot_detect" -> shotDetectSql,
    "m11_shot_keyframes" -> shotKeyframesSql
  )
}
