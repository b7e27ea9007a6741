package graft.multimodal

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Audio-modality column processing — the second opaque-binary medium
  * next to [[Multimodal]]'s images (reference §multimodal: decode /
  * feature-extract over binary columns). The codec is the JDK's REAL
  * WAVE parser (`javax.sound.sampled` — headless-safe for file IO), so
  * the decode path exercised here is the production contract a native
  * codec (ffmpeg bindings) would slot into: bytes in → typed per-asset
  * features out, batch-shaped, deterministic for fixed bytes.
  *
  * The q75 pattern makes it ORACLE-ABLE: [[syntheticWavAssets]] encodes
  * a square wave whose every decoded statistic is doc_id arithmetic —
  * sample count, peak, mean |amplitude|, zero crossings — so DuckDB
  * hash-compares a REAL RIFF/WAVE parse + PCM scan without decoding
  * anything. A decoder regression (byte order, header offset, channel
  * math, fallback taken) breaks the hash.
  *
  * Scale: encode+decode are map-only `mapPartitions` passes (the only
  * shape a JVM codec can take — same stance as the image path); no
  * shuffle until a consumer aggregates. */
object Audio {

  final case class AudioAsset(asset_id: Long, media: Array[Byte])
  final case class AudioFeatures(asset_id: Long, decoded: Boolean,
      sample_rate: Int, n_samples: Long, peak_abs: Long, mean_abs: Long,
      zero_crossings: Long)

  /** Real WAVE decode: header via AudioSystem, then a PCM scan for
    * integer signal stats (16-bit little-endian signed mono/stereo; the
    * first channel is scanned). Unreadable bytes → decoded=false row,
    * never an exception (corrupt assets must not kill a corpus job). */
  def decodeOne(a: AudioAsset): AudioFeatures = {
    try {
      val in = AudioSystem.getAudioInputStream(
        new ByteArrayInputStream(a.media))
      val fmt = in.getFormat
      require(fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian)
      val bytes = in.readAllBytes()
      val stride = 2 * fmt.getChannels
      val n = bytes.length / stride
      var peak = 0L; var sumAbs = 0L; var zc = 0L
      var prev = 0; var first = true; var i = 0
      while (i + 1 < bytes.length) {
        val s = ((bytes(i) & 0xff) | (bytes(i + 1) << 8)).toShort.toInt
        val abs = math.abs(s.toLong)
        if (abs > peak) peak = abs
        sumAbs += abs
        if (!first && s.toLong * prev < 0) zc += 1
        prev = s; first = false
        i += stride
      }
      AudioFeatures(a.asset_id, decoded = true,
        fmt.getSampleRate.toInt, n, peak,
        if (n > 0) sumAbs / n else 0L, zc)
    } catch {
      case _: Exception =>
        AudioFeatures(a.asset_id, decoded = false, 0, 0L, 0L, 0L, 0L)
    }
  }

  def extractFeatures(assets: Dataset[AudioAsset]): Dataset[AudioFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions(_.map(decodeOne))
  }

  /** Deterministic WAVE corpus: per doc_id, a square wave of
    * `8 + doc_id % 32` samples at amplitude `(doc_id % 1000) * 16`
    * (alternating sign), 8 kHz 16-bit mono — encoded by the real
    * `AudioSystem.write` WAVE writer. */
  def syntheticWavAssets(spark: SparkSession, dir: String)
      : Dataset[AudioAsset] = {
    import spark.implicits._
    graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val n = 8 + (id % 32).toInt
          val amp = ((id % 1000) * 16).toInt
          val pcm = new Array[Byte](n * 2)
          var i = 0
          while (i < n) {
            val v = if (i % 2 == 0) amp else -amp
            pcm(2 * i) = (v & 0xff).toByte
            pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
            i += 1
          }
          val fmt = new AudioFormat(8000f, 16, 1, true, false)
          val ais = new AudioInputStream(
            new ByteArrayInputStream(pcm), fmt, n.toLong)
          val bos = new ByteArrayOutputStream()
          AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
          AudioAsset(id, bos.toByteArray)
        }
      }
  }

  /** q136: WAVE encode → real decode round trip, outputs pure doc_id
    * arithmetic (see object doc). */
  def roundtripQuery(spark: SparkSession, dir: String): DataFrame =
    extractFeatures(syntheticWavAssets(spark, dir))
      .select(col("asset_id"), col("decoded"), col("sample_rate"),
        col("n_samples"), col("peak_abs"), col("mean_abs"),
        col("zero_crossings"))
      .orderBy("asset_id")

  final case class AudioTrim(asset_id: Long, decoded: Boolean,
      n_frames: Long, n_voiced: Long, first_voiced: Long,
      last_voiced: Long, trimmed_samples: Long)

  /** Energy-based voice-activity trim (the silence-strip every audio
    * ingestion pipeline runs before feature extraction): the decoded PCM
    * is scanned in fixed frames, a frame is voiced iff its mean |sample|
    * clears the threshold, and the keep-span is [first, last] voiced
    * frame. Integer frame energies — exact for the oracle. A trailing
    * partial frame (< frameLen samples) is dropped, matching the
    * fixed-frame contract of real VAD front ends. */
  def trimOne(a: AudioAsset, frameLen: Int = 16, threshold: Long = 256)
      : AudioTrim = {
    try {
      val in = AudioSystem.getAudioInputStream(
        new ByteArrayInputStream(a.media))
      val fmt = in.getFormat
      require(fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian)
      val bytes = in.readAllBytes()
      val stride = 2 * fmt.getChannels
      val n = bytes.length / stride
      val nFrames = n / frameLen
      var first = -1L; var last = -1L; var voiced = 0L
      var f = 0
      while (f < nFrames) {
        var sumAbs = 0L
        var i = 0
        while (i < frameLen) {
          val off = (f * frameLen + i) * stride
          val s = ((bytes(off) & 0xff) | (bytes(off + 1) << 8)).toShort.toInt
          sumAbs += math.abs(s.toLong)
          i += 1
        }
        if (sumAbs / frameLen >= threshold) {
          if (first < 0) first = f
          last = f; voiced += 1
        }
        f += 1
      }
      AudioTrim(a.asset_id, decoded = true, nFrames.toLong, voiced,
        first, last,
        if (first >= 0) (last - first + 1) * frameLen else 0L)
    } catch {
      case _: Exception =>
        AudioTrim(a.asset_id, decoded = false, 0L, 0L, -1L, -1L, 0L)
    }
  }

  /** Deterministic "speech-shaped" WAVE corpus: `id % 5` silent lead
    * frames (alternating ±4 — audible as noise floor, below threshold),
    * `2 + id % 4` voiced frames (square wave at 512 + (id % 100)·16),
    * `id % 3` silent tail frames; 16 samples per frame, 8 kHz mono. Every
    * trim output is doc_id arithmetic. */
  def syntheticSpeechWavAssets(spark: SparkSession, dir: String)
      : Dataset[AudioAsset] = {
    import spark.implicits._
    graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val frameLen = 16
          val lead = (id % 5).toInt
          val voiced = 2 + (id % 4).toInt
          val tail = (id % 3).toInt
          val n = (lead + voiced + tail) * frameLen
          val loAmp = 4
          val hiAmp = (512 + (id % 100) * 16).toInt
          val pcm = new Array[Byte](n * 2)
          var i = 0
          while (i < n) {
            val f = i / frameLen
            val amp = if (f >= lead && f < lead + voiced) hiAmp else loAmp
            val v = if (i % 2 == 0) amp else -amp
            pcm(2 * i) = (v & 0xff).toByte
            pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
            i += 1
          }
          val fmt = new AudioFormat(8000f, 16, 1, true, false)
          val ais = new AudioInputStream(
            new ByteArrayInputStream(pcm), fmt, n.toLong)
          val bos = new ByteArrayOutputStream()
          AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
          AudioAsset(id, bos.toByteArray)
        }
      }
  }

  /** q170: WAVE encode → real decode → frame-energy VAD trim,
    * hash-compared against the arithmetic oracle (the q136 pattern). */
  def trimQuery(spark: SparkSession, dir: String): DataFrame = {
    val ds = syntheticSpeechWavAssets(spark, dir)
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map(trimOne(_))).toDF()
      .select(col("asset_id"), col("decoded"), col("n_frames"),
        col("n_voiced"), col("first_voiced"), col("last_voiced"),
        col("trimmed_samples"))
      .orderBy("asset_id")
  }

  final case class AudioFp(asset_id: Long, decoded: Boolean,
      n_frames: Long, sig: Long)

  /** Energy-delta fingerprint over decoded PCM: per-frame integer mean
    * |sample|, then bit f = 1 iff energy(f+1) > energy(f) — the
    * landmark-free skeleton of published audio fingerprints (Haitsma &
    * Kalker's sign-of-energy-difference, collapsed from spectral bands
    * to the time axis so it stays integer-exact for the oracle). 57
    * frames → a 56-bit signature, 8 bytes per asset regardless of
    * audio length. */
  def fingerprintOne(a: AudioAsset, frameLen: Int = 16): AudioFp = {
    try {
      val in = AudioSystem.getAudioInputStream(
        new ByteArrayInputStream(a.media))
      val fmt = in.getFormat
      require(fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian)
      val bytes = in.readAllBytes()
      val stride = 2 * fmt.getChannels
      val n = bytes.length / stride
      val nFrames = n / frameLen
      var sig = 0L; var prevE = 0L
      var f = 0
      while (f < nFrames) {
        var sumAbs = 0L; var i = 0
        while (i < frameLen) {
          val off = (f * frameLen + i) * stride
          val s = ((bytes(off) & 0xff) | (bytes(off + 1) << 8)).toShort.toInt
          sumAbs += math.abs(s.toLong)
          i += 1
        }
        val e = sumAbs / frameLen
        if (f > 0 && e > prevE) sig |= 1L << (f - 1)
        prevE = e
        f += 1
      }
      AudioFp(a.asset_id, decoded = true, nFrames.toLong, sig)
    } catch {
      case _: Exception => AudioFp(a.asset_id, decoded = false, 0L, 0L)
    }
  }

  /** Deterministic near-dup WAVE corpus: 57 square-wave frames of 16
    * samples; frames 0–54 have group-keyed pseudorandom amplitudes
    * (g = id/4 — shared VERBATIM inside each group of four), frames
    * 55–56 are member-perturbed. So intra-group pairs differ in at most
    * signature bits 54–55 (hamming ≤ 2 — re-encoded copies of one
    * recording) while cross-group signatures are unrelated bit strings —
    * the same planted structure the image (q169) and video (q190)
    * fixtures use. Ids are repartitioned before synthesis: one small
    * id file would otherwise serialize the codec stage. */
  def syntheticNearDupWavAssets(spark: SparkSession, dir: String)
      : Dataset[AudioAsset] = {
    import spark.implicits._
    wavAssetsOfIds(graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism))
  }

  /** The same deterministic WAVE encode for an arbitrary id set — the
    * per-slice form the persisted cluster store feeds ingest batches
    * through ([[graft.operators.ClusterStore]]). */
  def wavAssetsOfIds(ids: Dataset[Long]): Dataset[AudioAsset] = {
    import ids.sparkSession.implicits._
    ids
      .mapPartitions { it =>
        it.map { id =>
          val frameLen = 16; val nF = 57
          val g = id / 4; val m = id % 4
          val pcm = new Array[Byte](nF * frameLen * 2)
          var f = 0
          while (f < nF) {
            val amp = (if (f < 55)
              256 + ((g * (2 * f + 3) * 41 +
                (g / 256) * (2 * f * f + 5) * 17) % 1024)
            else
              256 + ((g * 97 + (f - 54) * (m * 8 + 13) * 29) % 1024)).toInt
            var i = 0
            while (i < frameLen) {
              val k = f * frameLen + i
              val v = if (i % 2 == 0) amp else -amp
              pcm(2 * k) = (v & 0xff).toByte
              pcm(2 * k + 1) = ((v >> 8) & 0xff).toByte
              i += 1
            }
            f += 1
          }
          val fmt = new AudioFormat(8000f, 16, 1, true, false)
          val ais = new AudioInputStream(
            new ByteArrayInputStream(pcm), fmt, (nF * frameLen).toLong)
          val bos = new ByteArrayOutputStream()
          AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
          AudioAsset(id, bos.toByteArray)
        }
      }
  }

  /** q195: near-duplicate AUDIO pairs — closes the modality triangle
    * next to image dHash (q169) and video frame-hash (q190) near-dup.
    * WAVE encode → REAL decode → 56-bit energy-delta fingerprint,
    * candidates from the same 4×14-bit banded equi-join the image side
    * uses, exact bit_count(xor) ≤ 3 confirms. With maxHamming = 3 < 4
    * bands, pigeonhole makes the band gate COMPLETE (any pair within
    * hamming 3 leaves a band untouched), so the DuckDB oracle is the
    * plain all-pairs hamming join — the band path must find exactly
    * that set or the hash mismatches.
    *
    * Scale shape: fingerprints are 8 bytes/asset (cached once — the
    * self-join's two sides and the codec pass share one frame), band
    * keys are 14-bit ints, candidates are an equi-join — never
    * all-pairs; the decode is map-only and id-repartitioned. */
  def nearDupQuery(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame = {
    val fps = fingerprintFrame(spark, dir)
    // pin the slim pair result, release the fingerprint cache (the
    // fuzzyDecontam protocol)
    val fin = nearDupFromFps(fps, maxHamming).localCheckpoint()
    fps.unpersist(blocking = false)
    fin
  }

  /** Decoded, length-gated, CACHED (asset_id, sig) fingerprint frame —
    * shared by the q195 pair query and the q198 cluster fold (the same
    * single-codec-pass discipline as the image side's hash frame). */
  private def fingerprintFrame(spark: SparkSession, dir: String)
      : DataFrame =
    audioSigsOf(graft.Tables.load(spark, dir, "documents")).cache()

  /** Decoded, length-gated (asset_id, sig) fingerprint rows for a
    * documents SLICE — the per-batch decode the persisted cluster store
    * runs at ingest ([[graft.operators.ClusterStore]]). */
  private[graft] def audioSigsOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ds = wavAssetsOfIds(docs.select(col("doc_id")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism))
    ds.mapPartitions(_.map(fingerprintOne(_))).toDF()
      .filter(col("decoded") && col("n_frames") === 57)
      .select(col("asset_id"), col("sig"))
  }

  private def nearDupFromFps(fps: DataFrame, maxHamming: Int): DataFrame =
    audioPairsOf(fps, fps.withColumn("is_new", lit(true)), maxHamming)
      .orderBy("id1", "id2")

  /** Banded hamming near-dup pairs TOUCHING the probe side — the
    * incremental form the persisted cluster store maintains
    * ([[graft.operators.ClusterStore]]); same contract as the image
    * side's `imagePairsOf`: `index` includes the probe's rows with
    * `is_new` = true exactly on them, the `l < r OR NOT r.is_new` gate
    * makes the output over probe = index = all EXACTLY the full
    * self-join's pair set (ClusterStoreSpec pins it). */
  private[graft] def audioPairsOf(probe: DataFrame, index: DataFrame,
      maxHamming: Int): DataFrame =
    // the banding/gate/canonicalization mechanics are the image side's,
    // verbatim — one implementation keeps the incremental-store
    // invariants in one place ([[Multimodal.hammingBandPairsOf]])
    Multimodal.hammingBandPairsOf(probe, index, "sig", maxHamming)

  /** q198: the audio dedup ACTION — q195's hamming pairs fold into
    * connected components (the pointer-doubled CC from
    * [[graft.operators.Dedup]]) and each cluster keeps its smallest
    * asset id. With this, all three media modalities run the full
    * candidate→confirm→cluster→select pipeline on the same
    * modality-agnostic machinery: images q169→q178, video q190, audio
    * q195→q198, text q34/q36→q57→q102. */
  def dedupClustersQuery(spark: SparkSession, dir: String): DataFrame = {
    val fps = fingerprintFrame(spark, dir)
    fps.count() // materialize: the band join's two sides read blocks
    // the UNSORTED pair form: q195's declared orderBy would be a wasted
    // corpus-wide range sort here — CC immediately re-shuffles the
    // edges (r14; guide §2.4)
    val pairs = audioPairsOf(fps,
        fps.withColumn("is_new", lit(true)), maxHamming = 3)
      .select(col("id1").as("doc_a"), col("id2").as("doc_b"))
    val labels0 = fps.select(col("asset_id").as("doc_id"),
      col("asset_id").as("cluster_id"))
    val cc = graft.operators.Dedup.connectedComponents(labels0, pairs)
    // CC materializes eagerly (per-round localCheckpoint), so the
    // fingerprint cache has no consumers left — release it here
    fps.unpersist(blocking = false)
    cc.select(col("doc_id").as("asset_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).cast("int").as("is_kept"))
      .orderBy("asset_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q136_audio_roundtrip" -> (roundtripQuery _),
    "q170_audio_trim"      -> (trimQuery _),
    "q195_audio_neardup"   ->
      ((s: SparkSession, d: String) => nearDupQuery(s, d)),
    "q198_audio_dedup_clusters" -> (dedupClustersQuery _))

  val oracles: Map[String, String] = Map(
    // every output is doc_id arithmetic: n samples, square-wave peak =
    // mean|x| = amplitude, n-1 sign alternations (0 when silent)
    "q136_audio_roundtrip" ->
      """SELECT doc_id AS asset_id, TRUE AS decoded,
         CAST(8000 AS INTEGER) AS sample_rate,
         CAST(8 + doc_id % 32 AS BIGINT) AS n_samples,
         CAST((doc_id % 1000) * 16 AS BIGINT) AS peak_abs,
         CAST((doc_id % 1000) * 16 AS BIGINT) AS mean_abs,
         CAST(CASE WHEN doc_id % 1000 = 0 THEN 0
              ELSE 8 + doc_id % 32 - 1 END AS BIGINT) AS zero_crossings
         FROM documents ORDER BY asset_id""",
    // q170: lead = id%5 silent frames, voiced = 2 + id%4, tail = id%3 —
    // the trim outputs are that arithmetic verbatim (silence mean |x| = 4
    // < 256 threshold, voiced mean = 512 + (id%100)*16 >= 512)
    "q170_audio_trim" ->
      """SELECT doc_id AS asset_id, TRUE AS decoded,
         CAST(doc_id % 5 + 2 + doc_id % 4 + doc_id % 3 AS BIGINT)
           AS n_frames,
         CAST(2 + doc_id % 4 AS BIGINT) AS n_voiced,
         CAST(doc_id % 5 AS BIGINT) AS first_voiced,
         CAST(doc_id % 5 + 2 + doc_id % 4 - 1 AS BIGINT) AS last_voiced,
         CAST((2 + doc_id % 4) * 16 AS BIGINT) AS trimmed_samples
         FROM documents ORDER BY asset_id""",
    // q195: frame energies are the amplitude arithmetic verbatim (square
    // wave → integer mean |sample| = amp), the signature is the
    // consecutive-frame > fold, and — because maxHamming 3 < 4 bands
    // guarantees band-gate completeness — the oracle is the plain
    // all-pairs hamming join.
    "q195_audio_neardup" ->
      s"""WITH $audioSigSql
         SELECT s1.doc_id AS id1, s2.doc_id AS id2,
           CAST(bit_count(xor(s1.sig, s2.sig)) AS BIGINT) AS hamming
         FROM sig s1 JOIN sig s2 ON s1.doc_id < s2.doc_id
         WHERE bit_count(xor(s1.sig, s2.sig)) <= 3
         ORDER BY id1, id2""",
    // q198: q195's pairs closed transitively (the q178 recursive-CTE
    // pattern), min id kept per component
    "q198_audio_dedup_clusters" ->
      s"""WITH RECURSIVE $audioSigSql,
         p AS (
           SELECT s1.doc_id AS id1, s2.doc_id AS id2
           FROM sig s1 JOIN sig s2 ON s1.doc_id < s2.doc_id
           WHERE bit_count(xor(s1.sig, s2.sig)) <= 3),
         e AS (SELECT id1 AS s, id2 AS t FROM p
               UNION SELECT id2, id1 FROM p),
         reach(d_id, r) AS (
           SELECT doc_id, doc_id FROM sig
           UNION
           SELECT reach.d_id, e.t FROM reach JOIN e ON reach.r = e.s)
         SELECT d_id AS asset_id, MIN(r) AS cluster_id,
           CAST(d_id = MIN(r) AS INTEGER) AS is_kept
         FROM reach GROUP BY d_id ORDER BY asset_id""")

  /** The q195 fingerprint rebuilt in pure arithmetic (shared CTE body:
    * defines `sig(doc_id, sig)`), usable inside plain and RECURSIVE
    * WITH clauses. */
  private lazy val audioSigSql: String =
    """ids AS (
           SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS m
           FROM documents),
         energy AS (
           SELECT doc_id, f,
             CASE WHEN f < 55 THEN
               256 + ((g * (2*f + 3) * 41
                       + (g // 256) * (2*f*f + 5) * 17) % 1024)
             ELSE
               256 + ((g * 97 + (f - 54) * (m * 8 + 13) * 29) % 1024)
             END AS e
           FROM ids, (SELECT unnest(range(0, 57)) AS f)),
         sig AS (
           SELECT a.doc_id,
             CAST(COALESCE(SUM(CASE WHEN b.e > a.e
               THEN CAST(1 AS BIGINT) << a.f
               ELSE CAST(0 AS BIGINT) END), 0) AS BIGINT) AS sig
           FROM energy a JOIN energy b
             ON b.doc_id = a.doc_id AND b.f = a.f + 1
           GROUP BY a.doc_id)"""
}
