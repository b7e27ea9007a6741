package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (BASELINE.json north star): image/audio/video
  * as opaque `binary` columns with typed metadata, processed by batched
  * per-partition extractors — the Scala equivalent of `mapInPandas` (same
  * batch shape: partition iterator → fixed-size batches → vectorized call).
  *
  * The image path is a REAL codec: `javax.imageio` (pure JVM, ships with
  * the JDK) decodes PNG/JPEG/GIF/BMP bytes to true dimensions and an
  * 8-bin luminance histogram. Bytes no installed reader understands (the
  * text-bytes fixture, audio/video payloads — no FFmpeg in this container)
  * take the deterministic byte-statistics fallback, flagged by
  * `decoded=false` so downstream filters can tell real metadata from
  * fallback metadata.
  */
object Multimodal {

  final case class MediaAsset(asset_id: Long, media: Array[Byte],
      media_type: String)
  final case class MediaFeatures(asset_id: Long, media_type: String,
      n_bytes: Long, decoded: Boolean, width: Int, height: Int,
      checksum: Long, features: Array[Float])
  final case class Frame(asset_id: Long, frame_no: Int, offset_bytes: Long)

  /** Image decoder over `javax.imageio`. One batch in, one batch out — the
    * production contract a vectorized codec (libjpeg-turbo, nvJPEG) slots
    * into; ImageIO itself decodes per asset inside the batch loop.
    * Everything emitted is deterministic for fixed input bytes. */
  object Decoder {
    def decodeBatch(batch: Seq[MediaAsset]): Seq[MediaFeatures] =
      batch.map(decodeOne)

    private def decodeOne(a: MediaAsset): MediaFeatures = {
      val n = a.media.length
      var sum = 0L
      var i = 0
      while (i < n) { sum = sum * 31 + (a.media(i) & 0xff); i += 1 }
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(a.media))
        catch { case _: Exception => null }
      if (img != null) {
        // real decode: true dimensions + 8-bin luminance histogram
        val w = img.getWidth; val h = img.getHeight
        val bins = new Array[Long](8)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val lum = (((rgb >> 16) & 0xff) * 299 +
              ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
            bins(lum >> 5) += 1
            x += 1
          }
          y += 1
        }
        val total = (w.toLong * h).max(1L)
        MediaFeatures(a.asset_id, a.media_type, n.toLong, decoded = true,
          width = w, height = h, checksum = sum,
          features = bins.map(b => b.toFloat / total))
      } else {
        // no installed reader for these bytes: deterministic byte-stat
        // fallback, dimensions zeroed so they can't be mistaken for real
        val feats = Array.tabulate(8) { j =>
          var acc = 0L
          var k = j
          while (k < n) { acc += (a.media(k) & 0xff); k += 8 }
          (acc % 1000).toFloat / 1000f
        }
        MediaFeatures(a.asset_id, a.media_type, n.toLong, decoded = false,
          width = 0, height = 0, checksum = sum, features = feats)
      }
    }
  }

  /** Batched per-partition feature extraction (the mapInPandas shape:
    * bounded batches keep peak memory flat regardless of partition size). */
  def extractFeatures(assets: Dataset[MediaAsset],
      batchSize: Int = 64): Dataset[MediaFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
        imageIoNoDiskCache()
      it.grouped(batchSize).flatMap(Decoder.decodeBatch)
    }
  }

  /** Frame sampling stub for video-like assets: n evenly spaced offsets per
    * asset (generate + explode — stays distributed and codegen'd). */
  def sampleFrames(assets: DataFrame, nFrames: Int = 4): DataFrame =
    assets
      .withColumn("n_bytes", length(col("media")).cast("long"))
      .withColumn("frame_no", explode(sequence(lit(0), lit(nFrames - 1))))
      .withColumn("offset_bytes",
        ((col("frame_no").cast("long") * col("n_bytes")) / nFrames).cast("long"))
      .select("asset_id", "frame_no", "offset_bytes")

  /** Documents → pseudo media assets (text bytes as the opaque payload) —
    * the fixture path for exercising the plumbing without codecs. */
  def assetsFromDocuments(spark: SparkSession, dir: String): Dataset[MediaAsset] = {
    import spark.implicits._
    graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id").as("asset_id"),
        col("text").cast("binary").as("media"),
        concat(lit("image/stub-"), col("source")).as("media_type"))
      .as[MediaAsset]
  }

  /** q42: the full feature-extraction surface (real ImageIO decode →
    * dimensions + 8-bin luminance histogram) over encoded gradient PNGs,
    * hash-compared against a pure-arithmetic DuckDB rebuild — the q75
    * recipe at full histogram granularity. Each pixel's luminance is
    * doc_id arithmetic by construction (gray (g,g,g) has luminance
    * exactly g under the 299/587/114 integer weights), so the 8 bin
    * counts (features(k)·64 — exact: 64 = w·h and k/64 is an exact
    * binary float) round-trip as integers DuckDB recomputes without
    * decoding anything. A decoder regression — wrong dimensions, wrong
    * luminance weights, fallback path taken — breaks the hash compare.
    * (Until round 8 this query ran the byte-stat FALLBACK path over
    * text bytes, which only supported a rows-only check; the fallback
    * stays covered by MultimodalSpec.) */
  def featureQuery(spark: SparkSession, dir: String): DataFrame = {
    val f = extractFeatures(syntheticGradientPngAssets(spark, dir)).toDF()
      .select(col("asset_id"), col("decoded"), col("width"), col("height"),
        col("features"))
    (0 until 8).foldLeft(f) { (df, k) =>
      df.withColumn(s"b$k",
        round(element_at(col("features"), k + 1) * 64).cast("long"))
    }.drop("features").orderBy("asset_id")
  }

  /** Frame-sampling metadata query — oracle-checkable (pure arithmetic). */
  def frameQuery(spark: SparkSession, dir: String): DataFrame =
    sampleFrames(
      Tables.docAssets(spark, dir), nFrames = 4)
      .orderBy("asset_id", "frame_no")

  /** JVM-wide ImageIO setting, invoked from every codec closure (so
    * executor JVMs set it too, not just the driver): ImageIO's default
    * stream cache is DISK-backed — each `ImageIO.read`/`write` over an
    * in-memory byte buffer creates, writes, and deletes a TEMP FILE.
    * At sf0.1 one q205 execution pays that syscall round trip ~80,000
    * times (40k frames × encode+decode) for 8×8 images whose bytes
    * already sit in memory; memory-cached streams are strictly better
    * here (guide §1.2 step 2: per-task work). Idempotent, cheap gate. */
  private[multimodal] def imageIoNoDiskCache(): Unit =
    if (javax.imageio.ImageIO.getUseCache)
      javax.imageio.ImageIO.setUseCache(false)

  private object Tables {
    def docAssets(spark: SparkSession, dir: String): DataFrame =
      graft.Tables.load(spark, dir, "documents")
        .select(col("doc_id").as("asset_id"),
          col("text").cast("binary").as("media"))
  }

  /** Deterministic synthetic PNGs: per document a (1 + id%7)×(1 + id%5)
    * uniform-gray image (gray = id%256) ENCODED through ImageIO — real PNG
    * bytes on the wire, not a fabricated header. */
  def syntheticPngAssets(spark: SparkSession, dir: String): Dataset[MediaAsset] = {
    import spark.implicits._
    graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        imageIoNoDiskCache()
        it.map { id =>
          val w = 1 + (id % 7).toInt
          val h = 1 + (id % 5).toInt
          val g = (id % 256).toInt
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val rgb = (g << 16) | (g << 8) | g
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { img.setRGB(x, y, rgb); x += 1 }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          MediaAsset(id, bos.toByteArray, "image/png")
        }
      }
  }

  /** The oracle-able slice of the image path (VERDICT r3 stretch): PNG
    * encode → REAL ImageIO decode round-trip, where every decoded output
    * is arithmetic of doc_id — width/height by construction, the luminance
    * histogram collapses to one full bin at gray>>5 (uniform image, and
    * gray (g,g,g) has luminance exactly g under the 299/587/114 weights) —
    * so DuckDB replicates the result without decoding anything. A decoder
    * regression (wrong dimensions, wrong luminance, fallback path taken)
    * breaks the hash compare. */
  def roundtripQuery(spark: SparkSession, dir: String): DataFrame =
    extractFeatures(syntheticPngAssets(spark, dir))
      .withColumn("lum_bin",
        (array_position(col("features"), lit(1.0f)) - 1).cast("int"))
      .select(col("asset_id"), col("width"), col("height"), col("decoded"),
        col("lum_bin"))
      .orderBy("asset_id")

  /** 56-bit difference hash (dHash) of a decoded image: luminance is
    * block-mean-reduced to an 8×8 grid (integer math — exact), then each
    * of the 7 adjacent-column comparisons per row contributes one bit
    * (bit y*7+x set iff cell(x+1,y) > cell(x,y)). 56 bits keep the hash
    * in non-negative BIGINT range so the SQL oracle can rebuild it with
    * shift arithmetic. Returns 0 for undecodable bytes (decoded=false
    * distinguishes that from a legitimately-zero gradient). */
  def dhashOf(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth; val h = img.getHeight
    val cells = Array.ofDim[Long](8, 8)
    var cy = 0
    while (cy < 8) {
      var cx = 0
      while (cx < 8) {
        // integer block bounds [lo, hi): exact for any w,h; each pixel
        // lands in exactly one cell, empty blocks impossible for w,h >= 8
        // (for smaller images the block clamps to at least one pixel)
        val x0 = cx * w / 8; val x1 = math.max((cx + 1) * w / 8, x0 + 1)
        val y0 = cy * h / 8; val y1 = math.max((cy + 1) * h / 8, y0 + 1)
        var sum = 0L; var n = 0L
        var y = y0
        while (y < y1 && y < h) {
          var x = x0
          while (x < x1 && x < w) {
            val rgb = img.getRGB(x, y)
            sum += (((rgb >> 16) & 0xff) * 299 +
              ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
            n += 1; x += 1
          }
          y += 1
        }
        cells(cy)(cx) = if (n > 0) sum / n else 0L
        cx += 1
      }
      cy += 1
    }
    var hash = 0L
    var b = 0
    cy = 0
    while (cy < 8) {
      var cx = 0
      while (cx < 7) {
        if (cells(cy)(cx + 1) > cells(cy)(cx)) hash |= (1L << b)
        b += 1; cx += 1
      }
      cy += 1
    }
    hash
  }

  final case class ImageHash(asset_id: Long, decoded: Boolean, dhash: Long)

  /** Batched decode → dHash (the q42/q75 mapPartitions shape). */
  def dhashAssets(assets: Dataset[MediaAsset]): Dataset[ImageHash] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
        imageIoNoDiskCache()
      it.grouped(64).flatMap(_.map { a =>
        val img =
          try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(a.media))
          catch { case _: Exception => null }
        if (img != null) ImageHash(a.asset_id, decoded = true, dhashOf(img))
        else ImageHash(a.asset_id, decoded = false, 0L)
      })
    }
  }

  /** Deterministic gradient PNGs for the oracle-able dHash slice: an 8×8
    * image whose row y is the wrap-around ramp
    * gray(x,y) = (x·73 + shift(y, id)) mod 256, ENCODED through ImageIO.
    * The decoded dHash bit (x,y) is set exactly when
    * (x·73 + shift) mod 256 < 183 (the +73 column step wraps only in the
    * top 73 values), which DuckDB rebuilds with pure arithmetic.
    *
    * Per-row shifts plant a near-dup STRUCTURE, not just a hash: ids in
    * the same group of four (id div 4) share rows 0–6 verbatim
    * (shift = (g·(2y+3)·41) mod 256 — pseudorandom across groups), while
    * row 7 is perturbed by (id mod 4)·8 — so intra-group pairs differ in
    * a handful of row-7 bits (hamming 0–6, all inside the top band: the
    * band gate catches every one by construction) and cross-group pairs
    * are unrelated ramps. That is the shape real image near-dup corpora
    * have: clusters of rescaled/requantized variants in a sea of
    * unrelated images. */
  def syntheticGradientPngAssets(spark: SparkSession, dir: String)
      : Dataset[MediaAsset] = {
    import spark.implicits._
    // Repartition the 8-byte ids BEFORE synthesis/decode: the id list is
    // one small parquet file at test SF (one partition), which would run
    // the whole ImageIO decode stage serially (~1.5 s for 5k assets).
    // Shuffling ids is near-free next to per-row codec cost — the same
    // spread a real media corpus gets from having many files.
    gradientPngAssetsOfIds(
      graft.Tables.load(spark, dir, "documents")
        .select(col("doc_id")).as[Long]
        .repartition(spark.sparkContext.defaultParallelism))
  }

  /** The same deterministic gradient-PNG encode for an arbitrary id set —
    * q190 feeds FRAME ids through it (several per video). */
  def gradientPngAssetsOfIds(ids: Dataset[Long]): Dataset[MediaAsset] = {
    import ids.sparkSession.implicits._
    ids
      .mapPartitions { it =>
        imageIoNoDiskCache()
        it.map { id =>
          val img = new java.awt.image.BufferedImage(
            8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < 8) {
            val shift =
              if (y < 7) (id / 4 * (2 * y + 3) * 41) % 256
              else (id / 4 * 97 + (id % 4) * 8) % 256
            var x = 0
            while (x < 8) {
              val g = ((x * 73 + shift) % 256).toInt
              img.setRGB(x, y, (g << 16) | (g << 8) | g)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          MediaAsset(id, bos.toByteArray, "image/png")
        }
      }
  }

  /** Gradient PNGs for VIDEO frames (q190): same ramp family as
    * [[gradientPngAssetsOfIds]] plus a second, coarser shift term keyed
    * on `id DIV 1024`, so frame images stay DISTINCT for ids up to
    * ~256·1024 instead of aliasing every 1024 ids (mod-256 wraparound of
    * the single-term ramp). Without it, every 128th video triple decoded
    * to identical prefixes at sf0.1 and the pair graph filled with
    * coincidental matches. */
  def videoFramePngAssetsOfIds(ids: Dataset[Long]): Dataset[MediaAsset] = {
    import ids.sparkSession.implicits._
    ids
      .mapPartitions { it =>
        imageIoNoDiskCache()
        it.map { id =>
          val img = new java.awt.image.BufferedImage(
            8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < 8) {
            val shift =
              if (y < 7)
                (id / 4 * (2 * y + 3) * 41 +
                  id / 1024 * (2 * y * y + 5) * 17) % 256
              else (id / 4 * 97 + id / 1024 * 29 + (id % 4) * 8) % 256
            var x = 0
            while (x < 8) {
              val g = ((x * 73 + shift) % 256).toInt
              img.setRGB(x, y, (g << 16) | (g << 8) | g)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          MediaAsset(id, bos.toByteArray, "image/png")
        }
      }
  }

  private def dhashFrame(spark: SparkSession, dir: String): DataFrame =
    dhashAssets(syntheticGradientPngAssets(spark, dir)).toDF()
      .select(col("asset_id"), col("decoded"), col("dhash"))

  /** Decoded (asset_id, dhash) signature rows for a documents SLICE —
    * the per-batch encode→decode→dHash pass the persisted cluster store
    * runs at ingest ([[graft.operators.ClusterStore]]). */
  private[graft] def imageSigsOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    dhashAssets(gradientPngAssetsOfIds(docs.select(col("doc_id")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)))
      .toDF()
      .filter(col("decoded"))
      .select(col("asset_id"), col("dhash"))
  }

  /** q168: PNG encode → real decode → dHash, hash-compared against the
    * arithmetic oracle (the q75 pattern for perceptual hashing). */
  def dhashQuery(spark: SparkSession, dir: String): DataFrame =
    dhashFrame(spark, dir).orderBy("asset_id")

  /** q169: near-duplicate IMAGE pairs by dHash hamming distance — the
    * image-side counterpart of SimHash near-dup (q36). Candidate
    * generation is the same banded equi-join (4×14-bit bands: a pair
    * within hamming ≤ 3 leaves at least one band untouched by
    * pigeonhole, so it is GUARANTEED a candidate; 4–6 differing bits
    * are caught unless they spread across all four bands — SimHash's
    * standard recall trade), then exact bit_count(xor) confirms —
    * never all-pairs.
    *
    * Scale shape: hashes are 8 bytes/image, the band join keys are
    * 14-bit ints — the candidate table is radically smaller than the
    * media it indexes; decode runs once, map-only, upstream. */
  def imageNearDupQuery(spark: SparkSession, dir: String,
      maxHamming: Int = 6): DataFrame = {
    // cache() the 16-byte-per-asset hash frame: the banded self-join
    // references it on BOTH sides, and (object-typed MapPartitions
    // subtrees not canonicalizing equal) each side would otherwise
    // re-run the full encode→decode→dHash pass. Sharing one cached
    // frame prices the codec once; the cache is released when the
    // (slim) pair result is pinned below.
    val hashes = dhashFrame(spark, dir)
      .filter(col("decoded"))
      .select(col("asset_id"), col("dhash"))
      .cache()
    val fin = imageNearDupFromHashes(hashes, maxHamming).localCheckpoint()
    hashes.unpersist(blocking = false)
    fin
  }

  /** Banded-candidate near-dup pairs over a (asset_id, dhash) frame —
    * shared by q169 (which builds hashes fresh) and q178 (which reuses
    * one cached hash frame for pairs AND labels); full self-pairing =
    * probe and index the same frame, every row new. */
  private def imageNearDupFromHashes(hashes: DataFrame,
      maxHamming: Int): DataFrame =
    imagePairsOf(hashes, hashes.withColumn("is_new", lit(true)), maxHamming)
      .orderBy("id1", "id2")

  /** Banded hamming near-dup pairs TOUCHING the probe side — the
    * incremental form the persisted cluster store maintains
    * ([[graft.operators.ClusterStore]]). `probe` carries the new
    * batch's (asset_id, dhash) rows; `index` carries every indexed
    * signature (the probe's rows INCLUDED) plus `is_new` = true exactly
    * on the probe's rows. The `l < r OR NOT r.is_new` gate emits each
    * new↔new pair once (ordered) and each new↔old pair once (an old
    * row never probes), so over probe = index = all the output is
    * EXACTLY the full self-join's pair set — ClusterStoreSpec pins it.
    * Candidates come from the 4×14-bit band equi-join (a pair within
    * hamming ≤ 3 leaves a band untouched by pigeonhole); exact
    * bit_count(xor) confirms; output is canonical (id1 < id2). */
  private[graft] def imagePairsOf(probe: DataFrame, index: DataFrame,
      maxHamming: Int): DataFrame =
    hammingBandPairsOf(probe, index, "dhash", maxHamming)

  /** The ONE banded-hamming candidate→confirm join both perceptual-hash
    * modalities run ([[imagePairsOf]] over `dhash`, [[Audio.audioPairsOf]]
    * over `sig`) — the gate and canonicalization invariants the
    * incremental cluster store depends on live in exactly one place.
    * `hashCol` is a 56-bit non-negative long, so arithmetic >> equals
    * logical; candidates come from the 4×14-bit band equi-join, exact
    * bit_count(xor) confirms, output is canonical (id1 < id2). */
  private[multimodal] def hammingBandPairsOf(probe: DataFrame,
      index: DataFrame, hashCol: String, maxHamming: Int): DataFrame = {
    def banded(df: DataFrame): DataFrame = df
      .withColumn("band_no", explode(sequence(lit(0), lit(3))))
      .withColumn("band_val",
        expr(s"($hashCol >> (band_no * 14)) & 16383"))
    // SHUFFLE_HASH on purpose: the band table is broadcast-sized, but
    // the broadcast build blocks on a full driver-side collect of one
    // decode branch before the probe side starts — the shuffle join
    // runs both decode branches concurrently (measured ~3.4 s → ~2.3 s
    // at sf0.1; the object-typed MapPartitions subtrees do not
    // canonicalize equal, so ReusedExchange cannot dedupe them either
    // way)
    val pairs = banded(probe.select(col("asset_id"), col(hashCol)))
      .hint("SHUFFLE_HASH").as("l")
      .join(banded(index.select(col("asset_id"), col(hashCol),
        col("is_new"))).hint("SHUFFLE_HASH").as("r"),
        col("l.band_no") === col("r.band_no") &&
        col("l.band_val") === col("r.band_val") &&
        (col("l.asset_id") < col("r.asset_id") || !col("r.is_new")))
      // canonical (min, max) orientation: a new↔old candidate can
      // surface with the old doc as the smaller id; struct least keeps
      // each id paired with ITS hash
      .select(
        least(struct(col("l.asset_id").as("id"),
            col(s"l.$hashCol").as("h")),
          struct(col("r.asset_id").as("id"), col(s"r.$hashCol").as("h")))
          .as("a"),
        greatest(struct(col("l.asset_id").as("id"),
            col(s"l.$hashCol").as("h")),
          struct(col("r.asset_id").as("id"), col(s"r.$hashCol").as("h")))
          .as("b"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        col("a.h").as("h1"), col("b.h").as("h2"))
      .distinct()
    pairs
      .withColumn("hamming", expr("CAST(bit_count(h1 ^ h2) AS BIGINT)"))
      .filter(col("hamming") <= maxHamming)
      .select("id1", "id2", "hamming")
  }

  /** q178: the image dedup ACTION end to end — q169's hamming pairs fold
    * into connected components (the pointer-doubled CC from [[graft
    * .operators.Dedup]], O(log diameter) rounds) and each cluster keeps
    * its smallest asset id. This is the cross-modality composition the
    * text side ships as q57/q102: the SAME cluster machinery consumes
    * perceptual-hash edges instead of shingle-Jaccard edges — dedup
    * infrastructure is modality-agnostic once candidates are pairs. */
  def imageDedupClusters(spark: SparkSession, dir: String): DataFrame = {
    // ONE cached hash frame feeds candidate pairs (both self-join
    // sides) and the initial labels: the codec pass — the dominant
    // cost — runs exactly once per execution instead of three times.
    val hashes = dhashFrame(spark, dir)
      .filter(col("decoded"))
      .select(col("asset_id"), col("dhash"))
      .cache()
    hashes.count() // materialize: the band join's two sides read blocks
    // the UNSORTED pair form: q169's declared orderBy would be a wasted
    // corpus-wide range sort here — CC immediately re-shuffles the
    // edges (r14; guide §2.4)
    val pairs = imagePairsOf(hashes,
        hashes.withColumn("is_new", lit(true)), maxHamming = 6)
      .select(col("id1").as("doc_a"), col("id2").as("doc_b"))
    val labels0 = hashes
      .select(col("asset_id").as("doc_id"),
        col("asset_id").as("cluster_id"))
    val cc = graft.operators.Dedup.connectedComponents(labels0, pairs)
    // CC materializes eagerly (per-round localCheckpoint), so the hash
    // cache has no consumers left — release it here, not at scrub time
    hashes.unpersist(blocking = false)
    cc.select(col("doc_id").as("asset_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).cast("int").as("is_kept"))
      .orderBy("asset_id")
  }

  /** q205: shot-boundary (scene-cut) detection — the video-preprocessing
    * pass a multimodal training pipeline runs before keyframe sampling:
    * consecutive frames' perceptual-hash distance spikes at a cut and
    * stays near zero inside a shot. Each document is a video of eight
    * frames in three shots (3/3/2): frames WITHIN a shot share their
    * gradient group (fid DIV 4 = video·3 + shot) and differ only in the
    * row-7 perturbation (id MOD 4 = frame-in-shot), so their dHash
    * hamming is ≤ 7 BY CONSTRUCTION at any scale (the shot's 3 ids can
    * never straddle a multiple of 1024, so the coarse shift term is
    * constant within a shot); across a boundary the group changes and
    * the ramps are unrelated. Every frame is a REAL PNG encode → ImageIO
    * decode → dHash; the DuckDB oracle rebuilds the hashes arithmetically
    * (the q190 pattern) and replays the same LAG window.
    *
    * Scale shape: decode is one map-only pass over distinct frames; the
    * cut scan is a per-video LAG — one hash-partition exchange on video,
    * no pair blowup at all (this is the cheap half of the video family;
    * q190's inverted-index join is the expensive half). */
  def sceneCuts(spark: SparkSession, dir: String, threshold: Int = 10)
      : DataFrame = {
    import spark.implicits._
    val frames = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id").as("video"))
      .withColumn("f", explode(sequence(lit(0L), lit(7L))))
      .withColumn("shot",
        when(col("f") < 3, 0L).when(col("f") < 6, 1L).otherwise(2L))
      .withColumn("fid",
        (col("video") * 3 + col("shot")) * 4 + (col("f") - col("shot") * 3))
    val hashes = dhashAssets(
      videoFramePngAssetsOfIds(
        frames.select(col("fid")).distinct().as[Long]
          .repartition(spark.sparkContext.defaultParallelism)))
      .toDF().select(col("asset_id").as("fid"), col("dhash"))
      .localCheckpoint()
    val w = Window.partitionBy("video").orderBy("f")
    frames.join(hashes, "fid")
      .select(col("video"), col("f"), col("dhash"))
      .withColumn("prev", lag(col("dhash"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("video"), col("f").as("frame_no"),
        expr("CAST(bit_count(dhash ^ prev) AS BIGINT)").as("hamming"))
      .withColumn("is_cut", (col("hamming") > threshold).cast("int"))
      .orderBy("video", "frame_no")
  }

  final case class ResizedBlock(asset_id: Long, bx: Long, by: Long,
      lum: Long)

  /** q217: image RESIZE — the multimodal transform the feature/hash
    * queries skip: a 2× box-filter downscale (exact area average over
    * aligned 2×2 blocks of the REAL ImageIO-decoded raster), emitting
    * one luminance per output pixel. Integral-factor box filtering is
    * exactly what `SCALE_AREA_AVERAGING` computes; doing the average
    * explicitly over the decoded pixels keeps it integer-exact, so the
    * DuckDB oracle rebuilds every output value arithmetically from the
    * gradient synthesis — the decode→resize path is hash-compared end
    * to end (the q75/q168 recipe).
    *
    * Scale shape: one mapPartitions decode pass over the (pre-spread)
    * asset ids — the q42 batch shape — with 16 output rows per asset
    * and no shuffle before the final presentation sort. */
  def resizeQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    syntheticGradientPngAssets(spark, dir)
      .mapPartitions { it =>
        imageIoNoDiskCache()
        it.grouped(64).flatMap(_.flatMap { a =>
          val img =
            try javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(a.media))
            catch { case _: Exception => null }
          if (img == null) Seq.empty[ResizedBlock]
          else (0 until 4).flatMap { by =>
            (0 until 4).map { bx =>
              var s = 0L
              var dy = 0
              while (dy < 2) {
                var dx = 0
                while (dx < 2) {
                  s += (img.getRGB(bx * 2 + dx, by * 2 + dy) & 0xFF)
                  dx += 1
                }
                dy += 1
              }
              ResizedBlock(a.asset_id, bx.toLong, by.toLong, s / 4)
            }
          }
        })
      }
      .toDF()
      .orderBy("asset_id", "by", "bx")
  }

  /** q249: CROSS-MODAL takedown closure — q247 extended through every
    * modality's near-dup graph. A removal request covers the document
    * AND its extracted media: a named doc's text near-dups (q57
    * clusters), image near-dups (q178), audio near-dups (q198), and
    * video near-dups (q199) all go with it — real takedown obligations
    * (DMCA, opt-out, PII erasure) attach to the CONTENT, not to one
    * modality's fingerprint of it. The request feed is q247's
    * deterministic `doc_id % 29 = 11` slice; verdicts are the same
    * audit vocabulary plus `n_flagged` — how many modalities'
    * clusters tie the doc to a named one (removed_direct docs flag in
    * all of their modalities by construction).
    *
    * Scale shape (VERDICT r13 #1 — the setup/probe split): the four
    * modality clusterings are MAINTAINED STATE, not per-audit work. A
    * real warehouse builds them at ingest and maintains them
    * incrementally ([[graft.operators.ClusterStore]] — the q225/q233
    * band-index discipline extended to clusters; ClusterStoreSpec pins
    * maintained == rebuilt under append + delete per modality), while
    * takedown is a RECURRING obligation over those slowly-changing
    * tables. So the audit prices as a PROBE: read the four persisted
    * cluster tables and run ONE window over (modality, cluster_id) —
    * cardinality ~ 4×docs, no skew funnel — plus a per-doc rollup that
    * rides the window's partitioning. No traversal (the persisted
    * clusterings already did it), and no corpus decode anywhere in the
    * audit path. The store build itself (memoized per corpus dir —
    * maintained state persists across audits exactly as it would
    * across scheduler runs) runs its four independent pipelines from
    * four driver threads under named, cancellable job groups
    * ([[graft.operators.ClusterStore.buildAll]]). */
  /** Memoized per-corpus-dir cluster-store root shared by q249's audit
    * and q251's apply path: the four modality cluster tables persist
    * across invocations the way warehouse state persists across
    * scheduler runs — the first caller builds, every later audit
    * probes. */
  // memoized as a lazy cell, NOT built inside computeIfAbsent: the
  // four-modality build runs minutes of Spark jobs, and holding the
  // map's bin lock that long would stall an unrelated corpus dir
  // hashing to the same bin. computeIfAbsent only installs the cell
  // (cheap); the build runs under the cell's own lazy-init lock, so
  // concurrent callers for the SAME dir still build exactly once.
  private val clusterStoreRoots =
    new java.util.concurrent.ConcurrentHashMap[String, () => String]()

  private[graft] def modalityClusterRoot(spark: SparkSession,
      dir: String): String =
    clusterStoreRoots.computeIfAbsent(dir, _ => {
      lazy val built: String = {
        // registered fixture root — deleted on driver exit; a real
        // warehouse keeps its stores under the catalog root instead
        val root = graft.TempRoots.create("graft-cluster-store")
        graft.operators.ClusterStore.buildAll(spark, dir, root)
        root
      }
      () => built
    })()

  /** The four persisted cluster tables as one
    * (doc_id, modality, cluster_id) frame — q249's and q251's shared
    * probe input. */
  private[graft] def modalityClusters(spark: SparkSession,
      root: String): DataFrame =
    Seq("text", "image", "audio", "video").map { m =>
      graft.layout.DeletionVectors.readPath(spark, s"$root/$m/clusters")
        .select(col("doc_id"), lit(m).as("modality"), col("cluster_id"))
    }.reduce(_ unionByName _)

  def crossmodalTakedown(spark: SparkSession, dir: String): DataFrame = {
    // maintained state: built once per corpus (setup), probed per audit
    val root = graft.BenchPhases.setup("q249_crossmodal_takedown") {
      modalityClusterRoot(spark, dir)
    }
    takedownVerdicts(spark, root).orderBy("doc_id")
  }

  /** q249's closure PROBE over the persisted cluster tables — one
    * window + one rollup, shared with q251's apply path (which deletes
    * the non-retained docs this emits). */
  private[graft] def takedownVerdicts(spark: SparkSession,
      root: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = modalityClusters(spark, root)
    val wC = Window.partitionBy(col("modality"), col("cluster_id"))
    u.withColumn("is_named", (col("doc_id") % 29 === 11).cast("int"))
      .withColumn("cluster_named", max(col("is_named")).over(wC))
      .groupBy("doc_id")
      .agg(max(col("is_named")).as("is_named"),
        max(col("cluster_named")).as("any_named"),
        countDistinct(when(col("cluster_named") === 1,
          col("modality"))).as("n_flagged"))
      .select(col("doc_id"),
        when(col("is_named") === 1, lit("removed_direct"))
          .when(col("any_named") === 1, lit("removed_duplicate"))
          .otherwise(lit("retained")).as("verdict"),
        col("n_flagged"))
  }

  /** q251: the takedown APPLY path — q249's verdicts EXECUTED against
    * the warehouse, atomically across modalities. The staged corpus
    * (bronze.docs) and its three media tables (bronze.images,
    * bronze.audio, bronze.video — one asset row per doc, six frame
    * rows per video; fixture-arithmetic so DuckDB replays the counts)
    * are committed as pipeline epoch 1; the probe then deletes every
    * non-retained doc's rows from ALL FOUR tables through the
    * merge-on-read set-membership delete
    * ([[graft.layout.DeletionVectors.deleteKeys]] — the flagged-ids
    * frame left-semi joins each table, never a driver-collected
    * IN-list) and stamps ONE pipeline epoch over the four post-delete
    * versions. An epoch-resolved reader therefore sees the takedown
    * all-or-nothing: epoch 1 has every modality of every doc, epoch 2
    * has NO modality of any flagged doc — never a doc gone from text
    * but alive as audio (TakedownApplySpec pins both sides). Output =
    * per-table live row counts read THROUGH the committed epoch, one
    * union-aggregate plan (the q250 job-shape discipline).
    *
    * Scale shape: verdicts probe the PERSISTED cluster tables (q249's
    * setup/probe split); each delete is O(matched positions +
    * file-count metadata) sidecar growth; the epoch commit is
    * metadata. Nothing decodes media and nothing rewrites data files
    * on the apply path.
    *
    * The cluster STORES deliberately keep the flagged docs' signatures
    * and edges: a takedown obligation attaches to the CONTENT, so a
    * re-upload (or a near-dup arriving later) must still fold into the
    * named doc's cluster and flag — deleting the graph rows would
    * amnesty future copies. The stores are audit/index state, not
    * servable corpus; the corpus tables are what the delete scrubs. */
  private[graft] val TakedownPipe = "takedown"
  private[graft] val TakedownTables = Seq("bronze.audio", "bronze.docs",
    "bronze.images", "bronze.video")

  /** q251's fixture: corpus + three media tables in a fresh warehouse,
    * committed as pipeline epoch 1 (the pre-takedown generation every
    * table agrees on). */
  private[graft] def stageTakedownTables(spark: SparkSession,
      dir: String): graft.catalog.Catalog = {
    val whRoot = graft.TempRoots.create("graft-q251")
    val c = new graft.catalog.Catalog(spark, s"$whRoot/wh")
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    c.create(docs, "bronze", "docs")
    c.create(docs.select(col("doc_id")), "bronze", "images")
    c.create(docs.select(col("doc_id")), "bronze", "audio")
    c.create(docs.select(col("doc_id"),
      explode(sequence(lit(0L), lit(5L))).as("frame_no")),
      "bronze", "video")
    graft.pipeline.PipelineEpoch.commit(spark, c, TakedownPipe,
      TakedownTables)
    c
  }

  /** q251's APPLY core: delete the non-retained docs' rows from all
    * four tables (merge-on-read set-membership delete), then stamp ONE
    * pipeline epoch over the post-delete versions. Returns the
    * committed epoch. */
  private[graft] def takedownApplyInto(spark: SparkSession,
      storeRoot: String, cat: graft.catalog.Catalog): Int = {
    // the flagged set crosses four semi-joins — pin it once
    val flagged = takedownVerdicts(spark, storeRoot)
      .filter(col("verdict") =!= "retained")
      .select("doc_id")
      .localCheckpoint()
    // the four per-table deletes are INDEPENDENT commits on disjoint
    // tables — run them from a small thread pool so each table's delete
    // back-fills the others' driver/commit latency (guide §2.6 "overlap
    // independent jobs"); the epoch commit below still happens strictly
    // after all four
    locally {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(TakedownTables.size)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try {
        val deletes = TakedownTables.map { t =>
          Future {
            val Array(layer, tbl) = t.split('.')
            graft.layout.DeletionVectors.deleteKeys(spark,
              cat.path(layer, tbl), flagged, Seq("doc_id"))
          }
        }
        // settle EVERY delete before surfacing a failure: failing on the
        // first error would unwind the caller while sibling deletes are
        // still committing
        deletes.map(f => Await.ready(f, Duration.Inf).value.get)
          .collectFirst { case scala.util.Failure(e) => throw e }
      } finally pool.shutdown()
    }
    val ep = graft.pipeline.PipelineEpoch.commit(spark, cat,
      TakedownPipe, TakedownTables)
    graft.Pin.release(flagged)
    ep
  }

  def takedownApply(spark: SparkSession, dir: String): DataFrame = {
    val (cat, storeRoot) = graft.BenchPhases.setup("q251_takedown_apply") {
      (stageTakedownTables(spark, dir), modalityClusterRoot(spark, dir))
    }
    val ep = takedownApplyInto(spark, storeRoot, cat)
    // per-table counts through the committed epoch as ONE plan
    TakedownTables.map { t =>
      graft.pipeline.PipelineEpoch.readAt(spark, cat, TakedownPipe, t, ep)
        .select(lit(t).as("table_name"))
    }.reduce(_ unionByName _)
      .groupBy("table_name")
      .agg(count(lit(1)).as("n_live"))
      .orderBy("table_name")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q249_crossmodal_takedown" -> (crossmodalTakedown _),
    "q251_takedown_apply" -> (takedownApply _),
    "q217_image_resize"  ->
      ((s: SparkSession, d: String) => resizeQuery(s, d)),
    "q205_scene_cuts"    ->
      ((s: SparkSession, d: String) => sceneCuts(s, d)),
    "q168_image_dhash"   -> (dhashQuery _),
    "q169_image_neardup" ->
      ((s: SparkSession, d: String) => imageNearDupQuery(s, d)),
    "q178_image_dedup_clusters" -> (imageDedupClusters _),
    "q42_multimodal_features"  -> (featureQuery _),
    "q43_multimodal_frames"    -> (frameQuery _),
    "q190_video_neardup" ->
      ((s: SparkSession, d: String) => videoNearDup(s, d)),
    "q199_video_dedup_clusters" -> (videoDedupClusters _),
    "q75_multimodal_roundtrip" -> (roundtripQuery _))

  /** q199: the video dedup ACTION — q190's shared-frame pairs fold into
    * connected components with a min-id representative, completing the
    * cluster stage for the last modality (text q57/q102, image q178,
    * audio q198). Isolated videos are their own singleton clusters, so
    * the output is the full per-video keep/drop decision. */
  def videoDedupClusters(spark: SparkSession, dir: String): DataFrame = {
    // ONE cached signature frame feeds both sides of the shared-frame
    // join; q190's per-pair jaccard/sizes/orderBy are presentation-only
    // and CC consumes bare edges, so going through the declared q190
    // surface paid two sizes joins and a corpus-wide range sort that CC
    // immediately re-shuffled (r14; guide §2.4)
    val vf = videoSigsOf(graft.Tables.load(spark, dir, "documents"))
      .cache()
    vf.count() // materialize: the inverted-index join reads blocks
    val pairs = videoPairsOf(vf,
        vf.withColumn("is_new", lit(true)), minShared = 3)
      .select(col("vid_a").as("doc_a"), col("vid_b").as("doc_b"))
    val labels0 = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
    val cc = graft.operators.Dedup.connectedComponents(labels0, pairs)
    vf.unpersist(blocking = false)
    // videoSigsOf pins its decoded frame-hash table internally — free it
    graft.Pin.release(vf)
    cc.select(col("doc_id").as("video"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).cast("int").as("is_kept"))
      .orderBy("video")
  }

  // the q168 gradient fixture's dHash as pure arithmetic: bit (cx,cy) is
  // set iff (cx*73 + shift(cy, doc_id)) mod 256 < 183 (see
  // syntheticGradientPngAssets) — shared by the q168 and q169 oracles
  /** q190: near-duplicate VIDEO detection by shared perceptual frame
    * hashes — the video modality's dedup loop, closing the image (q169)
    * and audio (q136/q170) set. A "video" here is a sequence of six
    * frames per document; videos in the same triple (video DIV 3) share
    * their five-frame prefix (re-hosted content with a different outro —
    * the YouTube-dedup shape) and carry one unique tail frame. Every
    * frame is a REAL PNG encode → ImageIO decode → dHash; a video's
    * signature is its distinct frame-hash set; candidates come from the
    * inverted frame-hash index joined with itself (shared-frame count ≥
    * 3 gates the pair), and the score is the exact integer-ppm Jaccard
    * over the two signatures. The DuckDB oracle rebuilds the frame
    * dHashes arithmetically (the q168 pattern) and replays the same
    * joins — the REAL codec path is hash-compared end to end.
    *
    * Scale shape: decode cost is one pass over distinct frames
    * (mapPartitions, the q42 batch shape); candidate volume is
    * Σ_framehash (videos-with-it)² — intro/logo hub frames are the df
    * hazard, capped in production exactly like q182's shingle hubs. */
  def videoNearDup(spark: SparkSession, dir: String, minShared: Int = 3)
      : DataFrame = {
    val vf = videoSigsOf(graft.Tables.load(spark, dir, "documents"))
    val sizes = vf.groupBy("video").agg(count(lit(1)).as("n_frames"))
    val pairs = videoPairsOf(vf, vf.withColumn("is_new", lit(true)),
      minShared)
    // pin the slim pair result, then release videoSigsOf's internal
    // frame-hash pin — q199 already followed this discipline; q190 was
    // the one consumer leaving the pin ownerless (ADVICE r14)
    val fin = pairs
      .join(sizes.select(col("video").as("vid_a"), col("n_frames").as("na")),
        Seq("vid_a"))
      .join(sizes.select(col("video").as("vid_b"), col("n_frames").as("nb")),
        Seq("vid_b"))
      .select(col("vid_a"), col("vid_b"), col("shared_frames"),
        expr("1000000 * shared_frames DIV (na + nb - shared_frames)")
          .as("jaccard_ppm"))
      .orderBy("vid_a", "vid_b")
      .localCheckpoint()
    graft.Pin.release(vf)
    fin
  }

  /** Per-video SIGNATURE rows — the distinct decoded frame-hash set as
    * (video, dhash) rows — the state the persisted cluster store
    * ([[graft.operators.ClusterStore]]) indexes for the video modality.
    * The PNG encode→decode→dHash pass (the dominant cost) runs once per
    * distinct frame id of THIS slice and is pinned, so downstream
    * consumers (sizes, both pair sides) never re-run the codec. */
  private[graft] def videoSigsOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val frames = docs
      .select(col("doc_id").as("video"))
      .withColumn("f", explode(sequence(lit(0L), lit(5L))))
      .withColumn("fid",
        // id DIV 4 drives the gradient: (triple*6 + f) makes every
        // (triple, frame) a distinct ramp, while same-triple videos get
        // IDENTICAL fids for f<5 (the shared five-frame prefix); the
        // tail frame is unique per video in a PROVABLY disjoint id
        // range: prefix fids are ≡ {0,4,8,12,16} (mod 24), tail fids ≡
        // 20 (mod 24) — disjoint at any scale factor (ADVICE r7: the
        // old 400000+video*4 base collided with prefix fids once
        // 6·(video DIV 3)+f reached 100000+video). The stronger
        // property the 24-stride buys over the minimal +2 fix: a tail's
        // gradient GROUP (fid DIV 4 = 6·video+5, ≡ 5 mod 6) never
        // equals any prefix's group (≡ 0..4 mod 6), so tail-vs-prefix
        // ramps differ in ALL EIGHT rows, not just the row-7 perturb —
        // no near-collision family to get (un)lucky with.
        when(col("f") < 5, (col("video") / 3).cast("long") * 24 +
          col("f") * 4)
          .otherwise(col("video") * 24 + 20))
    // distinct() coalesces tiny shuffles to one partition under AQE —
    // spread the codec work back across the cores, and checkpoint the
    // decoded hashes so the signature self-join's two sides don't each
    // re-run the PNG round trip
    val hashes = dhashAssets(
      videoFramePngAssetsOfIds(
        frames.select(col("fid")).distinct().as[Long]
          .repartition(spark.sparkContext.defaultParallelism)))
      .toDF().select(col("asset_id").as("fid"), col("dhash"))
      .localCheckpoint()
    frames.join(hashes, "fid")
      .select("video", "dhash").distinct()
  }

  /** Shared-frame candidate pairs TOUCHING the probe side over
    * (video, dhash) signature rows — the incremental form the persisted
    * cluster store maintains. `index` includes the probe's rows and
    * carries `is_new` = true exactly on them; the `va < vb OR NOT
    * is_new` gate emits each new↔new pair once and each new↔old pair
    * once, so over probe = index = all the output is EXACTLY the full
    * inverted-index self-join's pair set (ClusterStoreSpec pins it).
    * The gate is shared distinct frames >= `minShared`. */
  private[graft] def videoPairsOf(probe: DataFrame, index: DataFrame,
      minShared: Int): DataFrame =
    probe.select(col("dhash"), col("video").as("va"))
      .join(index.select(col("dhash"), col("video").as("vb"),
        col("is_new")), Seq("dhash"))
      .filter(col("va") < col("vb") || !col("is_new"))
      .select(least(col("va"), col("vb")).as("vid_a"),
        greatest(col("va"), col("vb")).as("vid_b"))
      .groupBy("vid_a", "vid_b").agg(count(lit(1)).as("shared_frames"))
      .filter(col("shared_frames") >= minShared)

  /** Arithmetic rebuild of the gradient-PNG dHash for any id source —
    * `src` must expose a column `id`; the result has (asset_id, dhash).
    * `video = true` adds the q190 frame generator's second shift term. */
  private def dhashArithSqlOver(src: String, video: Boolean = false)
      : String = {
    val shiftTop =
      if (video)
        "(d.id // 4 * (2 * cy + 3) * 41 + d.id // 1024 * (2 * cy * cy + 5) * 17) % 256"
      else "(d.id // 4 * (2 * cy + 3) * 41) % 256"
    val shiftBot =
      if (video) "(d.id // 4 * 97 + d.id // 1024 * 29 + (d.id % 4) * 8) % 256"
      else "(d.id // 4 * 97 + (d.id % 4) * 8) % 256"
    s"""SELECT d.id AS asset_id,
         CAST(sum(CASE WHEN (cx * 73 +
             CASE WHEN cy < 7
               THEN $shiftTop
               ELSE $shiftBot
             END) % 256 < 183
           THEN (CAST(1 AS BIGINT) << (cy * 7 + cx)) ELSE 0 END)
           AS BIGINT) AS dhash
       FROM ($src) d,
         (SELECT unnest(range(0, 7)) AS cx),
         (SELECT unnest(range(0, 8)) AS cy)
       GROUP BY d.id"""
  }

  private val dhashArithSql: String =
    dhashArithSqlOver("SELECT doc_id AS id FROM documents")

  private val baseOracles: Map[String, String] = Map(
    // q217: every resized pixel rebuilt arithmetically from the
    // gradient synthesis (same shift formula as the dHash oracles) —
    // 2×2 integer area average, truncating DIV on both engines
    "q217_image_resize" ->
      """WITH px AS (
           SELECT doc_id AS asset_id, x, y,
             (x * 73 + CASE WHEN y < 7
                THEN (doc_id // 4 * (2 * y + 3) * 41) % 256
                ELSE (doc_id // 4 * 97 + (doc_id % 4) * 8) % 256
              END) % 256 AS g
           FROM documents,
             (SELECT unnest(range(0, 8)) AS x),
             (SELECT unnest(range(0, 8)) AS y))
         SELECT asset_id, CAST(x // 2 AS BIGINT) AS bx,
           CAST(y // 2 AS BIGINT) AS by,
           CAST(sum(g) // 4 AS BIGINT) AS lum
         FROM px GROUP BY asset_id, x // 2, y // 2
         ORDER BY asset_id, by, bx""",
    // q168: real PNG decode + dHash vs the arithmetic rebuild
    "q168_image_dhash" ->
      s"""WITH h AS ($dhashArithSql)
          SELECT asset_id, TRUE AS decoded, dhash
          FROM h ORDER BY asset_id""",
    // q169: same 4×14-bit band gate + exact hamming confirm
    "q169_image_neardup" ->
      s"""WITH h AS ($dhashArithSql),
          b AS (
            SELECT asset_id, dhash, band_no,
              (dhash >> (band_no * 14)) & 16383 AS band_val
            FROM h, (SELECT unnest(range(0, 4)) AS band_no)),
          p AS (
            SELECT DISTINCT l.asset_id AS id1, r.asset_id AS id2,
              l.dhash AS h1, r.dhash AS h2
            FROM b l JOIN b r ON l.band_no = r.band_no
              AND l.band_val = r.band_val AND l.asset_id < r.asset_id)
          SELECT id1, id2, CAST(bit_count(xor(h1, h2)) AS BIGINT) AS hamming
          FROM p WHERE bit_count(xor(h1, h2)) <= 6
          ORDER BY id1, id2""",
    // q190: the same frame-id arithmetic, the arithmetic dHash rebuild
    // over DISTINCT frame ids, and the same shared-frame join
    "q190_video_neardup" -> {
      val frameIds =
        """SELECT DISTINCT
             CASE WHEN f < 5 THEN (video // 3) * 24 + f * 4
                  ELSE video * 24 + 20 END AS id
           FROM (SELECT doc_id AS video FROM documents),
                (SELECT unnest(range(0, 6)) AS f)"""
      s"""WITH h AS (${dhashArithSqlOver(frameIds, video = true)}),
          fr AS (
            SELECT video,
              CASE WHEN f < 5 THEN (video // 3) * 24 + f * 4
                   ELSE video * 24 + 20 END AS fid
            FROM (SELECT doc_id AS video FROM documents),
                 (SELECT unnest(range(0, 6)) AS f)),
          vf AS (
            SELECT DISTINCT fr.video, h.dhash
            FROM fr JOIN h ON h.asset_id = fr.fid),
          sz AS (
            SELECT video, CAST(count(*) AS BIGINT) AS n
            FROM vf GROUP BY video),
          p AS (
            SELECT a.video AS vid_a, b.video AS vid_b,
              CAST(count(*) AS BIGINT) AS shared_frames
            FROM vf a JOIN vf b
              ON a.dhash = b.dhash AND a.video < b.video
            GROUP BY 1, 2
            HAVING count(*) >= 3)
          SELECT p.vid_a, p.vid_b, p.shared_frames,
            1000000 * p.shared_frames
              // (sa.n + sb.n - p.shared_frames) AS jaccard_ppm
          FROM p
          JOIN sz sa ON sa.video = p.vid_a
          JOIN sz sb ON sb.video = p.vid_b
          ORDER BY vid_a, vid_b"""
    },
    // q199: q190's shared-frame pairs closed transitively, min id kept
    "q199_video_dedup_clusters" -> {
      val frameIds =
        """SELECT DISTINCT
             CASE WHEN f < 5 THEN (video // 3) * 24 + f * 4
                  ELSE video * 24 + 20 END AS id
           FROM (SELECT doc_id AS video FROM documents),
                (SELECT unnest(range(0, 6)) AS f)"""
      s"""WITH RECURSIVE h AS (${dhashArithSqlOver(frameIds, video = true)}),
          fr AS (
            SELECT video,
              CASE WHEN f < 5 THEN (video // 3) * 24 + f * 4
                   ELSE video * 24 + 20 END AS fid
            FROM (SELECT doc_id AS video FROM documents),
                 (SELECT unnest(range(0, 6)) AS f)),
          vf AS (
            SELECT DISTINCT fr.video, h.dhash
            FROM fr JOIN h ON h.asset_id = fr.fid),
          p AS (
            SELECT a.video AS id1, b.video AS id2
            FROM vf a JOIN vf b
              ON a.dhash = b.dhash AND a.video < b.video
            GROUP BY 1, 2
            HAVING count(*) >= 3),
          e AS (SELECT id1 AS s, id2 AS t FROM p
                UNION SELECT id2, id1 FROM p),
          reach(d_id, r) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT reach.d_id, e.t FROM reach JOIN e ON reach.r = e.s)
          SELECT d_id AS video, MIN(r) AS cluster_id,
            CAST(d_id = MIN(r) AS INTEGER) AS is_kept
          FROM reach GROUP BY d_id ORDER BY video"""
    },
    // q178: the q169 band-gate pairs closed transitively (the q57
    // recursive-CTE pattern), min id kept per component
    "q178_image_dedup_clusters" ->
      s"""WITH RECURSIVE h AS ($dhashArithSql),
          b AS (
            SELECT asset_id, dhash, band_no,
              (dhash >> (band_no * 14)) & 16383 AS band_val
            FROM h, (SELECT unnest(range(0, 4)) AS band_no)),
          p AS (
            SELECT DISTINCT l.asset_id AS id1, r.asset_id AS id2
            FROM b l JOIN b r ON l.band_no = r.band_no
              AND l.band_val = r.band_val AND l.asset_id < r.asset_id
            WHERE bit_count(xor(l.dhash, r.dhash)) <= 6),
          e AS (SELECT id1 AS s, id2 AS t FROM p
                UNION SELECT id2, id1 FROM p),
          reach(d_id, r) AS (
            SELECT asset_id, asset_id FROM h
            UNION
            SELECT reach.d_id, e.t FROM reach JOIN e ON reach.r = e.s)
          SELECT d_id AS asset_id, MIN(r) AS cluster_id,
            CAST(d_id = MIN(r) AS INTEGER) AS is_kept
          FROM reach GROUP BY d_id ORDER BY asset_id""",
    // q205: arithmetic dHash rebuild over the shot-structured frame ids,
    // then the same per-video LAG window
    "q205_scene_cuts" -> {
      val frameIds =
        """SELECT DISTINCT
             (video * 3 + CASE WHEN f < 3 THEN 0 WHEN f < 6 THEN 1
                          ELSE 2 END) * 4 +
             (f - (CASE WHEN f < 3 THEN 0 WHEN f < 6 THEN 1 ELSE 2 END) * 3)
               AS id
           FROM (SELECT doc_id AS video FROM documents),
                (SELECT unnest(range(0, 8)) AS f)"""
      s"""WITH h AS (${dhashArithSqlOver(frameIds, video = true)}),
          fr AS (
            SELECT video, f,
              (video * 3 + CASE WHEN f < 3 THEN 0 WHEN f < 6 THEN 1
                           ELSE 2 END) * 4 +
              (f - (CASE WHEN f < 3 THEN 0 WHEN f < 6 THEN 1 ELSE 2 END) * 3)
                AS fid
            FROM (SELECT doc_id AS video FROM documents),
                 (SELECT unnest(range(0, 8)) AS f)),
          j AS (
            SELECT fr.video, fr.f, h.dhash
            FROM fr JOIN h ON h.asset_id = fr.fid),
          lagd AS (
            SELECT video, f, dhash,
              lag(dhash) OVER (PARTITION BY video ORDER BY f) AS prev
            FROM j)
          SELECT video, f AS frame_no,
            CAST(bit_count(xor(dhash, prev)) AS BIGINT) AS hamming,
            CAST(bit_count(xor(dhash, prev)) > 10 AS INTEGER) AS is_cut
          FROM lagd WHERE prev IS NOT NULL
          ORDER BY video, frame_no"""
    },
    // q42: per-pixel arithmetic rebuild of the gradient image's 8-bin
    // luminance histogram (same shift family as dhashArithSqlOver; the
    // uniform-gray pixel's luminance is exactly its gray level)
    "q42_multimodal_features" ->
      """WITH px AS (
           SELECT doc_id AS asset_id,
             (cx * 73 + CASE WHEN cy < 7
                THEN (doc_id // 4 * (2 * cy + 3) * 41) % 256
                ELSE (doc_id // 4 * 97 + (doc_id % 4) * 8) % 256
              END) % 256 AS g
           FROM documents,
             (SELECT unnest(range(0, 8)) AS cx),
             (SELECT unnest(range(0, 8)) AS cy))
         SELECT asset_id, TRUE AS decoded,
           CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
           CAST(sum(CASE WHEN g // 32 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b0,
           CAST(sum(CASE WHEN g // 32 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
           CAST(sum(CASE WHEN g // 32 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS b2,
           CAST(sum(CASE WHEN g // 32 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS b3,
           CAST(sum(CASE WHEN g // 32 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS b4,
           CAST(sum(CASE WHEN g // 32 = 5 THEN 1 ELSE 0 END) AS BIGINT) AS b5,
           CAST(sum(CASE WHEN g // 32 = 6 THEN 1 ELSE 0 END) AS BIGINT) AS b6,
           CAST(sum(CASE WHEN g // 32 = 7 THEN 1 ELSE 0 END) AS BIGINT) AS b7
         FROM px GROUP BY asset_id ORDER BY asset_id""",
    // q43 is pure arithmetic on byte lengths:
    "q43_multimodal_frames" ->
      """SELECT doc_id AS asset_id, frame_no,
         CAST(frame_no * octet_length(CAST(text AS BLOB)) // 4 AS BIGINT) AS offset_bytes
         FROM documents, (SELECT unnest([0,1,2,3]) AS frame_no)
         ORDER BY asset_id, frame_no""",
    // q75: the decode outputs are doc_id arithmetic by construction
    "q75_multimodal_roundtrip" ->
      """SELECT doc_id AS asset_id,
         CAST(1 + doc_id % 7 AS INTEGER) AS width,
         CAST(1 + doc_id % 5 AS INTEGER) AS height,
         TRUE AS decoded,
         CAST((doc_id % 256) // 32 AS INTEGER) AS lum_bin
         FROM documents ORDER BY asset_id""")

  // q249/q251: the four modalities' ALREADY-VERIFIED cluster oracles
  // composed as derived tables (DuckDB admits WITH RECURSIVE in a
  // subquery), then the same window closure the Spark side runs
  private lazy val takedownCte: String = {
    val parts = Seq(
      "SELECT doc_id, 'text' AS modality, cluster_id FROM (" +
        graft.operators.Dedup.oracles("q57_dedup_clusters") + ")",
      "SELECT asset_id AS doc_id, 'image' AS modality, cluster_id FROM (" +
        baseOracles("q178_image_dedup_clusters") + ")",
      "SELECT asset_id AS doc_id, 'audio' AS modality, cluster_id FROM (" +
        Audio.oracles("q198_audio_dedup_clusters") + ")",
      "SELECT video AS doc_id, 'video' AS modality, cluster_id FROM (" +
        baseOracles("q199_video_dedup_clusters") + ")")
    s"""WITH u AS (${parts.mkString("\nUNION ALL\n")}),
        f AS (
          SELECT doc_id, modality,
            MAX(CASE WHEN doc_id % 29 = 11 THEN 1 ELSE 0 END)
              OVER (PARTITION BY modality, cluster_id) AS cluster_named
          FROM u),
        g AS (
          SELECT doc_id,
            MAX(CASE WHEN doc_id % 29 = 11 THEN 1 ELSE 0 END) AS is_named,
            MAX(cluster_named) AS any_named,
            CAST(count(DISTINCT CASE WHEN cluster_named = 1
              THEN modality END) AS BIGINT) AS n_flagged
          FROM f GROUP BY doc_id)"""
  }

  val oracles: Map[String, String] = baseOracles +
    ("q249_crossmodal_takedown" ->
      s"""$takedownCte
          SELECT doc_id,
            CASE WHEN is_named = 1 THEN 'removed_direct'
                 WHEN any_named = 1 THEN 'removed_duplicate'
                 ELSE 'retained' END AS verdict,
            n_flagged
          FROM g ORDER BY doc_id""") +
    // q251: live = docs minus the flagged set (is_named OR any_named),
    // six frame rows per video — pure arithmetic over the verdict CTE
    ("q251_takedown_apply" ->
      s"""$takedownCte,
          fl AS (SELECT CAST(count(*) AS BIGINT) AS n_flagged
            FROM g WHERE is_named = 1 OR any_named = 1),
          nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs
            FROM documents)
          SELECT t.table_name, t.n_live FROM (
            SELECT 'bronze.audio' AS table_name,
              nd.n_docs - fl.n_flagged AS n_live FROM nd, fl
            UNION ALL SELECT 'bronze.docs',
              nd.n_docs - fl.n_flagged FROM nd, fl
            UNION ALL SELECT 'bronze.images',
              nd.n_docs - fl.n_flagged FROM nd, fl
            UNION ALL SELECT 'bronze.video',
              6 * (nd.n_docs - fl.n_flagged) FROM nd, fl
          ) t ORDER BY t.table_name""")
}
