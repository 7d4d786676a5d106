package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Artifact, Entries, Entry, Scratch, Tables}

/** Multimodal-column operators (SURVEY.md §7.3 M5): image/audio/video
  * payloads as opaque `binary` columns with typed metadata, plus
  * decode / frame-sample / feature-extract plumbing.
  *
  * The corpus has no real media, so payloads are derived deterministically
  * from `documents.text` (`encode(text, 'utf-8')`) — an opaque byte stream
  * as far as every operator here is concerned. For the decode operator
  * (m03) each asset is first SYNTHESIZED into a genuine PNG (grayscale
  * pixels from the payload bytes, compressed by the JDK's PNG encoder) and
  * then DECODED with a real codec — `javax.imageio`'s PNG reader parsing
  * real IDAT chunks — so the decode stage exercises an actual
  * decompressor, not a byte-statistics stand-in. Swapping in libpng/ffmpeg
  * for other mime types changes only the per-row codec call; the Spark
  * plumbing (schema, typed `Dataset` batching through `mapPartitions`,
  * partition spreading) is the same and is oracle-/spec-tested.
  *
  * Scale notes: media payloads dominate row size, so the operators keep
  * them un-exploded until the last step (frame sampling slices lazily via
  * `substring`, never materializing per-frame rows before the filter), and
  * the feature extractor is a `mapPartitions` pass — one iterator per
  * partition, the Scala-native equivalent of `mapInPandas` batch UDFs, no
  * per-row closure dispatch.
  */
object Multimodal extends Entries {

  private val FrameBytes = 32  // fake "frame" stride in the byte stream
  private val SampleEvery = 4  // keep every 4th frame
  private val FeatureDim = 8

  /** The media table: opaque binary payload + typed metadata struct.
    * Metadata is derived (mime from the source system, byte length from the
    * payload) — the schema a real ingest would carry. */
  def media(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        encode(col("text"), "utf-8").as("payload"),
        struct(
          when(col("source").isin("src0", "src1", "src2"), "image/png")
            .when(col("source").isin("src3", "src4", "src5"), "audio/wav")
            .otherwise("video/mp4").as("mime"),
          length(encode(col("text"), "utf-8")).as("n_bytes"),
          col("lang").as("lang")).as("meta"))

  // === m01 — payload metadata ================================================

  /** Binary-column metadata scan: digest, size, leading-bytes magic — the
    * "what is in this blob" pass that runs before any decode. */
  def m01BinaryMeta(s: SparkSession, d: String): DataFrame =
    media(s, d).select(
      col("doc_id"),
      col("meta.mime").as("mime"),
      col("meta.n_bytes").cast(LongType).as("n_bytes"),
      md5(col("payload")).as("digest"),
      lower(hex(substring(col("payload"), 1, 8))).as("magic"))
      .orderBy(col("doc_id"))

  /** DuckDB 1.0 has no md5/substr over BLOB; the corpus text is pure ASCII
    * (verified: octet_length(encode(text)) = length(text) at every SF), so
    * the byte-level semantics are expressed losslessly on the VARCHAR. */
  val m01Sql: String =
    """SELECT doc_id,
      |  CASE WHEN source IN ('src0', 'src1', 'src2') THEN 'image/png'
      |       WHEN source IN ('src3', 'src4', 'src5') THEN 'audio/wav'
      |       ELSE 'video/mp4' END AS mime,
      |  length(text) AS n_bytes,
      |  md5(text) AS digest,
      |  lower(hex(encode(substr(text, 1, 8)))) AS magic
      |FROM documents ORDER BY doc_id""".stripMargin

  // === m02 — frame sampling ==================================================

  /** Frame sampling over the byte stream: 32-byte frames, every 4th kept.
    * The sequence of kept frame indexes is generated first and the payload
    * sliced per kept frame — the pre-filter frames never exist as rows. */
  def m02FrameSample(s: SparkSession, d: String): DataFrame =
    media(s, d)
      .withColumn("frame_no", explode(expr(
        s"sequence(0, int(floor((meta.n_bytes - 1) / $FrameBytes)), $SampleEvery)")))
      .select(col("doc_id"), col("frame_no").cast(LongType).as("frame_no"),
        md5(substring(col("payload"), col("frame_no") * FrameBytes + 1, lit(FrameBytes)))
          .as("frame_digest"))
      .orderBy(col("doc_id"), col("frame_no"))

  /** The frame-index generator's bound is derived from the corpus's own
    * max document length (the Spark side's `sequence()` is per-row unbounded
    * — a fixed literal bound would silently diverge on longer documents). */
  val m02Sql: String =
    s"""SELECT doc_id, frame_no,
       |  md5(substr(text, frame_no * $FrameBytes + 1, $FrameBytes)) AS frame_digest
       |FROM documents,
       |  (SELECT unnest(range(0,
       |     (SELECT CAST(floor((max(length(text)) - 1) / $FrameBytes) AS BIGINT) + 1
       |      FROM documents), $SampleEvery)) AS frame_no)
       |WHERE frame_no <= floor((length(text) - 1) / $FrameBytes)
       |ORDER BY doc_id, frame_no""".stripMargin

  // === m03 — decode + feature extraction (real PNG codec) ====================

  private val ImgSide = 16 // synthesized assets are ImgSide² grayscale PNGs

  /** Synthesize a genuine PNG asset: the first ImgSide² payload bytes
    * (zero-padded — an empty payload is a valid all-black asset) become a
    * grayscale raster compressed through the JDK's PNG encoder. This is the
    * corpus-synthesis step a real ingest wouldn't need; everything after it
    * treats the bytes as opaque media. */
  private[graft] def encodePng(payload: Array[Byte]): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      ImgSide, ImgSide, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var i = 0
    while (i < ImgSide * ImgSide) {
      val v = if (i < payload.length) payload(i) & 0xff else 0
      raster.setSample(i % ImgSide, i / ImgSide, 0, v)
      i += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** REAL decode: `javax.imageio`'s PNG reader inflates the IDAT stream
    * back to a raster; features = mean pixel per horizontal band
    * (FeatureDim bands). Deterministic because PNG is lossless — the
    * decoded raster is bit-identical to the synthesized one. */
  private[graft] def decodeFeatures(png: Array[Byte]): (Int, Int, Array[Double]) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    val (w, h) = (img.getWidth, img.getHeight)
    (w, h, featureBands(img.getRaster, w, h))
  }

  /** Band-mean feature core over an already-decoded raster (the arithmetic
    * of [[decodeFeatures]], factored so the shared one-decode pass
    * ([[mediaDecoded]]) computes every signature from a single codec
    * call). */
  private def featureBands(raster: java.awt.image.Raster, w: Int,
      h: Int): Array[Double] = {
    val rowsPerBand = math.max(1, h / FeatureDim)
    val feats = Array.tabulate(FeatureDim) { b =>
      val y0 = math.min(h, b * rowsPerBand)
      val y1 = if (b == FeatureDim - 1) h else math.min(h, y0 + rowsPerBand)
      var sum = 0L
      var n = 0
      var y = y0
      while (y < y1) {
        var x = 0
        while (x < w) { sum += raster.getSample(x, y, 0); n += 1; x += 1 }
        y += 1
      }
      if (n == 0) 0.0 else sum.toDouble / n
    }
    feats
  }

  /** The shared one-decode pass: EVERY per-asset signature the m-family
    * derives from the decoded raster — band features (m03), perceptual
    * hash (m04, m11), resize checksums (m05) — computed from a SINGLE
    * `javax.imageio` decode per asset, materialized as parquet once per
    * (session, corpus) and memoized. Before round 7 each of
    * m03/m04/m05/m11 ran its own decode pass over the whole asset table
    * (four full codec scans), and m11's star-edge list carried the decode
    * lineage into the label loop on `.cache()` only — one eviction under
    * a loaded driver re-decoded the corpus per loop round (the r6 driver
    * measured m11 at 230 s vs 7.9 s idle). Parquet-materializing here
    * bounds the lineage of every consumer to a plain columnar scan, the
    * same discipline as [[graft.operators.Dedup.shingled]]; at 100 TB
    * "decode once, persist signatures, join on them" is the only viable
    * shape — a codec pass is orders of magnitude more expensive than the
    * scans that consume its output. */
  private[graft] val mediaDecoded: Artifact[DataFrame] =
    Artifact("media_decoded") { (s, d) =>
      import s.implicits._
      val out = Scratch.path("media_decoded", d, s)
      media(s, d)
        .repartition(32, col("doc_id")) // single-file input → spread codec work
        .select(col("doc_id"), col("payload"), col("meta.mime").as("mime"))
        .as[(Long, Array[Byte], String)]
        .mapPartitions { it =>
          // per-partition codec setup: no disk-backed stream cache
          javax.imageio.ImageIO.setUseCache(false)
          it.map { case (id, payload, mime) =>
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(encodePng(payload)))
            val (w, h) = (img.getWidth, img.getHeight)
            val raster = img.getRaster
            val feats = featureBands(raster, w, h)
            val cells = resizeOfRaster(raster, w, h)
            (id, mime, w, h, feats, phashOfRaster(raster),
              cells.map(_.toLong).sum, cells.max, patchOfRaster(raster))
          }
        }
        .toDF("doc_id", "mime", "width", "height", "features", "phash",
          "pix_sum", "pix_max", "patch_means")
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
    }

  /** Typed-Dataset feature extraction: one `mapPartitions` pass (iterator
    * in, iterator out — the batch shape a codec wants: per-partition setup,
    * no per-row closure dispatch). The corpus arrives as one parquet file,
    * so the pass is spread across cores first. FULL oracle since round 3
    * (see [[m03Sql]]); decode round-trip and shape also spec-tested and
    * golden-pinned. */
  def m03Features(s: SparkSession, d: String): DataFrame =
    mediaDecoded(s, d)
      .select(col("doc_id"), col("mime"), col("width"), col("height"),
        round(expr("aggregate(features, CAST(0 AS DOUBLE), (a, v) -> a + v)"), 6)
          .as("feature_sum"))
      .orderBy(col("doc_id"))

  /** m03 oracle (the m05 reconstruction move): band b's feature is the mean
    * of source bytes 32b..32b+31, and /32 is a power-of-two division — every
    * band mean is an EXACT double, so the 8-term sum is exact under any
    * order and the DuckDB twin (no codec) must agree to the last bit. */
  val m03Sql: String =
    """WITH px AS (
      |  SELECT doc_id, j // 32 AS band,
      |    CASE WHEN j < length(text) THEN ascii(substr(text, j + 1, 1))
      |         ELSE 0 END AS v
      |  FROM documents, (SELECT unnest(range(0, 256)) AS j)),
      |b AS (SELECT doc_id, band, CAST(SUM(v) AS DOUBLE) / 32 AS m
      |      FROM px GROUP BY doc_id, band)
      |SELECT b.doc_id,
      |  CASE WHEN d.source IN ('src0','src1','src2') THEN 'image/png'
      |       WHEN d.source IN ('src3','src4','src5') THEN 'audio/wav'
      |       ELSE 'video/mp4' END AS mime,
      |  16 AS width, 16 AS height, round(SUM(m), 6) AS feature_sum
      |FROM b JOIN documents d ON d.doc_id = b.doc_id
      |GROUP BY b.doc_id, mime ORDER BY b.doc_id""".stripMargin

  // === m04 — perceptual-hash media dedup =====================================

  /** 64-bit perceptual hash of a decoded asset's raster, called by the
    * shared one-decode pass [[mediaDecoded]]: the 16×16 raster is
    * averaged into an 8×8 grid and each cell contributes one bit (above
    * the grid mean). Visually identical assets hash identically; small
    * pixel edits flip few bits — the classic pHash construction (DCT
    * omitted: block means are its low-frequency essence and stay
    * deterministic in integer/double arithmetic). */
  private def phashOfRaster(raster: java.awt.image.Raster): Long = {
    val cells = new Array[Double](64)
    var by = 0
    while (by < 8) {
      var bx = 0
      while (bx < 8) {
        var sum = 0
        var dy = 0
        while (dy < 2) {
          var dx = 0
          while (dx < 2) {
            sum += raster.getSample(bx * 2 + dx, by * 2 + dy, 0)
            dx += 1
          }
          dy += 1
        }
        cells(by * 8 + bx) = sum / 4.0
        bx += 1
      }
      by += 1
    }
    val mean = cells.sum / 64.0
    var h = 0L
    var i = 0
    while (i < 64) {
      if (cells(i) > mean) h |= 1L << i
      i += 1
    }
    h
  }

  /** Perceptual media dedup: decode every asset (the real PNG path of
    * m03), pHash it, and cluster assets whose hashes COINCIDE — visually
    * identical after downsampling, which is robust to byte-level noise
    * that byte-exact dedup (m01's digest) would miss. One decode+hash
    * scan, then a single shuffle on the 8-byte perceptual key — the d01
    * shape with a perceptual signature, which is exactly how an
    * image-corpus exact-visual-dedup pass runs at scale. (A hamming-band
    * NEAR-dup variant is deliberately not registered: on this corpus the
    * payloads are text bytes, whose pseudo-image hamming distances are
    * flat noise — there is no visual near-dup tier to find. The banding
    * machinery for real imagery is d04's, keyed on pHash chunks.)
    * FULL oracle since round 3 (see [[m04Sql]] — the pHash arithmetic is
    * exact, so the oracle engine reconstructs it codec-free); golden-pinned,
    * and byte-exact duplicate payloads are asserted to share a cluster in
    * the spec. */
  def m04MediaPhash(s: SparkSession, d: String): DataFrame =
    mediaDecoded(s, d)
      .select(col("doc_id"), col("phash"))
      .groupBy(col("phash"))
      .agg(count(lit(1)).as("n_assets"),
        expr("array_join(transform(sort_array(collect_list(doc_id)), x -> CAST(x AS STRING)), ',')")
          .as("doc_ids"))
      .filter(col("n_assets") > 1)
      .orderBy(col("doc_ids"))

  /** m04 oracle: the pHash arithmetic is exact end-to-end (cell means /4,
    * grid mean /64 — both power-of-two divisions of integers), so DuckDB
    * reconstructs the 64 bits from the ASCII pixels; the only subtlety is
    * bit 63, assembled in HUGEINT and wrapped to the signed BIGINT Spark's
    * `1L << 63` produces. */
  val m04Sql: String =
    s"""WITH cell AS (
       |  SELECT doc_id, c, $cellSumSql / 4.0 AS cv
       |  FROM documents, (SELECT unnest(range(0, 64)) AS c)),
      |m AS (SELECT doc_id, SUM(cv) / 64.0 AS mean FROM cell GROUP BY doc_id),
      |h AS (
      |  SELECT cell.doc_id,
      |    SUM(CASE WHEN cv > mean THEN (1::HUGEINT << c) ELSE 0::HUGEINT END) AS ph
      |  FROM cell JOIN m ON m.doc_id = cell.doc_id GROUP BY cell.doc_id),
      |p AS (
      |  SELECT doc_id, CAST(CASE WHEN ph >= (1::HUGEINT << 63)
      |    THEN ph - (1::HUGEINT << 64) ELSE ph END AS BIGINT) AS phash
      |  FROM h)
      |SELECT phash, CAST(COUNT(*) AS BIGINT) AS n_assets,
      |  array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
      |FROM p GROUP BY phash HAVING COUNT(*) > 1 ORDER BY doc_ids""".stripMargin

  // === m05 — decode + resize =================================================

  private val ResizeSide = 8 // target raster: ResizeSide² cells

  /** Area-average resample of the decoded 16×16 raster to 8×8: each target
    * cell is the integer mean of its 2×2 source block — the downscale a
    * vision-model preprocessing pass runs before batching. All-integer
    * arithmetic on the losslessly-decoded raster, so the output is
    * deterministic across JDKs (deliberately NOT the re-encoded PNG bytes,
    * which would pin the deflate implementation). */
  private[graft] def resizeCells(payload: Array[Byte]): (Int, Int, Array[Int]) = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(encodePng(payload)))
    val (w, h) = (img.getWidth, img.getHeight)
    (w, h, resizeOfRaster(img.getRaster, w, h))
  }

  /** Resample core over a decoded raster (see [[resizeCells]]; factored
    * for the shared one-decode pass [[mediaDecoded]]). */
  private def resizeOfRaster(raster: java.awt.image.Raster, w: Int,
      h: Int): Array[Int] = {
    val (sx, sy) = (w / ResizeSide, h / ResizeSide)
    val cells = new Array[Int](ResizeSide * ResizeSide)
    var by = 0
    while (by < ResizeSide) {
      var bx = 0
      while (bx < ResizeSide) {
        var sum = 0
        var dy = 0
        while (dy < sy) {
          var dx = 0
          while (dx < sx) {
            sum += raster.getSample(bx * sx + dx, by * sy + dy, 0)
            dx += 1
          }
          dy += 1
        }
        cells(by * ResizeSide + bx) = sum / (sx * sy)
        bx += 1
      }
      by += 1
    }
    cells
  }

  /** Decode + resize per asset (the preprocessing face of the m03 decode
    * path): source dims, target dims, and raster-level checksums of the
    * resized image. Same `mapPartitions` batch shape as m03/m04.
    *
    * FULL oracle despite the oracle engine having no codec: the synthesized
    * PNG is a lossless encoding of the (ASCII) payload bytes, so
    * pixel(x, y) = ascii(char at y·16+x) (0 beyond the text) and [[m05Sql]]
    * reconstructs the pixels and the integer 2×2 area means directly from
    * `documents.text` — Spark runs text → PNG encode → REAL decode →
    * resample while DuckDB never touches a codec, so a green compare also
    * proves the decode round-trip is lossless on every asset. */
  def m05MediaResize(s: SparkSession, d: String): DataFrame =
    mediaDecoded(s, d)
      .select(col("doc_id"), col("width"), col("height"),
        lit(ResizeSide).as("r_width"), lit(ResizeSide).as("r_height"),
        col("pix_sum"), col("pix_max"))
      .orderBy(col("doc_id"))

  /** SQL for the 2×2 source-block SUM of target cell `c` — the ONE site
    * for the raster geometry both the m04 and m05 oracles reconstruct:
    * base = (c÷8)·32 + (c mod 8)·2, terms base+{0, 1, 16, 17}, each pixel
    * an ASCII code (0 past the text). m05 divides the sum by //4 (integer
    * means), m04 by /4.0 (double means). */
  private def cellSumSql: String =
    Seq(0, 1, 16, 17).map { off =>
      s"""(CASE WHEN (c//8)*32 + (c%8)*2 + $off < length(text)
         |     THEN ascii(substr(text, (c//8)*32 + (c%8)*2 + ${off + 1}, 1))
         |     ELSE 0 END)""".stripMargin
    }.mkString("(", "\n   + ", ")")

  /** Pixel-reconstruction oracle for m05 (see its Scaladoc): integer 2×2
    * area means — the exact arithmetic of [[resizeCells]]. */
  val m05Sql: String =
    s"""WITH px AS (
       |  SELECT doc_id, c, $cellSumSql // 4 AS cell
       |  FROM documents, (SELECT unnest(range(0, 64)) AS c))
       |SELECT doc_id, 16 AS width, 16 AS height, 8 AS r_width, 8 AS r_height,
       |  CAST(sum(cell) AS BIGINT) AS pix_sum, CAST(max(cell) AS INT) AS pix_max
       |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // === m11 — cross-modal dedup ==============================================

  /** M11 (extension): CROSS-MODAL dedup — duplicate clusters over the
    * UNION of two signature families: exact text digest (d01's key) and
    * the perceptual hash of the decoded asset (m04's key). A pair of
    * assets can tie through EITHER modality, and ties compose
    * transitively (A ≡text B ≡visual C puts all three in one cluster) —
    * the real-corpus case a single-modality pass misses, and why the
    * clustering is connected components, not a groupBy on either key.
    *
    * Plan: each signature family contributes STAR edges (every group
    * member links to the group's minimum id — same components as the
    * clique, linear edge count), the doubled union feeds d07's
    * pointer-jumping min-label loop ([[graft.operators.Dedup
    * .computeLabelsFromEdges]] — shared implementation, O(log diameter)
    * rounds), and clusters roll up from the converged label table. Both
    * signatures are 8–16 bytes per asset: no payload or text ever
    * shuffles past its digest. */
  /** The converged cross-modal label table m11 rolls up — an artifact, so
    * the bench's pre-build phase forces it (decode parquet → star edges →
    * label rounds) under its own timing key instead of charging the whole
    * first-touch chain to whichever entry runs first. */
  private[graft] val m11Labels: Artifact[DataFrame] =
    Artifact("m11_labels", "media_decoded") { (s, d) =>
      def starEdges(sig: DataFrame): DataFrame = {
        val groups = sig.groupBy(col("k"))
          .agg(min(col("doc_id")).as("m"), count(lit(1)).as("n"))
          .filter(col("n") >= 2)
        sig.join(groups, Seq("k"))
          .filter(col("doc_id") =!= col("m"))
          .select(col("m").as("src"), col("doc_id").as("dst"))
      }
      // starEdges consumes its signature table twice (group minima + the
      // join back), and `stars` is consumed twice by the mirror union —
      // uncached, the full-text md5 pass re-ran up to 4×; the visual side
      // is already a memoized parquet read
      val text = Tables.documents(s, d)
        .select(col("doc_id"), concat(lit("t"), md5(col("text"))).as("k"))
        .cache()
      val visual = mediaDecoded(s, d)
        .select(col("doc_id"), concat(lit("v"), col("phash").cast(StringType)).as("k"))
      val stars = starEdges(text).unionAll(starEdges(visual)).cache()
      val edges = stars.unionAll(stars.select(col("dst").as("src"), col("src").as("dst")))
      val labels = graft.operators.Dedup.computeLabelsFromEdges(s, edges, "m11_labels", d)
      // computeLabelsFromEdges parquet-materializes the edge list eagerly,
      // so both caches' consumers have run — release them (guide §5)
      text.unpersist(false)
      stars.unpersist(false)
      labels
    }

  def m11CrossmodalDedup(s: SparkSession, d: String): DataFrame = {
    m11Labels(s, d)
      .groupBy(col("lbl").as("canonical_id"))
      .agg(count(lit(1)).as("n_assets"),
        expr("array_join(transform(sort_array(collect_list(v)), x -> CAST(x AS STRING)), ',')")
          .as("doc_ids"))
      .filter(col("n_assets") >= 2)
      .orderBy(col("canonical_id"))
  }

  val m11Sql: String =
    s"""WITH RECURSIVE cell AS (
       |  SELECT doc_id, c, $cellSumSql / 4.0 AS cv
       |  FROM documents, (SELECT unnest(range(0, 64)) AS c)),
       |mn AS (SELECT doc_id, SUM(cv) / 64.0 AS mean FROM cell GROUP BY doc_id),
       |h AS (
       |  SELECT cell.doc_id,
       |    SUM(CASE WHEN cv > mean THEN (1::HUGEINT << c) ELSE 0::HUGEINT END) AS ph
       |  FROM cell JOIN mn ON mn.doc_id = cell.doc_id GROUP BY cell.doc_id),
       |p AS (
       |  SELECT doc_id, CAST(CASE WHEN ph >= (1::HUGEINT << 63)
       |    THEN ph - (1::HUGEINT << 64) ELSE ph END AS BIGINT) AS phash
       |  FROM h),
       |sig AS (
       |  SELECT doc_id, 't' || md5(text) AS k FROM documents
       |  UNION ALL
       |  SELECT doc_id, 'v' || CAST(phash AS VARCHAR) FROM p),
       |g AS (
       |  SELECT k, MIN(doc_id) AS m, COUNT(*) AS n FROM sig GROUP BY k),
       |stars AS (
       |  SELECT g.m AS src, sig.doc_id AS dst
       |  FROM sig JOIN g ON g.k = sig.k AND g.n >= 2 AND sig.doc_id <> g.m),
       |edges AS (
       |  SELECT src, dst FROM stars UNION SELECT dst, src FROM stars),
       |cc AS (
       |  SELECT src AS v, src AS lbl FROM edges
       |  UNION
       |  SELECT e.src, c.lbl FROM edges e JOIN cc c ON e.dst = c.v
       |), final AS (
       |  SELECT v, MIN(lbl) AS lbl FROM cc GROUP BY v)
       |SELECT lbl AS canonical_id, CAST(COUNT(*) AS BIGINT) AS n_assets,
       |  array_to_string(list_sort(list(v)), ',') AS doc_ids
       |FROM final GROUP BY lbl HAVING COUNT(*) >= 2
       |ORDER BY canonical_id""".stripMargin

  // === m06 — audio: PCM16 decode + framed energy (VAD shape) ================

  private val PcmFrameSamples = 16
  /** Frame counts as "active" above this Σ sample² — calibrated to the
    * corpus's median frame energy (~1.03e10), so activity is a real split,
    * not all-or-nothing. */
  private val PcmActiveEnergy = 10_000_000_000L

  /** REAL PCM decode: the payload bytes viewed as little-endian signed
    * 16-bit mono samples (`ByteBuffer.asShortBuffer` — the wire format of
    * WAV data chunks), framed at [[PcmFrameSamples]]; per-frame Σ sample²
    * drives the activity flag (the voice-activity-detection / silence-trim
    * pass an audio corpus runs before transcription). All-integer
    * arithmetic — exact on any JVM. A trailing odd byte is not a sample;
    * a trailing short frame still counts as a frame. */
  private[graft] def pcmStats(payload: Array[Byte]): (Long, Long, Long, Long, Int) = {
    val sb = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).asShortBuffer()
    val n = sb.remaining()
    var total = 0L
    var peak = 0
    var frames = 0L
    var active = 0L
    var frameEnergy = 0L
    var i = 0
    while (i < n) {
      val s = sb.get(i).toInt
      val a = math.abs(s)
      if (a > peak) peak = a
      val sq = s.toLong * s
      total += sq
      frameEnergy += sq
      i += 1
      if (i % PcmFrameSamples == 0 || i == n) {
        frames += 1
        if (frameEnergy > PcmActiveEnergy) active += 1
        frameEnergy = 0
      }
    }
    (n.toLong, frames, active, total, peak)
  }

  /** m10: silence-RUN statistics in the same O(n) decode pass — frames
    * below the activity threshold grouped into maximal consecutive runs
    * (the VAD segmentation an audio pipeline trims before transcription:
    * run count ≈ pause structure, longest run ≈ trimmable dead air).
    * Returns (n_frames, n_silent, n_runs, longest_run). */
  private[graft] def pcmSilence(payload: Array[Byte]): (Long, Long, Long, Long) = {
    val sb = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).asShortBuffer()
    val n = sb.remaining()
    var frames = 0L; var silent = 0L; var runs = 0L; var longest = 0L
    var cur = 0L
    var frameEnergy = 0L
    var i = 0
    while (i < n) {
      val s = sb.get(i).toInt
      frameEnergy += s.toLong * s
      i += 1
      if (i % PcmFrameSamples == 0 || i == n) {
        frames += 1
        if (frameEnergy <= PcmActiveEnergy) {
          if (cur == 0) runs += 1
          cur += 1
          silent += 1
          if (cur > longest) longest = cur
        } else cur = 0
        frameEnergy = 0
      }
    }
    (frames, silent, runs, longest)
  }

  /** Silence segmentation per asset — the gaps-and-islands of m06's
    * activity flag, folded INTO the decode pass (the m-family posture: one
    * row out per asset, shuffle ∝ asset count, never frame count; the
    * oracle replays the islands declaratively with a rank-difference
    * grouping over the reconstructed frames). */
  def m10SilenceRuns(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    media(s, d)
      .repartition(32, col("doc_id"))
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, p) =>
        val (frames, silent, runs, longest) = pcmSilence(p)
        (id, frames, silent, runs, longest)
      })
      .toDF("doc_id", "n_frames", "n_silent", "n_runs", "longest_run")
      .orderBy(col("doc_id"))
  }

  val m10Sql: String =
    s"""WITH idx AS (
       |  SELECT unnest(range(1,
       |    (SELECT CAST(max(length(text)) // 2 AS BIGINT) + 1 FROM documents))) AS i),
       |samples AS (
       |  SELECT doc_id, (i - 1) // $PcmFrameSamples AS frame_no,
       |    ord(substr(text, CAST(2*i - 1 AS INTEGER), 1))
       |      + 256 * ord(substr(text, CAST(2*i AS INTEGER), 1)) AS s
       |  FROM documents, idx
       |  WHERE i <= length(text) // 2),
       |frames AS (
       |  SELECT doc_id, frame_no,
       |    CAST(SUM(CAST(s AS BIGINT) * s) AS BIGINT) AS fe
       |  FROM samples GROUP BY 1, 2),
       |silent AS (
       |  SELECT doc_id, frame_no,
       |    frame_no - row_number() OVER (
       |      PARTITION BY doc_id ORDER BY frame_no) AS grp
       |  FROM frames WHERE fe <= $PcmActiveEnergy),
       |runs AS (
       |  SELECT doc_id, grp, CAST(COUNT(*) AS BIGINT) AS len
       |  FROM silent GROUP BY 1, 2),
       |per AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames
       |  FROM frames GROUP BY doc_id),
       |agg AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_runs,
       |    CAST(MAX(len) AS BIGINT) AS longest_run,
       |    CAST(SUM(len) AS BIGINT) AS n_silent
       |  FROM runs GROUP BY doc_id)
       |SELECT d.doc_id,
       |  COALESCE(per.n_frames, 0) AS n_frames,
       |  COALESCE(agg.n_silent, 0) AS n_silent,
       |  COALESCE(agg.n_runs, 0) AS n_runs,
       |  COALESCE(agg.longest_run, 0) AS longest_run
       |FROM documents d
       |LEFT JOIN per ON per.doc_id = d.doc_id
       |LEFT JOIN agg ON agg.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Audio-modality operator: decode + framed energy per asset. Same
    * single-pass `mapPartitions` batch shape as m03-m05 — payloads never
    * explode into per-sample rows; each asset contributes one output row
    * regardless of duration, which is what keeps a 100 TB audio corpus'
    * shuffle proportional to asset COUNT, not sample count.
    *
    * Oracle-able (unlike m03-m05's codecs): the corpus text is pure ASCII
    * (every byte < 0x80), so sample i = byte(2i) + 256·byte(2i+1) is always
    * positive and the signed-LE decode is expressible over the VARCHAR with
    * `ord(substr(...))` in DuckDB. */
  def m06AudioEnergy(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    media(s, d)
      .repartition(32, col("doc_id"))
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, p) =>
        val (n, frames, active, energy, peak) = pcmStats(p)
        (id, n, frames, active, energy, peak)
      })
      .toDF("doc_id", "n_samples", "n_frames", "n_active", "total_energy", "peak")
      .orderBy(col("doc_id"))
  }

  /** LEFT JOIN from documents so a sub-2-byte payload (zero samples) still
    * yields its all-zero row, exactly as the Spark side's per-asset map
    * does — an inner aggregation would silently drop such docs. */
  val m06Sql: String =
    s"""WITH idx AS (
       |  SELECT unnest(range(1,
       |    (SELECT CAST(max(length(text)) // 2 AS BIGINT) + 1 FROM documents))) AS i),
       |samples AS (
       |  SELECT doc_id, (i - 1) // $PcmFrameSamples AS frame_no,
       |    ord(substr(text, CAST(2*i - 1 AS INTEGER), 1))
       |      + 256 * ord(substr(text, CAST(2*i AS INTEGER), 1)) AS s
       |  FROM documents, idx
       |  WHERE i <= length(text) // 2),
       |frames AS (
       |  SELECT doc_id, frame_no, CAST(COUNT(*) AS BIGINT) AS cnt,
       |    CAST(SUM(CAST(s AS BIGINT) * s) AS BIGINT) AS fe,
       |    MAX(s) AS fpeak
       |  FROM samples GROUP BY 1, 2),
       |per_doc AS (
       |  SELECT doc_id,
       |    CAST(SUM(cnt) AS BIGINT) AS n_samples,
       |    CAST(COUNT(*) AS BIGINT) AS n_frames,
       |    CAST(COUNT(*) FILTER (WHERE fe > $PcmActiveEnergy) AS BIGINT) AS n_active,
       |    CAST(SUM(fe) AS BIGINT) AS total_energy,
       |    CAST(MAX(fpeak) AS INTEGER) AS peak
       |  FROM frames GROUP BY doc_id)
       |SELECT d.doc_id,
       |  COALESCE(p.n_samples, 0) AS n_samples,
       |  COALESCE(p.n_frames, 0) AS n_frames,
       |  COALESCE(p.n_active, 0) AS n_active,
       |  COALESCE(p.total_energy, 0) AS total_energy,
       |  COALESCE(p.peak, 0) AS peak
       |FROM documents d LEFT JOIN per_doc p USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // === m07 — video: frame-energy scene-change detection =====================

  private val SceneFrameBytes = 32   // same frame stride as m02's sampler
  /** A transition counts as a cut above this |Δ energy| — calibrated to the
    * corpus's p90 frame-to-frame delta (~45k), so cuts are a real tail. */
  private val SceneCutDelta = 40000L

  /** Shot-boundary detection over the byte stream: consecutive 32-byte
    * "frames" scored by Σ byte², a cut wherever the energy jumps by more
    * than [[SceneCutDelta]] — the frame-differencing shape of video
    * shot-boundary detection (real detectors difference color histograms;
    * the framing, lag, and thresholding are identical). A trailing short
    * frame still scores; documents with < 2 frames have no transitions. */
  private[graft] def sceneStats(payload: Array[Byte]): (Long, Long, Long) = {
    val n = payload.length
    var frames = 0L
    var cuts = 0L
    var maxDelta = 0L
    var prev = -1L
    var fe = 0L
    var i = 0
    while (i < n) {
      val b = payload(i) & 0xff
      fe += b.toLong * b
      i += 1
      if (i % SceneFrameBytes == 0 || i == n) {
        frames += 1
        if (prev >= 0) {
          val d = math.abs(fe - prev)
          if (d > maxDelta) maxDelta = d
          if (d > SceneCutDelta) cuts += 1
        }
        prev = fe
        fe = 0
      }
    }
    (frames, cuts, maxDelta)
  }

  /** Video-modality operator: per-asset scene-change stats in one
    * `mapPartitions` pass (m03-m06's batch shape); one output row per
    * asset regardless of duration. Full DuckDB oracle via the ASCII
    * byte-reconstruction trick (m06), LEFT JOIN so zero-frame assets keep
    * their all-zero row. */
  def m07SceneChange(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    media(s, d)
      .repartition(32, col("doc_id"))
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, p) =>
        val (frames, cuts, maxDelta) = sceneStats(p)
        (id, frames, cuts, maxDelta)
      })
      .toDF("doc_id", "n_frames", "n_cuts", "max_delta")
      .orderBy(col("doc_id"))
  }

  val m07Sql: String =
    s"""WITH idx AS (
       |  SELECT unnest(range(1,
       |    (SELECT CAST(max(length(text)) AS BIGINT) + 1 FROM documents))) AS i),
       |bytes AS (
       |  SELECT doc_id, (i - 1) // $SceneFrameBytes AS frame_no,
       |    ord(substr(text, CAST(i AS INTEGER), 1)) AS b
       |  FROM documents, idx
       |  WHERE i <= length(text)),
       |frames AS (
       |  SELECT doc_id, frame_no, CAST(SUM(CAST(b AS BIGINT) * b) AS BIGINT) AS fe
       |  FROM bytes GROUP BY 1, 2),
       |deltas AS (
       |  SELECT doc_id,
       |    abs(fe - lag(fe) OVER (PARTITION BY doc_id ORDER BY frame_no)) AS d
       |  FROM frames),
       |per_doc AS (
       |  SELECT doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_frames,
       |    CAST(COUNT(*) FILTER (WHERE d > $SceneCutDelta) AS BIGINT) AS n_cuts,
       |    CAST(COALESCE(MAX(d), 0) AS BIGINT) AS max_delta
       |  FROM deltas GROUP BY doc_id)
       |SELECT d.doc_id,
       |  COALESCE(p.n_frames, 0) AS n_frames,
       |  COALESCE(p.n_cuts, 0) AS n_cuts,
       |  COALESCE(p.max_delta, 0) AS max_delta
       |FROM documents d LEFT JOIN per_doc p USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // === m09 — per-scene keyframe selection ====================================

  /** Scene segmentation + keyframe pick for one asset: frames between cuts
    * (m07's boundary rule) form a scene; its keyframe is the
    * highest-energy frame, first-wins on ties. All-integer, one pass. */
  private[graft] def keyframes(payload: Array[Byte])
      : Seq[(Long, Long, Long, Long, Long)] = {
    val n = payload.length
    val energies = scala.collection.mutable.ArrayBuffer.empty[Long]
    var fe = 0L
    var i = 0
    while (i < n) {
      val b = payload(i) & 0xff
      fe += b.toLong * b
      i += 1
      if (i % SceneFrameBytes == 0 || i == n) { energies += fe; fe = 0 }
    }
    if (energies.isEmpty) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
    var scene = 0L
    var start = 0L
    var cnt = 0L
    var kf = 0L
    var ke = -1L
    for (f <- energies.indices) {
      if (f > 0 && math.abs(energies(f) - energies(f - 1)) > SceneCutDelta) {
        out += ((scene, start, cnt, kf, ke))
        scene += 1; start = f; cnt = 0; ke = -1
      }
      cnt += 1
      if (energies(f) > ke) { ke = energies(f); kf = f }
    }
    out += ((scene, start, cnt, kf, ke))
    out.toSeq
  }

  /** Keyframe extraction — the step a video-ingest pipeline runs right
    * after scene detection (m07): one representative frame per scene feeds
    * the expensive downstream encoder instead of every frame. Same
    * single-pass `mapPartitions` shape as m03-m07, but the output is
    * per-SCENE (rows ∝ cuts, still ≪ frames — the shuffle never carries
    * frame-level rows). Keyframe = highest-energy frame of the scene,
    * first-wins ties; every quantity is integer, so the DuckDB oracle
    * reconstructs scenes and picks from the ASCII bytes exactly. */
  def m09Keyframes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    media(s, d)
      .repartition(32, col("doc_id"))
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, p) =>
        keyframes(p).map(t => (id, t._1, t._2, t._3, t._4, t._5))
      })
      .toDF("doc_id", "scene_idx", "start_frame", "n_frames",
        "key_frame", "key_energy")
      .orderBy(col("doc_id"), col("scene_idx"))
  }

  val m09Sql: String =
    s"""WITH idx AS (
       |  SELECT unnest(range(1,
       |    (SELECT CAST(max(length(text)) AS BIGINT) + 1 FROM documents))) AS i),
       |bytes AS (
       |  SELECT doc_id, (i - 1) // $SceneFrameBytes AS frame_no,
       |    ord(substr(text, CAST(i AS INTEGER), 1)) AS b
       |  FROM documents, idx
       |  WHERE i <= length(text)),
       |frames AS (
       |  SELECT doc_id, frame_no, CAST(SUM(CAST(b AS BIGINT) * b) AS BIGINT) AS fe
       |  FROM bytes GROUP BY 1, 2),
       |marked AS (
       |  SELECT doc_id, frame_no, fe,
       |    CASE WHEN abs(fe - lag(fe) OVER (PARTITION BY doc_id ORDER BY frame_no))
       |           > $SceneCutDelta THEN 1 ELSE 0 END AS is_cut
       |  FROM frames),
       |sc AS (
       |  SELECT doc_id, frame_no, fe,
       |    SUM(is_cut) OVER (PARTITION BY doc_id ORDER BY frame_no
       |      ROWS UNBOUNDED PRECEDING) AS scene_idx
       |  FROM marked),
       |agg AS (
       |  SELECT doc_id, scene_idx, MIN(frame_no) AS start_frame,
       |    COUNT(*) AS n_frames
       |  FROM sc GROUP BY 1, 2),
       |r AS (
       |  SELECT doc_id, scene_idx, frame_no, fe,
       |    row_number() OVER (PARTITION BY doc_id, scene_idx
       |      ORDER BY fe DESC, frame_no) AS rk
       |  FROM sc)
       |SELECT a.doc_id, CAST(a.scene_idx AS BIGINT) AS scene_idx,
       |  CAST(a.start_frame AS BIGINT) AS start_frame,
       |  CAST(a.n_frames AS BIGINT) AS n_frames,
       |  CAST(r.frame_no AS BIGINT) AS key_frame, r.fe AS key_energy
       |FROM agg a JOIN r ON r.doc_id = a.doc_id AND r.scene_idx = a.scene_idx
       |  AND r.rk = 1
       |ORDER BY a.doc_id, a.scene_idx""".stripMargin

  // === m08 — modality routing by content sniffing ============================

  /** PNG file signature (\x89 P N G \r \n \x1a \n) and the RIFF chunk tag —
    * the magic bytes a router sniffs. */
  private val PngMagic: Array[Byte] =
    Array(0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1a.toByte, '\n')
  private val RiffMagic: Array[Byte] = Array('R', 'I', 'F', 'F')

  /** Modality ROUTING by content sniffing — the dispatch pass of a mixed-
    * modality ingest, and its QA twin: classify every payload by its ACTUAL
    * leading bytes (not the declared mime — upstream metadata lies) and
    * reconcile the two. Payloads get genuine magic bytes planted for the
    * well-formed majority (doc_id % 7 != 0); the rest stay headerless, so
    * the router must surface BOTH kinds of mismatch: declared-but-corrupt
    * (image/audio without magic) and undeclared binary (video payloads
    * carry no sniffable header here). Downstream, each route feeds its
    * decoder (m03/m05 for png, m06 for wav) — this entry pins the routing
    * contract itself.
    *
    * Scale shape: the sniff reads 8 leading bytes per row — a scan that
    * never touches the payload body (columnar readers don't even
    * materialize it past the slice); one aggregation on the tiny
    * (declared, sniffed) key space. */
  def m08ModalityRouter(s: SparkSession, d: String): DataFrame = {
    val routed = media(s, d)
      .withColumn("payload2",
        when(col("meta.mime") === "image/png" && col("doc_id") % 7 =!= 0,
          concat(lit(PngMagic), col("payload")))
          .when(col("meta.mime") === "audio/wav" && col("doc_id") % 7 =!= 0,
            concat(lit(RiffMagic), col("payload")))
          .otherwise(col("payload")))
      .withColumn("sniffed",
        when(substring(col("payload2"), 1, 8) === lit(PngMagic), "png")
          .when(substring(col("payload2"), 1, 4) === lit(RiffMagic), "wav")
          .otherwise("unknown"))
    routed
      .groupBy(col("meta.mime").as("declared"), col("sniffed"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(
          (col("meta.mime") === "image/png" && col("sniffed") =!= "png") ||
            (col("meta.mime") === "audio/wav" && col("sniffed") =!= "wav"),
          1L).otherwise(0L)).as("n_mismatch"))
      .orderBy(col("declared"), col("sniffed"))
  }

  /** The oracle models the routing outcome from (source, doc_id) — the
    * Spark side must reach the same table by actually sniffing bytes. */
  val m08Sql: String =
    """WITH r AS (
      |  SELECT doc_id,
      |    CASE WHEN source IN ('src0', 'src1', 'src2') THEN 'image/png'
      |         WHEN source IN ('src3', 'src4', 'src5') THEN 'audio/wav'
      |         ELSE 'video/mp4' END AS declared
      |  FROM documents),
      |s AS (
      |  SELECT declared,
      |    CASE WHEN declared = 'image/png' AND doc_id % 7 <> 0 THEN 'png'
      |         WHEN declared = 'audio/wav' AND doc_id % 7 <> 0 THEN 'wav'
      |         ELSE 'unknown' END AS sniffed
      |  FROM r)
      |SELECT declared, sniffed, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN (declared = 'image/png' AND sniffed <> 'png')
      |                  OR (declared = 'audio/wav' AND sniffed <> 'wav')
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch
      |FROM s GROUP BY declared, sniffed ORDER BY declared, sniffed""".stripMargin

  // === m12 — ViT-style patch embedding prep ==================================

  /** m12 core, called by the shared one-decode pass [[mediaDecoded]]:
    * per-patch means off the decoded raster — exact doubles because each
    * 4×4 patch mean is a /16 power-of-two division of an integer pixel
    * sum. */
  private def patchOfRaster(raster: java.awt.image.Raster): Array[Double] = {
    Array.tabulate(16) { p =>
      val x0 = (p % 4) * 4
      val y0 = (p / 4) * 4
      var sum = 0
      var dy = 0
      while (dy < 4) {
        var dx = 0
        while (dx < 4) { sum += raster.getSample(x0 + dx, y0 + dy, 0); dx += 1 }
        dy += 1
      }
      sum / 16.0
    }
  }

  /** M12 (extension): PATCH EMBEDDING PREP — the ViT front-door transform:
    * every decoded 16×16 asset becomes its 4×4 grid of patch means (row-
    * major patch index, one row per patch), the flattened-patch sequence a
    * vision-training pipeline tokenizes. Same one-`mapPartitions` decode
    * shape as m03 (per-partition codec setup, lossless PNG round-trip),
    * same reconstruction-oracle move: pixel (x, y) is source byte y·16+x,
    * so DuckDB rebuilds each patch mean exactly — /16 is a power-of-two
    * division, every mean an exact double. */
  def m12PatchEmbed(s: SparkSession, d: String): DataFrame = {
    mediaDecoded(s, d)
      .select(col("doc_id"), col("patch_means").as("pm"))
      .select(col("doc_id"),
        posexplode(col("pm")).as(Seq("patch_idx", "patch_mean")))
      .select(col("doc_id"), col("patch_idx").cast(LongType).as("patch_idx"),
        col("patch_mean"))
      .orderBy(col("doc_id"), col("patch_idx"))
  }

  val m12Sql: String =
    """WITH px AS (
      |  SELECT doc_id, j,
      |    CASE WHEN j < length(text) THEN ascii(substr(text, j + 1, 1))
      |         ELSE 0 END AS v
      |  FROM documents, (SELECT unnest(range(0, 256)) AS j)),
      |p AS (
      |  SELECT doc_id,
      |    CAST(((j // 16) // 4) * 4 + ((j % 16) // 4) AS BIGINT) AS patch_idx,
      |    v
      |  FROM px)
      |SELECT doc_id, patch_idx, CAST(SUM(v) AS DOUBLE) / 16 AS patch_mean
      |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** This module's rows of [[graft.Artifacts.all]], in prebuild order. */
  val artifacts: Seq[Artifact[_]] = Seq(
    mediaDecoded, m11Labels)

  val entries: Seq[Entry] = Seq(
    Entry("m12_patch_embed", m12PatchEmbed _, m12Sql),
    Entry("m01_binary_meta", m01BinaryMeta _, m01Sql),
    Entry("m02_frame_sample", m02FrameSample _, m02Sql),
    Entry("m03_media_features", m03Features _, m03Sql),
    Entry("m04_media_phash", m04MediaPhash _, m04Sql),
    Entry("m05_media_resize", m05MediaResize _, m05Sql),
    Entry("m06_audio_energy", m06AudioEnergy _, m06Sql),
    Entry("m07_scene_change", m07SceneChange _, m07Sql),
    Entry("m08_modality_router", m08ModalityRouter _, m08Sql),
    Entry("m09_keyframes", m09Keyframes _, m09Sql),
    Entry("m10_silence_runs", m10SilenceRuns _, m10Sql),
    Entry("m11_crossmodal_dedup", m11CrossmodalDedup _, m11Sql))
}
