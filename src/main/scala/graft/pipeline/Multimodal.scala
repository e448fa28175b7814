package graft.pipeline

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A media item: opaque binary payload + typed metadata — the schema shape
  * for image/audio/video columns at 100 TB (payload stays a `binary`
  * column; only metadata is queryable without decode). */
final case class MediaItem(
    doc_id: Long,
    media: Array[Byte],
    format: String,
    n_bytes: Long)

/** Decoded features for one image item: REAL pixel statistics from a REAL
  * PNG decode (see [[ImageCodec]]). All-Long schema keeps oracle parity
  * trivial. */
final case class ImageFeatures(
    doc_id: Long,
    width: Long,
    height: Long,
    n_pixels: Long,
    mean_r_e3: Long,
    mean_g_e3: Long,
    mean_b_e3: Long)

/** dHash of one decoded image, split into four 16-bit bands (bits j*8+i of
  * band j/2 — the hamming-banding unit for [[Multimodal]]'s phash dedup). */
final case class ImagePHash(
    doc_id: Long,
    b0: Long,
    b1: Long,
    b2: Long,
    b3: Long)

/** Multimodal-column plumbing: binary payloads with typed metadata, decoded
  * and feature-extracted per partition via a typed `mapPartitions` — the
  * Scala analog of a Pandas-UDF `mapInPandas` batch stage. The partition
  * iterator is the batch boundary: codec/model init amortizes across the
  * partition exactly here.
  *
  * The IMAGE path is real: payloads are genuine PNG files (encoded with
  * the JDK's `javax.imageio`, which ships PNG/JPEG/BMP/GIF codecs in every
  * JRE) and features come from decoded pixels ([[ImageCodec.decodeFeatures]]).
  * The AUDIO path is real too: genuine RIFF/WAVE PCM16 payloads through
  * `javax.sound.sampled` on both sides ([[AudioCodec]]). The MULTI-FRAME
  * path is real as well: animated GIF containers through `javax.imageio`'s
  * frame-seeking reader ([[VideoCodec]], q_multimodal_video). Only the
  * generic byte-level frame-sampling and resize stages remain STAND-INS,
  * now for TRUE video codecs and lossy audio (H.26x/MP3 etc. — no JDK
  * codec exists): they keep deterministic byte semantics that the oracle
  * can recompute, while exercising the same batch-stage plumbing a real
  * codec would sit in.
  */
object Multimodal {

  /** Synthetic media payloads persist once per corpus in the
    * [[graft.Tables]] store table (content-keyed temp parquet, one entry
    * per media kind): payload GENERATION is fixture synthesis, not the
    * operator under test — a real corpus reads stored bytes and the
    * operator DECODES them, so serving the payload table from parquet is
    * exactly the production shape, and repeated invocations (bench
    * warm+timed passes; features + phash both reading images) stop paying
    * the JDK encoders per run. */

  /** Build the byte-payload media table from `documents`: payload = UTF-8
    * bytes of the text — the deterministic stand-in feeding the
    * audio/video-shaped stages (frames, resize). Real images come from
    * [[imageTable]]. */
  def mediaTable(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.t(s, d, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("media"),
        lit("utf8-blob").as("format"), octet_length(col("text")).cast("long").as("n_bytes"))
      .as[MediaItem]
      .toDF()
  }

  /** The image table: one REAL PNG per document, generated executor-side
    * from `doc_id` alone (deterministic pixel formula, [[ImageCodec]]), so
    * the expected decoded statistics are a closed-form function of the id
    * that an oracle can recompute. Payload stays an opaque `binary` column
    * with typed metadata — the 100 TB schema shape. */
  def imageTable(s: SparkSession, d: String): DataFrame =
    Tables.contentKeyedTempParquet(s,
      s"$d/documents.parquet", "graft-media-img")(imageTableBuild(s, d))

  /** Media-store partitioning: the downstream decode stages are CPU-bound
    * PER ROW, so the store (whose file layout fixes the decode stage's
    * parallelism — payloads are far below files.maxPartitionBytes, one
    * task per file) must partition by ROW COUNT, not bytes. Inheriting
    * the document table's byte-sized layout capped a 50k-doc corpus's
    * decode at 8 tasks and made maxTask grow linearly with corpus size
    * (probe witness, r10). ~2k payloads per file keeps tasks near a
    * second at every tier and scales the task count with the corpus. */
  private def mediaParts(s: SparkSession, d: String): Int =
    math.max(8, (Tables.t(s, d, "documents").count() / 2000L).toInt)

  private def imageTableBuild(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.t(s, d, "documents").select(col("doc_id")).as[Long]
      .repartition(mediaParts(s, d))
      .mapPartitions { ids =>
        // Per-partition init: the ImageIO codec path warms up here once.
        ids.map { id =>
          val png = ImageCodec.encodePng(id)
          MediaItem(id, png, "png", png.length.toLong)
        }
      }
      .toDF()
  }

  /** REAL image decode over the binary column: `javax.imageio` parses the
    * PNG payloads and the features are computed from decoded pixels. One
    * `mapPartitions` stage, no shuffle — scales linearly with partition
    * count; codec init amortizes across each partition batch. */
  def extractFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    imageTable(s, d).as[MediaItem]
      .mapPartitions(items => items.map(it =>
        ImageCodec.decodeFeatures(it.doc_id, it.media)))
      .toDF()
  }

  private val multimodal = QueryDef(
    "q_multimodal_features",
    (s, d) => extractFeatures(s, d)
      .select(col("doc_id"), col("width"), col("height"), col("n_pixels"),
        col("mean_r_e3"), col("mean_g_e3"), col("mean_b_e3")),
    // The payloads are real PNGs generated from ImageCodec's closed-form
    // pixel function of doc_id, so DuckDB recomputes the expected decoded
    // statistics from the formula — validating the whole encode → PNG →
    // decode → pixel-stats path end to end (a broken decode cannot match).
    // Pixel grid via a range cross join bounded by the max 16x10 dims.
    Some("""WITH d AS (
        SELECT doc_id, 4 + doc_id % 13 AS w, 4 + doc_id % 7 AS h
        FROM documents),
      px AS (
        SELECT d.doc_id, d.w, d.h, x.range AS x, y.range AS y
        FROM d, range(0, 17) x, range(0, 11) y
        WHERE x.range < d.w AND y.range < d.h)
      SELECT doc_id,
        CAST(max(w) AS BIGINT) AS width,
        CAST(max(h) AS BIGINT) AS height,
        CAST(max(w) * max(h) AS BIGINT) AS n_pixels,
        CAST(sum((doc_id * 31 + x * 7 + y * 13) % 256) * 1000
          // (max(w) * max(h)) AS BIGINT) AS mean_r_e3,
        CAST(sum((doc_id * 17 + x * 11 + y * 3) % 256) * 1000
          // (max(w) * max(h)) AS BIGINT) AS mean_g_e3,
        CAST(sum((doc_id * 23 + x * 5 + y * 19) % 256) * 1000
          // (max(w) * max(h)) AS BIGINT) AS mean_b_e3
      FROM px GROUP BY doc_id"""))

  /** Frame sampling: chunk the payload into fixed 16-byte "frames" (the
    * stand-in for video frames / audio windows), keep every 4th frame,
    * and emit per-item sample statistics. Same typed `mapPartitions`
    * batch stage as feature extraction — a real frame decoder would hold
    * its codec open across the partition here — and still shuffle-free.
    * Sampling is deterministic (stride, not random): re-runs and retried
    * tasks pick identical frames, which is what makes the op usable as a
    * pipeline stage at scale. */
  def sampleFrames(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTable(s, d).as[MediaItem]
      .mapPartitions(items => items.map(MultimodalStub.sampleFrameStats))
      .toDF()
  }

  private val multimodalFrames = QueryDef(
    "q_multimodal_frames",
    (s, d) => sampleFrames(s, d)
      .select(col("doc_id"), col("n_frames"), col("n_sampled"), col("sampled_byte_sum")),
    // Stride-4 sampling of 16-byte frames = the first 16 bytes of every
    // 64-byte block; the ASCII corpus lets DuckDB recompute the sums from
    // the text column (bytes == character codes).
    Some("""SELECT doc_id,
      CAST((length(text) + 15) // 16 AS BIGINT) AS n_frames,
      CAST(((length(text) + 15) // 16 + 3) // 4 AS BIGINT) AS n_sampled,
      CAST(coalesce(list_sum([
          coalesce(list_sum([unicode(c) FOR c IN string_split(substr(text, b * 64 + 1, 16), '')]), 0)
          FOR b IN range(0, (length(text) + 63) // 64)]), 0) AS BIGINT) AS sampled_byte_sum
      FROM documents"""))

  /** Resize: stride-downsample every payload to ≤ 64 bytes — the
    * thumbnail/downscale stage of an image pipeline, as the same typed
    * `mapPartitions` batch stage (a real build swaps the stub for a codec
    * resize; schema and call site stay fixed). The output is the resized
    * BINARY itself plus its metadata, so downstream stages keep operating
    * on a payload column — exactly what decode→resize→embed chains need.
    * Deterministic (stride, not sampling), shuffle-free. */
  def resize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTable(s, d).as[MediaItem]
      .mapPartitions(items => items.map(MultimodalStub.resizeStub))
      .toDF()
  }

  private val multimodalResize = QueryDef(
    "q_multimodal_resize",
    (s, d) => resize(s, d)
      .select(col("doc_id"), col("n_in"), col("n_out"),
        md5(col("resized")).as("fp")),
    // ASCII corpus: resized bytes == the characters at positions
    // 0, stride, 2·stride, …, so DuckDB rebuilds the exact payload from
    // text and md5-matches it byte for byte (both engines hash to
    // lowercase hex; md5('') agrees on empty payloads).
    Some("""WITH c AS (
        SELECT doc_id, text, length(text) AS n,
          greatest((length(text) + 63) // 64, 1) AS stride
        FROM documents),
      r AS (
        SELECT doc_id, n,
          CASE WHEN n = 0 THEN '' ELSE
            array_to_string([substr(text, CAST(i * stride + 1 AS BIGINT), 1)
              FOR i IN range(0, (n + stride - 1) // stride)], '')
          END AS rs
        FROM c)
      SELECT doc_id, CAST(n AS BIGINT) AS n_in,
        CAST(length(rs) AS BIGINT) AS n_out, md5(rs) AS fp
      FROM r"""))

  /** The audio table: one REAL WAV (RIFF/PCM16 mono) per document,
    * generated executor-side from `doc_id` alone via the JDK's
    * `javax.sound.sampled` WAVE writer — the deterministic sample formula
    * makes the decoded features a closed-form function of the id, like
    * the PNG path. Payload stays opaque `binary` + typed metadata. */
  def audioTable(s: SparkSession, d: String): DataFrame =
    Tables.contentKeyedTempParquet(s,
      s"$d/documents.parquet", "graft-media-wav")(audioTableBuild(s, d))

  private def audioTableBuild(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.t(s, d, "documents").select(col("doc_id")).as[Long]
      .repartition(mediaParts(s, d)) // row-count layout, see mediaParts
      .mapPartitions { ids =>
        ids.map { id =>
          val wav = AudioCodec.encodeWav(id)
          MediaItem(id, wav, "wav", wav.length.toLong)
        }
      }
      .toDF()
  }

  private val multimodalAudio = QueryDef(
    "q_multimodal_audio",
    (s, d) => {
      import s.implicits._
      audioTable(s, d).as[MediaItem]
        .mapPartitions(items => items.map(it =>
          AudioCodec.decodeFeatures(it.doc_id, it.media)))
        .toDF()
        .select(col("doc_id"), col("n_samples"), col("sample_rate"),
          col("sum_abs"), col("max_abs"))
    },
    // Payloads are real WAV files from AudioCodec's closed-form sample
    // function of doc_id; DuckDB recomputes the expected decoded features
    // from the formula, validating encode → RIFF/PCM16 → AudioSystem
    // decode → sample-stats end to end (a broken decode cannot match).
    Some("""WITH d AS (
        SELECT doc_id, 400 + doc_id % 197 AS n FROM documents),
      s AS (
        SELECT d.doc_id, ((d.doc_id * 131 + i.range * 17) % 4001) - 2000 AS a
        FROM d, range(0, 597) i WHERE i.range < d.n)
      SELECT doc_id,
        CAST(count(*) AS BIGINT) AS n_samples,
        CAST(8000 AS BIGINT) AS sample_rate,
        CAST(sum(abs(a)) AS BIGINT) AS sum_abs,
        CAST(max(abs(a)) AS BIGINT) AS max_abs
      FROM s GROUP BY doc_id"""))

  /** The video table: one REAL animated GIF per document — the JDK's only
    * multi-FRAME container ([[VideoCodec]]) — generated executor-side
    * from `doc_id` alone. Payload stays opaque `binary` + typed
    * metadata, like images and audio. */
  def videoTable(s: SparkSession, d: String): DataFrame =
    Tables.contentKeyedTempParquet(s,
      s"$d/documents.parquet", "graft-media-gif")(videoTableBuild(s, d))

  private def videoTableBuild(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.t(s, d, "documents").select(col("doc_id")).as[Long]
      .repartition(mediaParts(s, d)) // row-count layout, see mediaParts
      .mapPartitions { ids =>
        ids.map { id =>
          val gif = VideoCodec.encodeGif(id)
          MediaItem(id, gif, "gif", gif.length.toLong)
        }
      }
      .toDF()
  }

  private val multimodalVideo = QueryDef(
    "q_multimodal_video",
    (s, d) => {
      import s.implicits._
      videoTable(s, d).as[MediaItem]
        .mapPartitions(items => items.map(it =>
          VideoCodec.decodeFrameStats(it.doc_id, it.media)))
        .toDF()
        .select(col("doc_id"), col("n_frames"), col("n_sampled"),
          col("sampled_pixel_sum"))
    },
    // Payloads are real animated GIFs from VideoCodec's closed-form
    // frame/pixel function of doc_id; the frame COUNT comes from the
    // decoded container and the pixel sums from decoded frames, so DuckDB
    // recomputing both from the formula gates the whole encode → GIF →
    // frame-seek → decode path (a broken frame index or palette cannot
    // match). Stride-2 frame sampling, grids bounded by max dims 8x6 and
    // max 8 frames.
    Some("""WITH d AS (
        SELECT doc_id, 4 + doc_id % 5 AS w, 4 + doc_id % 3 AS h,
          3 + doc_id % 6 AS nf
        FROM documents),
      px AS (
        SELECT d.doc_id, d.nf,
          (d.doc_id * 31 + f.range * 41 + x.range * 7 + y.range * 13) % 256 AS lvl
        FROM d, range(0, 9) f, range(0, 9) x, range(0, 7) y
        WHERE f.range < d.nf AND f.range % 2 = 0
          AND x.range < d.w AND y.range < d.h)
      SELECT doc_id, CAST(max(nf) AS BIGINT) AS n_frames,
        CAST((max(nf) + 1) // 2 AS BIGINT) AS n_sampled,
        CAST(sum(lvl) AS BIGINT) AS sampled_pixel_sum
      FROM px GROUP BY doc_id"""))

  /** Perceptual-hash (dHash) image dedup over the REAL decode path: each
    * PNG payload is decoded with `javax.imageio`, point-sampled to a 9x8
    * grayscale grid (integer BT.601 weights — every step int-exact so the
    * oracle can recompute it from the generative pixel formula), and
    * hashed by the classic adjacent-comparison dHash into four 16-bit
    * bands. Near-dup neighbors = hamming distance ≤ 3 over the 64 bits.
    *
    * Candidates come from a single-band equality join: ≤ 3 bit flips can
    * touch at most 3 of the 4 bands, so by pigeonhole every true neighbor
    * shares at least one band verbatim — the banding is COMPLETE at this
    * radius, not approximate. The DuckDB oracle deliberately ignores the
    * banding and recomputes neighbors ALL-PAIRS from the formula, so a
    * recall bug in the banded join cannot hash-match. Per-doc output keeps
    * the full hash (4 band columns — the end-to-end decode witness) plus
    * the neighbor count.
    *
    * Scale: hash extraction is the shuffle-free `mapPartitions` decode
    * stage; the candidate join shuffles (band, value) pairs — 4 rows of
    * ~12 bytes per image, the [[graft.pipeline.Dedup]] banding shape — and
    * verification touches candidates only. */
  private val phashDedup = QueryDef(
    "q_phash_dedup",
    (s, d) => {
      import s.implicits._
      // localCheckpoint: the decode (the heaviest stage) feeds both the
      // distinct-hash aggregate and the final per-doc join — without it
      // every image is encoded+decoded once per consumer.
      val hashed = imageTable(s, d).as[MediaItem]
        .mapPartitions(items => items.map(it =>
          ImageCodec.dHashBands(it.doc_id, it.media)))
        .toDF()
        .localCheckpoint()
      // Exact-hash collapse BEFORE banding: low-entropy images (flat
      // fields, synthetic gradients) concentrate dHash onto few values, so
      // doc-level banding goes quadratic in the concentration (the first
      // 10x probe measured 95x shuffle growth). Identical hashes carry no
      // pair information beyond their multiplicity — collapse them to one
      // row + mult, pair only DISTINCT hashes, and recover per-doc counts
      // arithmetically. The pair stage's cardinality is then hash-entropy-
      // not corpus-size-bound.
      val dh = hashed.groupBy("b0", "b1", "b2", "b3")
        .agg(count(lit(1)).as("mult"))
        .select(struct(col("b0"), col("b1"), col("b2"), col("b3")).as("hk"),
          col("mult"))
      val bands = dh.select(col("hk"), col("mult"), posexplode(
          array(col("hk.b0"), col("hk.b1"), col("hk.b2"), col("hk.b3"))))
        .toDF("hk", "mult", "band", "v")
      val cands = bands.as("x").join(bands.as("y"), Seq("band", "v"))
        .filter(col("x.hk") < col("y.hk"))
        .select(col("x.hk").as("ak"), col("x.mult").as("am"),
          col("y.hk").as("bk"), col("y.mult").as("bm"))
        .distinct()
      val close = cands.filter(
        expr("bit_count(ak.b0 ^ bk.b0) + bit_count(ak.b1 ^ bk.b1) + " +
          "bit_count(ak.b2 ^ bk.b2) + bit_count(ak.b3 ^ bk.b3)") <= 3)
      val nbrMass = close.select(col("ak").as("hk"), col("bm").as("m"))
        .unionAll(close.select(col("bk").as("hk"), col("am").as("m")))
        .groupBy("hk").agg(sum(col("m")).as("nbr"))
      hashed
        .withColumn("hk",
          struct(col("b0"), col("b1"), col("b2"), col("b3")))
        .join(dh, Seq("hk"))
        .join(nbrMass, Seq("hk"), "left_outer")
        .select(col("doc_id"), col("b0"), col("b1"), col("b2"), col("b3"),
          (col("mult") - 1L + coalesce(col("nbr"), lit(0L))).as("n_dup"))
    },
    // The oracle rebuilds the dHash from the closed-form pixel function
    // (dims 4+id%13 x 4+id%7; channel formulas as in ImageCodec) at the
    // same 9x8 point grid, then counts hamming<=3 neighbors by brute
    // force — independent of both the decode AND the banded join.
    Some("""WITH d AS (
        SELECT doc_id, 4 + doc_id % 13 AS w, 4 + doc_id % 7 AS h FROM documents),
      g AS (
        SELECT d.doc_id, i.range AS i, j.range AS j,
          (299 * ((doc_id * 31 + ((i.range * w) // 9) * 7  + ((j.range * h) // 8) * 13) % 256)
         + 587 * ((doc_id * 17 + ((i.range * w) // 9) * 11 + ((j.range * h) // 8) * 3 ) % 256)
         + 114 * ((doc_id * 23 + ((i.range * w) // 9) * 5  + ((j.range * h) // 8) * 19) % 256)) // 1000 AS gy
        FROM d, range(0, 9) i, range(0, 8) j),
      bits AS (
        SELECT a.doc_id, a.j // 2 AS band, (a.j % 2) * 8 + a.i AS k
        FROM g a JOIN g b ON a.doc_id = b.doc_id AND b.i = a.i + 1 AND b.j = a.j
        WHERE a.i < 8 AND b.gy > a.gy),
      allb AS (SELECT doc_id, b.range AS band FROM d, range(0, 4) b),
      bands AS (
        SELECT ab.doc_id, ab.band,
          CAST(COALESCE(SUM(1 << bits.k), 0) AS BIGINT) AS v
        FROM allb ab LEFT JOIN bits
          ON bits.doc_id = ab.doc_id AND bits.band = ab.band
        GROUP BY ab.doc_id, ab.band),
      h AS (SELECT doc_id,
          MAX(CASE WHEN band = 0 THEN v END) AS b0,
          MAX(CASE WHEN band = 1 THEN v END) AS b1,
          MAX(CASE WHEN band = 2 THEN v END) AS b2,
          MAX(CASE WHEN band = 3 THEN v END) AS b3
        FROM bands GROUP BY doc_id),
      dup AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM h a JOIN h b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
            + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3),
      cnt AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup FROM (
          SELECT a_id AS doc_id FROM dup
          UNION ALL SELECT b_id FROM dup) GROUP BY doc_id)
      SELECT h.doc_id, h.b0, h.b1, h.b2, h.b3, COALESCE(c.n_dup, 0) AS n_dup
      FROM h LEFT JOIN cnt c USING (doc_id)"""))

  /** Acoustic fingerprinting over the real WAV corpus: the audio analog
    * of the image family's dHash — per-window quantized energy levels,
    * the signature a 100 TB audio pipeline bands on for near-dup
    * detection (identical plumbing to [[q_phash_dedup]]'s: decode in
    * executor mapPartitions, signature as integer columns, banding as an
    * equi join — this corpus's closed-form PCM has no planted audio
    * twins, so the gated output is the fingerprint table itself and the
    * oracle recomputes every level from the sample formula, proving the
    * full decode→window→quantize path). */
  private val audioFingerprint = QueryDef(
    "q_audio_fingerprint",
    (s, d) => {
      import s.implicits._
      audioTable(s, d).as[MediaItem]
        .mapPartitions(items => items.map(it =>
          AudioCodec.fingerprint(it.doc_id, it.media)))
        .toDF()
        .select(col("doc_id"), col("n_windows"), col("fp"))
    },
    Some("""WITH d AS (
        SELECT doc_id, 400 + doc_id % 197 AS n FROM documents),
      s AS (
        SELECT d.doc_id, i.range AS i,
          abs(((d.doc_id * 131 + i.range * 17) % 4001) - 2000) AS a
        FROM d, range(0, 597) i WHERE i.range < d.n),
      w AS (
        SELECT doc_id, i // 100 AS w, CAST(SUM(a) // 25000 AS BIGINT) AS lvl
        FROM s GROUP BY doc_id, i // 100)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        string_agg(CAST(lvl AS VARCHAR), '-' ORDER BY w) AS fp
      FROM w GROUP BY doc_id"""))

  val all: Seq[QueryDef] =
    Seq(multimodal, multimodalFrames, multimodalResize, multimodalAudio,
      multimodalVideo, phashDedup, audioFingerprint)
}

/** Frame stats for one decoded video item: frame count from the container,
  * stride-sampled per-pixel sums from decoded frames. */
final case class VideoFrameStats(
    doc_id: Long,
    n_frames: Long,
    n_sampled: Long,
    sampled_pixel_sum: Long)

/** The REAL multi-frame codec: animated GIF through `javax.imageio` — the
  * one multi-frame media container every JDK ships both a writer and a
  * frame-seeking reader for. Completes the codec ladder (PNG round 7, WAV
  * round 8): frames are 256-level GRAYSCALE indexed images, because GIF is
  * palette-based — a full-color frame would be quantized (lossy) and no
  * value oracle could exist; the 256-gray palette round-trips losslessly.
  * Frame pixels are a closed-form function of (doc_id, frame, x, y) so the
  * oracle recomputes expected stats while Spark reads them from
  * actually-decoded frames. */
object VideoCodec {
  javax.imageio.ImageIO.setUseCache(false)

  val FRAME_STRIDE = 2

  def dims(id: Long): (Int, Int) = ((4 + id % 5).toInt, (4 + id % 3).toInt)
  def nFrames(id: Long): Int = (3 + id % 6).toInt
  def level(id: Long, f: Int, x: Int, y: Int): Int =
    ((id * 31 + f.toLong * 41 + x * 7 + y * 13) % 256).toInt

  private def grayPalette: java.awt.image.IndexColorModel = {
    val g = Array.tabulate(256)(_.toByte)
    new java.awt.image.IndexColorModel(8, 256, g, g, g)
  }

  /** A real animated GIF for `doc_id`'s deterministic frame sequence.
    *
    * The interlace flag is explicitly FORCED OFF per frame: the JDK GIF
    * writer interlaces by default, and its interlaced output is CORRUPT
    * for images of height <= 4 (an interlace pass with no rows misorders
    * the remaining rows and zero-fills the last — found by this module's
    * value oracle: every h=4 doc mismatched while h=5/6 round-tripped).
    * A sum-only spec check would have missed the reorder half of the bug;
    * the oracle plus the per-pixel identity test caught both. */
  def encodeGif(id: Long): Array[Byte] = {
    val (w, h) = dims(id)
    val out = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(out)
    val it = javax.imageio.ImageIO.getImageWritersByFormatName("gif")
    if (!it.hasNext) throw new IllegalStateException("JDK GIF writer missing")
    val writer = it.next()
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      val n = nFrames(id)
      while (f < n) {
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, grayPalette)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { raster.setSample(x, y, 0, level(id, f, x, y)); x += 1 }
          y += 1
        }
        val meta = writer.getDefaultImageMetadata(
          new javax.imageio.ImageTypeSpecifier(img), null)
        val fmt = meta.getNativeMetadataFormatName
        val root = meta.getAsTree(fmt).asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
        val desc = root.getElementsByTagName("ImageDescriptor")
        if (desc.getLength > 0)
          desc.item(0).asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
            .setAttribute("interlaceFlag", "FALSE")
        meta.setFromTree(fmt, root)
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, meta), null)
        f += 1
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
    out.toByteArray
  }

  /** Decode the GIF container, count its frames, and sum pixel levels over
    * every FRAME_STRIDE-th frame. */
  def decodeFrameStats(id: Long, gif: Array[Byte]): VideoFrameStats = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(gif))
    val it = javax.imageio.ImageIO.getImageReaders(iis)
    if (!it.hasNext)
      throw new IllegalArgumentException(s"doc $id: payload is not a decodable container")
    val reader = it.next()
    try {
      reader.setInput(iis, false) // random access: frame count needs a full scan
      val n = reader.getNumImages(true)
      var sum = 0L
      var sampled = 0L
      var f = 0
      while (f < n) {
        val img = reader.read(f)
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) { sum += img.getRGB(x, y) & 0xFF; x += 1 }
          y += 1
        }
        sampled += 1
        f += FRAME_STRIDE
      }
      VideoFrameStats(id, n.toLong, sampled, sum)
    } finally {
      reader.dispose()
      iis.close()
    }
  }
}

/** Decoded features for one audio item: REAL sample statistics from a REAL
  * WAV decode (see [[AudioCodec]]). All-Long schema for oracle parity. */
final case class AudioFeatures(
    doc_id: Long,
    n_samples: Long,
    sample_rate: Long,
    sum_abs: Long,
    max_abs: Long)

/** Acoustic fingerprint of one audio item: quantized per-window energy
  * levels from a REAL WAV decode (see [[AudioCodec.fingerprint]]).
  * All-integer so the oracle recomputes it exactly from the sample
  * formula. */
final case class AudioFingerprint(
    doc_id: Long,
    n_windows: Long,
    fp: String)

/** Frame-sampling stats for one media item. */
final case class MediaFrameStats(
    doc_id: Long,
    n_frames: Long,
    n_sampled: Long,
    sampled_byte_sum: Long)

/** A resized media item: downsampled payload + size metadata. */
final case class MediaResized(
    doc_id: Long,
    n_in: Long,
    n_out: Long,
    resized: Array[Byte])

/** Byte-level stand-ins for the codecs the JDK does NOT ship (true video
  * codecs like H.26x; audio beyond WAV PCM). A production build swaps this
  * object for real codecs; the call site and schema do not change. Image,
  * WAV, and animated-GIF decode are NOT stubbed — see [[ImageCodec]],
  * [[AudioCodec]], [[VideoCodec]]. */
object MultimodalStub {

  private val FRAME = 16
  private val STRIDE = 4
  private val RESIZE_TARGET = 64

  /** STUB resize: keep every stride-th byte so the output is ≤ TARGET
    * bytes (a real implementation decodes and rescales pixels; the
    * stride keeps this deterministic and byte-checkable). */
  def resizeStub(item: MediaItem): MediaResized = {
    val bytes = item.media
    val n = bytes.length
    val stride = math.max((n + RESIZE_TARGET - 1) / RESIZE_TARGET, 1)
    val out = new Array[Byte]((n + stride - 1) / stride)
    var i = 0
    while (i < out.length) { out(i) = bytes(i * stride); i += 1 }
    MediaResized(item.doc_id, n.toLong, out.length.toLong, out)
  }

  /** STAND-IN frame sampler: fixed-size byte frames, every STRIDE-th kept.
    * Stays a byte-level stand-in because the JDK ships no video decoder
    * (and no compressed-audio codec) — unlike images, where the real
    * `javax.imageio` path lives in [[ImageCodec]]. */
  def sampleFrameStats(item: MediaItem): MediaFrameStats = {
    val bytes = item.media
    val nFrames = (bytes.length + FRAME - 1) / FRAME
    val nSampled = (nFrames + STRIDE - 1) / STRIDE
    var sum = 0L
    var f = 0
    while (f < nFrames) {
      val start = f * FRAME
      val end = math.min(start + FRAME, bytes.length)
      var i = start
      while (i < end) { sum += bytes(i) & 0xFF; i += 1 }
      f += STRIDE
    }
    MediaFrameStats(item.doc_id, nFrames.toLong, nSampled.toLong, sum)
  }
}

/** The REAL image codec — `javax.imageio` (PNG/JPEG/BMP/GIF) ships in
  * every JDK, so the image decode path needs zero new dependencies.
  *
  * Generation is a closed-form pixel function of `doc_id` (dims
  * `4 + id%13` × `4 + id%7`, channel c(x,y) = linear-congruential mod 256),
  * which is what makes a value-level oracle possible: DuckDB recomputes
  * the expected statistics from the formula while Spark computes them from
  * actually-decoded PNG pixels — the PNG encode/decode roundtrip is
  * lossless RGB, so any decode defect breaks the match.
  */
object ImageCodec {

  // Executors must not write ImageIO's disk cache under /tmp.
  javax.imageio.ImageIO.setUseCache(false)

  def dims(id: Long): (Int, Int) =
    ((4 + id % 13).toInt, (4 + id % 7).toInt)

  def r(id: Long, x: Int, y: Int): Int = ((id * 31 + x * 7 + y * 13) % 256).toInt
  def g(id: Long, x: Int, y: Int): Int = ((id * 17 + x * 11 + y * 3) % 256).toInt
  def b(id: Long, x: Int, y: Int): Int = ((id * 23 + x * 5 + y * 19) % 256).toInt

  /** A real PNG file for `doc_id`'s deterministic image. */
  def encodePng(id: Long): Array[Byte] = {
    val (w, h) = dims(id)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, (r(id, x, y) << 16) | (g(id, x, y) << 8) | b(id, x, y))
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    if (!javax.imageio.ImageIO.write(img, "png", out))
      throw new IllegalStateException("JDK PNG writer missing")
    out.toByteArray
  }

  /** Difference hash (dHash) of a decoded PNG: point-sample a 9x8
    * grayscale grid (integer BT.601 `(299r+587g+114b)/1000`, nearest
    * sample at `(i*w/9, j*h/8)` — all integer ops, so the oracle can
    * replay it from the pixel formula), set bit `(j%2)*8+i` of band `j/2`
    * when the right neighbor is strictly brighter. */
  def dHashBands(id: Long, png: Array[Byte]): ImagePHash = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    if (img == null)
      throw new IllegalArgumentException(s"doc $id: payload is not a decodable image")
    val w = img.getWidth
    val h = img.getHeight
    def gray(i: Int, j: Int): Int = {
      val rgb = img.getRGB(i * w / 9, j * h / 8)
      (299 * ((rgb >> 16) & 0xFF) + 587 * ((rgb >> 8) & 0xFF)
        + 114 * (rgb & 0xFF)) / 1000
    }
    val bands = new Array[Long](4)
    var j = 0
    while (j < 8) {
      var i = 0
      while (i < 8) {
        if (gray(i + 1, j) > gray(i, j))
          bands(j / 2) |= 1L << ((j % 2) * 8 + i)
        i += 1
      }
      j += 1
    }
    ImagePHash(id, bands(0), bands(1), bands(2), bands(3))
  }

  /** Decode a PNG payload and compute per-channel pixel statistics. */
  def decodeFeatures(id: Long, png: Array[Byte]): ImageFeatures = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    if (img == null)
      throw new IllegalArgumentException(s"doc $id: payload is not a decodable image")
    val w = img.getWidth
    val h = img.getHeight
    var sr = 0L; var sg = 0L; var sb = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        sr += (rgb >> 16) & 0xFF
        sg += (rgb >> 8) & 0xFF
        sb += rgb & 0xFF
        x += 1
      }
      y += 1
    }
    val n = w.toLong * h
    ImageFeatures(id, w.toLong, h.toLong, n,
      sr * 1000L / n, sg * 1000L / n, sb * 1000L / n)
  }
}

/** Real WAV audio codec on the JDK's `javax.sound.sampled` (the one audio
  * format every JRE ships a codec for — PCM in a RIFF/WAVE container).
  * Mirrors [[ImageCodec]]: deterministic samples as a closed-form function
  * of `doc_id`, genuine container encode on write, genuine `AudioSystem`
  * parse on read, so the oracle recomputes decoded features from the
  * formula and a broken decode cannot match. */
object AudioCodec {
  val SampleRate = 8000f

  /** The registered WAV reader/writer, resolved ONCE per JVM through the
    * public `javax.sound.sampled.spi` ServiceLoader surface. Every
    * `AudioSystem.getAudioInputStream`/`write` call re-resolves providers
    * through `JDK13Services.getProviders` — a GLOBALLY SYNCHRONIZED
    * static — so per-row decode under 25+ concurrent executor tasks
    * serializes on that lock (r10 probe witness: the decode stage's
    * maxTask equaled the stage wall at every tier, 25 balanced tasks
    * each "running" the full wall). Same genuine JDK provider
    * (WaveFileReader is stateless; each call returns a fresh stream),
    * minus the per-call global lock. */
  private lazy val wavReader: javax.sound.sampled.spi.AudioFileReader = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
    var found: javax.sound.sampled.spi.AudioFileReader = null
    while (found == null && it.hasNext) {
      val r = it.next()
      try {
        r.getAudioInputStream(
          new java.io.ByteArrayInputStream(encodeWav(0L))).close()
        found = r
      } catch { case _: Exception => () }
    }
    require(found != null, "no WAV-capable AudioFileReader registered")
    found
  }

  private lazy val wavWriter: javax.sound.sampled.spi.AudioFileWriter = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileWriter]).iterator()
    var found: javax.sound.sampled.spi.AudioFileWriter = null
    while (found == null && it.hasNext) {
      val w = it.next()
      if (w.isFileTypeSupported(javax.sound.sampled.AudioFileFormat.Type.WAVE))
        found = w
    }
    require(found != null, "no WAV-capable AudioFileWriter registered")
    found
  }

  /** Per-doc sample count: 400..596 — varies per doc, bounded for the
    * oracle's fixed range() grid. */
  def nSamples(id: Long): Int = (400 + id % 197).toInt

  /** Closed-form PCM16 amplitude for sample i of doc `id` (±2000). */
  def amp(id: Long, i: Int): Int = (((id * 131 + i.toLong * 17) % 4001) - 2000).toInt

  /** A real WAV (RIFF/PCM16LE mono) payload for `doc_id`'s samples. */
  def encodeWav(id: Long): Array[Byte] = {
    val n = nSamples(id)
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val a = amp(id, i)
      pcm(i * 2) = (a & 0xFF).toByte
      pcm(i * 2 + 1) = ((a >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(SampleRate, 16, 1, true, false)
    val stream = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val out = new java.io.ByteArrayOutputStream()
    wavWriter.write(stream,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Acoustic-fingerprint geometry: non-overlapping FP_WINDOW-sample
    * energy windows, each window's sum-of-|amplitude| quantized by
    * FP_QUANTUM into a small level — the per-window energy signature an
    * audio pipeline banding-joins on (the Shazam-family shape reduced to
    * its energy skeleton; a production system would hash spectral peaks,
    * but the windowing/quantize/band plumbing is identical). Mean |amp|
    * is ~1000, so a full window's sum is ~100k and levels sit in 0..8 —
    * coarse enough to be decode-stable, fine enough to discriminate. */
  val FP_WINDOW = 100
  val FP_QUANTUM = 25000L

  /** Windowed-energy fingerprint from a REAL WAV decode: all-integer, so
    * the DuckDB oracle reproduces it exactly from the closed-form sample
    * formula — the gate validates encode → RIFF → AudioSystem decode →
    * windowing → quantization end to end. */
  def fingerprint(id: Long, wav: Array[Byte]): AudioFingerprint = {
    val in = wavReader.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    val bytes = in.readAllBytes()
    in.close()
    val n = bytes.length / 2
    val nw = (n + FP_WINDOW - 1) / FP_WINDOW
    val sums = new Array[Long](nw)
    var i = 0
    while (i < n) {
      val a = ((bytes(i * 2 + 1) << 8) | (bytes(i * 2) & 0xFF)).toShort.toInt
      sums(i / FP_WINDOW) += math.abs(a).toLong
      i += 1
    }
    // String-rendered levels (not an array column): the driver's hash
    // compare is scalar-typed, and the dash-joined form is also the
    // natural band-join key.
    AudioFingerprint(id, nw.toLong, sums.map(_ / FP_QUANTUM).mkString("-"))
  }

  /** Decode a WAV payload via `AudioSystem` and compute sample stats. */
  def decodeFeatures(id: Long, wav: Array[Byte]): AudioFeatures = {
    val in = wavReader.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    val fmt = in.getFormat
    require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 && !fmt.isBigEndian,
      s"doc $id: unexpected decoded format $fmt")
    val bytes = in.readAllBytes()
    in.close()
    val n = bytes.length / 2
    var sumAbs = 0L; var maxAbs = 0L
    var i = 0
    while (i < n) {
      // little-endian signed 16-bit
      val a = ((bytes(i * 2 + 1) << 8) | (bytes(i * 2) & 0xFF)).toShort.toInt
      val ab = math.abs(a).toLong
      sumAbs += ab
      if (ab > maxAbs) maxAbs = ab
      i += 1
    }
    AudioFeatures(id, n.toLong, fmt.getSampleRate.toLong, sumAbs, maxAbs)
  }
}
