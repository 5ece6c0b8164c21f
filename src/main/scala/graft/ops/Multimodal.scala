package graft.ops

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Staged, Tables}

/** C12: multimodal binary-column pipeline (SURVEY.md §2.C).
  *
  * Media is carried as an opaque `binary` payload column with a typed
  * metadata struct — never parsed by the engine, so scans of non-media
  * columns prune it away entirely (parquet column pruning). The payload is
  * REAL media: a deterministic BMP per document (encoded with
  * `javax.imageio`, pure JVM), and the decode / feature-extract step is a
  * REAL codec call — `ImageIO.read` — inside the partition-local batched
  * `mapPartitions` plumbing (the shape a vectorized codec / model-
  * inference call needs; a codec call is not expressible as a Catalyst
  * expression).
  *
  * The gate query `c12_multimodal` checks the decode END TO END: each
  * image's pixel pattern is an arithmetic function of (doc_id, y), so the
  * decoded width/height/pixel-sum have closed forms the DuckDB oracle
  * computes image-free — a wrong decode surfaces as a value mismatch.
  */
object Multimodal {

  // ImageIO's default ImageInputStream is FILE-backed (a temp-file cache
  // per read) — pure overhead for in-memory payloads, and disk traffic a
  // 1000-executor decode pass must not generate. Memory-cached streams
  // decode the same bytes with the same codec, no disk.
  ImageIO.setUseCache(false)

  /** A media row: payload + typed metadata. */
  case class Media(doc_id: Long, payload: Array[Byte], width: Int, height: Int)

  /** Extracted features per media row: decoded dimensions, exact pixel
    * sum (red channel), a fixed-width embedding-ish vector, and the 8
    * CONTIGUOUS row-block pixel sums (block of row y = `8·y DIV h`) that
    * C54's perceptual hash reads.
    */
  case class MediaFeatures(doc_id: Long, n_bytes: Int, dec_width: Int,
                           dec_height: Int, pixel_sum: Long, feature: Array[Float],
                           row_blocks: Array[Long])

  private val featDim = 8

  /** Deterministic image metadata from the id (mirrored in the oracle). */
  def widthOf(docId: Long): Int = ((docId % 64) + 16).toInt
  def heightOf(docId: Long): Int = (((docId * 7) % 64) + 16).toInt

  /** Synthesize the payload: a real BMP whose row y is the constant gray
    * value (doc_id + y) % 256 — decodable by any codec, pixel stats in
    * closed form. BMP (uncompressed) rather than PNG: the deflate pass
    * dominated the bench (4.7s → the codec itself), and the decode path
    * being exercised is ImageIO either way.
    */
  def makeImage(docId: Long, w: Int, h: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      val v = ((docId + y) % 256).toInt
      val rgb = (v << 16) | (v << 8) | v
      var x = 0
      while (x < w) { px(y * w + x) = rgb; x += 1 }
      y += 1
    }
    img.setRGB(0, 0, w, h, px, 0, w) // one bulk raster write, not w·h calls
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "bmp", bos)
    bos.toByteArray
  }

  /** REAL decode + feature extraction: `ImageIO.read` the payload, read
    * dimensions and red-channel stats off the decoded raster. The feature
    * vector folds per-row means into `featDim` buckets.
    */
  def decode(m: Media): MediaFeatures = {
    val img = ImageIO.read(new ByteArrayInputStream(m.payload))
    require(img != null, s"undecodable payload for doc ${m.doc_id}")
    val w = img.getWidth
    val h = img.getHeight
    val px = img.getRGB(0, 0, w, h, null, 0, w) // one bulk raster read
    var sum = 0L
    val bucket = new Array[Long](featDim)
    val blocks = new Array[Long](8)
    var y = 0
    while (y < h) {
      var rowSum = 0L
      var x = 0
      while (x < w) {
        rowSum += (px(y * w + x) >> 16) & 0xff
        x += 1
      }
      sum += rowSum
      bucket(y % featDim) += rowSum
      blocks(8 * y / h) += rowSum
      y += 1
    }
    MediaFeatures(m.doc_id, m.payload.length, w, h, sum,
      bucket.map(v => v.toFloat / (w * h)), blocks)
  }

  /** Media table: one deterministic BMP payload per document, metadata
    * beside it. In production this is the parquet schema itself — payload
    * column written as BYTE_ARRAY with metadata columns beside it.
    */
  def mediaTable(s: SparkSession, d: String): Dataset[Media] = {
    import s.implicits._
    // spread the id list BEFORE synthesis: the documents scan is a
    // single input split at fixture scale, and a 1-partition media table
    // stages as ONE parquet file — every downstream decode gate (C12,
    // C29, C54, D20) then runs its whole codec pass in one task. Payload
    // bytes are a pure function of doc_id, so the wider layout changes
    // file assignment only, never content (staging stays idempotent).
    // In production the payload table arrives already partitioned; this
    // is the fixture-staging analogue of that layout decision.
    Tables.documents(s, d).select(col("doc_id")).as[Long]
      .repartition(s.sparkContext.defaultParallelism)
      .mapPartitions { ids =>
        ids.map { id =>
          val w = widthOf(id)
          val h = heightOf(id)
          Media(id, makeImage(id, w, h), w, h)
        }
      }
  }

  /** The media table STAGED as parquet — the production shape: payload is
    * a stored BYTE_ARRAY column scanned like any other, not re-encoded
    * per query. Synthesized once per fixture dir (deterministic bytes, so
    * the staging is idempotent across JVMs); every query against it is
    * then a real payload SCAN, which is what C12/C29 are supposed to
    * measure — decode cost and header-parse cost, not fixture synthesis.
    */
  def mediaParquet(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Staged.build("graft_media", d, "documents")(
      mediaTable(s, d).write.parquet(_)))

  /** The batched decode pipeline: partition-local batching (the shape a
    * vectorized codec / model-inference call needs), no shuffle, no
    * driver round-trip. Batch size bounds peak memory per task.
    */
  def featurize(s: SparkSession, d: String, batchSize: Int = 64): Dataset[MediaFeatures] = {
    import s.implicits._
    mediaParquet(s, d).as[Media].mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        // each batch is one codec pass; ImageIO decodes per element
        batch.iterator.map(decode)
      }
    }
  }

  /** Gate query: encode → decode end-to-end. Decoded width/height must
    * equal the metadata, and the decoded pixel sum must equal the closed
    * form the oracle computes image-free.
    */
  def c12Multimodal(s: SparkSession, d: String): DataFrame =
    featurize(s, d).toDF()
      .select(col("doc_id"),
        col("dec_width"), col("dec_height"), col("pixel_sum"))
      // materialize the tiny feature frame before the global sort: the
      // range partitioner's key-sampling pass otherwise re-executes the
      // whole codec pipeline a second time (every decode gate's sort
      // paid 2× the ImageIO cost — measured per-job in r12)
      .localCheckpoint(true)
      .orderBy(col("doc_id"))

  /** Row y of image doc_id is w pixels of value (a + y) % 256 with
    * a = doc_id % 256 and h < 256, so the wrap happens at most once:
    * Σ_y (a+y) % 256 = h·a + h(h−1)/2 − 256·max(0, a+h−256).
    */
  val c12Sql: String =
    """SELECT doc_id,
      |  CAST(w AS INTEGER) AS dec_width,
      |  CAST(h AS INTEGER) AS dec_height,
      |  CAST(w * (h * a + h * (h - 1) // 2
      |            - 256 * GREATEST(0, a + h - 256)) AS BIGINT) AS pixel_sum
      |FROM (SELECT doc_id, (doc_id % 64) + 16 AS w, ((doc_id * 7) % 64) + 16 AS h,
      |        doc_id % 256 AS a
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** C29: EXIF-style metadata extraction — typed header fields
    * (file size, pixel-data offset, dimensions, bits-per-pixel) read
    * straight off the binary payload's container header by the codegen'd
    * [[graft.functions.BmpMeta]] expression. NO raster decode: where C12
    * is the codec pass (mapPartitions, ~ms per image), this is a
    * projection at scan speed — the plan difference between "decode the
    * corpus" and "read 54 bytes per payload". The oracle computes every
    * field in closed form from the BMP spec (row stride padded to 4
    * bytes), so a mis-read offset or endianness bug surfaces as a value
    * mismatch; MultimodalSpec cross-checks the same fields against the
    * full ImageIO decode.
    */
  def c29MediaMetadata(s: SparkSession, d: String): DataFrame =
    mediaParquet(s, d)
      .select(col("doc_id"), length(col("payload")).cast("int").as("n_bytes"),
        graft.functions.BmpMeta(col("payload")).as("m"))
      .select(col("doc_id"), col("n_bytes"),
        col("m").getItem(0).as("file_size"),
        col("m").getItem(1).as("px_offset"),
        col("m").getItem(2).as("px_width"),
        col("m").getItem(3).as("px_height"),
        col("m").getItem(4).as("bpp"))
      // see c12: the sort-sampling pass otherwise re-reads the payload
      // column (the table's heavy bytes) a second time for its keys
      .localCheckpoint(true)
      .orderBy(col("doc_id"))

  /** 24bpp BMP: stride = ceil(3w/4)·4, file = 54-byte headers + h·stride. */
  val c29Sql: String =
    """SELECT doc_id,
      |  CAST(54 + h * ((3 * w + 3) // 4 * 4) AS INTEGER) AS n_bytes,
      |  CAST(54 + h * ((3 * w + 3) // 4 * 4) AS INTEGER) AS file_size,
      |  CAST(54 AS INTEGER) AS px_offset,
      |  CAST(w AS INTEGER) AS px_width,
      |  CAST(h AS INTEGER) AS px_height,
      |  CAST(24 AS INTEGER) AS bpp
      |FROM (SELECT doc_id, (doc_id % 64) + 16 AS w, ((doc_id * 7) % 64) + 16 AS h
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  // ----------------------- C54 perceptual-hash image near-dup
  /** C54: perceptual NEAR-DUP detection on decoded media — the image
    * analog of C3's SimHash: a dHash-style profile hash (bit i = "row
    * block i+1 brighter than block i" over 8 contiguous row blocks of
    * the DECODED raster), so re-encoded/resized copies of the same
    * picture collide while different pictures split. Brightness
    * comparisons are integer cross-multiplications of block pixel sums
    * (block populations differ when 8 ∤ h — no division, no floats), so
    * the hash is exact and the gate hash-checkable. Scale shape: the
    * hash rides the same one-pass batched decode as C12 (no extra
    * decode), grouping is a \|distinct hash\| aggregate — the candidate
    * structure of a 100 TB image-dedup (bucket by hash, verify inside
    * buckets) with the hash as the equi-join key.
    *
    * Oracle: the closed-form pixel model — block y-range is
    * [ceil(i·h/8), ceil((i+1)·h/8)) (the inverse image of block(y) =
    * 8y DIV h), block sum = w·(n·a + Σy − 256·wraps) — re-derives every
    * bit image-free; a decode or blocking bug surfaces as a hash
    * mismatch.
    */
  /** The profile-hash Column over decoded (row_blocks, dec_height) —
    * shared by the batch gate and D20's streaming image dedup.
    */
  def c54Phash: org.apache.spark.sql.Column = {
    val nOf = (i: Int) =>
      expr(s"CAST((${i + 1} * dec_height + 7) DIV 8 - ($i * dec_height + 7) DIV 8 AS BIGINT)")
    (0 until 7).map { i =>
      when(col("row_blocks").getItem(i + 1) * nOf(i) >
           col("row_blocks").getItem(i) * nOf(i + 1), lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ + _)
  }

  def c54PerceptualDedup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    featurize(s, d).toDF()
      .select(col("doc_id"), c54Phash.as("phash"))
      // see c12: the decode feeds the phash window AND the sort-sampling
      // pass — materialize the 2-column frame so the codec runs once
      .localCheckpoint(true)
      .withColumn("n_same", count(lit(1)).over(Window.partitionBy(col("phash"))))
      .orderBy(col("doc_id"))
  }

  val c54Sql: String =
    """WITH m AS (
      |  SELECT doc_id, (doc_id % 64) + 16 AS w, ((doc_id * 7) % 64) + 16 AS h,
      |    doc_id % 256 AS a
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, w, a, i,
      |    (i * h + 7) // 8 AS y0, ((i + 1) * h + 7) // 8 AS y1
      |  FROM m, (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) AS iv(i)),
      |s AS (
      |  SELECT doc_id, i, CAST(y1 - y0 AS BIGINT) AS n,
      |    CAST(w * ((y1 - y0) * a + (y1 * (y1 - 1) - y0 * (y0 - 1)) // 2
      |              - 256 * GREATEST(0, y1 - GREATEST(y0, 256 - a))) AS BIGINT)
      |      AS bsum
      |  FROM b),
      |ph AS (
      |  SELECT s1.doc_id,
      |    CAST(SUM(CASE WHEN s2.bsum * s1.n > s1.bsum * s2.n
      |                  THEN 1 << s1.i ELSE 0 END) AS BIGINT) AS phash
      |  FROM s s1 JOIN s s2 ON s1.doc_id = s2.doc_id AND s2.i = s1.i + 1
      |  GROUP BY s1.doc_id)
      |SELECT doc_id, phash,
      |  CAST(COUNT(*) OVER (PARTITION BY phash) AS BIGINT) AS n_same
      |FROM ph ORDER BY doc_id""".stripMargin

  // ----------------------- C88 audio waveform decode + frame features
  /** C88: AUDIO payload pipeline — C12's multimodal contract extended to
    * the second modality: payloads are REAL WAV files (RIFF container,
    * 16-bit PCM mono, built and re-read through `javax.sound.sampled` —
    * a real audio codec both directions, pure JVM), carried as an opaque
    * binary column beside typed metadata, decoded in the same
    * partition-local batched mapPartitions shape as C12 (a codec call
    * is not a Catalyst expression). Features are what an audio curation
    * pass reads: byte size, decoded sample rate and sample count, total
    * energy (Σv², exact BIGINT), and 8 FRAME-SAMPLED absolute-amplitude
    * sums (frame of sample i = `8·i DIV n` — the same contiguous
    * blocking as C12's row blocks / C54's phash, so a frame-level
    * perceptual hash composes the same way). The waveform is a
    * deterministic sawtooth of (doc_id, i), so the oracle re-derives
    * every feature AUDIO-FREE from the generative model (unnest over
    * range(n)) — a lossy or misaligned encode→decode surfaces as a
    * value mismatch, exactly C12's doctrine.
    */
  case class Audio(doc_id: Long, payload: Array[Byte], sample_rate: Int,
                   n_samples: Int)
  case class AudioFeatures(doc_id: Long, n_bytes: Int, sample_rate: Int,
                           n_samples: Int, energy: Long, frame_abs: Array[Long])

  private val c88Rate = 8000

  def nSamplesOf(docId: Long): Int = ((docId % 997) + 400).toInt
  def sampleOf(docId: Long, i: Int): Int =
    (((docId * 31 + i.toLong * 7) % 2001) - 1000).toInt

  /** Synthesize a real WAV: canonical 44-byte RIFF header + PCM16LE. */
  def makeWav(docId: Long, n: Int): Array[Byte] = {
    import javax.sound.sampled._
    val fmt = new AudioFormat(c88Rate.toFloat, 16, 1, true, false)
    val data = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val v = sampleOf(docId, i)
      data(2 * i) = (v & 0xff).toByte
      data(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val ais = new AudioInputStream(new ByteArrayInputStream(data), fmt, n.toLong)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** REAL decode: `AudioSystem.getAudioInputStream` parses the RIFF
    * container and hands back format + PCM frames.
    */
  def decodeWav(a: Audio): AudioFeatures = {
    import javax.sound.sampled._
    val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(a.payload))
    val fmt = ais.getFormat
    val pcm = ais.readAllBytes()
    val n = pcm.length / 2
    var energy = 0L
    val frames = new Array[Long](8)
    var i = 0
    while (i < n) {
      val v = (((pcm(2 * i + 1) & 0xff) << 8) | (pcm(2 * i) & 0xff)).toShort.toLong
      energy += v * v
      frames(8 * i / n) += math.abs(v)
      i += 1
    }
    AudioFeatures(a.doc_id, a.payload.length, fmt.getSampleRate.toInt, n,
      energy, frames)
  }

  /** Audio table staged as parquet — same production shape as
    * [[mediaParquet]]: payload is a stored BYTE_ARRAY column, queries
    * against it measure decode cost, not synthesis.
    */
  def audioParquet(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    s.read.parquet(Staged.build("graft_audio", d, "documents")(
      Tables.documents(s, d).select(col("doc_id")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
        .mapPartitions { ids =>
          ids.map { id =>
            val n = nSamplesOf(id)
            Audio(id, makeWav(id, n), c88Rate, n)
          }
        }.write.parquet(_)))
  }

  def c88AudioDecode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    audioParquet(s, d).as[Audio]
      .mapPartitions(_.grouped(64).flatMap(_.iterator.map(decodeWav)))
      .toDF()
      // CSV-stringified for the gate: the driver's pandas compare cannot
      // sort/hash ARRAY cells. decodeWav still produces the real
      // Array[Long] frame energies; only the output projection flattens it.
      .withColumn("frame_abs_csv", array_join(col("frame_abs"), "\u0001"))
      .drop("frame_abs")
      // see c12: one decode pass, not two (sort-sampling re-execution)
      .localCheckpoint(true)
      .orderBy(col("doc_id"))
  }

  val c88Sql: String =
    """WITH ids AS (SELECT doc_id, (doc_id % 997) + 400 AS n FROM documents),
      |sm AS (SELECT doc_id, n, CAST(i AS BIGINT) AS i,
      |         CAST(((doc_id * 31 + i * 7) % 2001) - 1000 AS BIGINT) AS v
      |       FROM (SELECT doc_id, n, unnest(range(0, n)) AS i FROM ids)),
      |agg AS (SELECT doc_id, MAX(n) AS n, SUM(v * v) AS energy
      |        FROM sm GROUP BY doc_id),
      |fr AS (SELECT doc_id, 8 * i // n AS f, CAST(SUM(ABS(v)) AS BIGINT) AS fa
      |       FROM sm GROUP BY doc_id, 8 * i // n),
      |fl AS (SELECT doc_id, list(fa ORDER BY f) AS frame_abs FROM fr GROUP BY doc_id)
      |SELECT a.doc_id, CAST(44 + 2 * a.n AS INTEGER) AS n_bytes,
      |  CAST(8000 AS INTEGER) AS sample_rate, CAST(a.n AS INTEGER) AS n_samples,
      |  CAST(a.energy AS BIGINT) AS energy,
      |  array_to_string(f.frame_abs, chr(1)) AS frame_abs_csv
      |FROM agg a JOIN fl f USING (doc_id) ORDER BY a.doc_id""".stripMargin

  // ----------------------- C89 video container + frame sampling
  /** C89: VIDEO payload pipeline — the third modality, and the one whose
    * scale story is SELECTIVE decode (a video curation pass never
    * decodes every frame; it samples): payloads are a length-prefixed
    * frame container (magic + frame count + [len, BMP] per frame — the
    * MJPEG shape with real per-frame ImageIO decode), and the operator
    * decodes ONLY every stride-th frame, `skipBytes` over the rest — the
    * container's length prefixes are what make skipping O(1) per
    * unsampled frame, which is the whole point of the layout. Frame f
    * of video doc_id is C12's image with id+f, so per-frame pixel sums
    * inherit C12's closed form and the oracle re-derives everything
    * VIDEO-FREE: frame count (read from the header, no decode), sampled
    * count, sampled brightness total, and the max inter-sample
    * brightness delta (the scene-cut signal shot-boundary detection
    * thresholds). MultimodalSpec additionally pins that skipped frames
    * are truly never decoded (a poisoned unsampled frame doesn't fail).
    */
  case class Video(doc_id: Long, payload: Array[Byte], n_frames: Int)
  case class VideoFeatures(doc_id: Long, n_frames: Int, n_sampled: Int,
                           sampled_sum: Long, max_cut: Long)

  private val c89Magic = 0x47524656 // "GRFV"
  private val c89Stride = 2

  def nFramesOf(docId: Long): Int = ((docId % 12) + 4).toInt

  def makeVideo(docId: Long): Array[Byte] = {
    val w = widthOf(docId)
    val h = heightOf(docId)
    val bos = new ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(bos)
    dos.writeInt(c89Magic)
    val frames = nFramesOf(docId)
    dos.writeInt(frames)
    var f = 0
    while (f < frames) {
      val img = makeImage(docId + f, w, h)
      dos.writeInt(img.length)
      dos.write(img)
      f += 1
    }
    bos.toByteArray
  }

  /** Selective decode: ImageIO only touches sampled frames; unsampled
    * frames are skipped by their length prefix.
    */
  def decodeVideoSampled(v: Video, stride: Int = c89Stride): VideoFeatures = {
    val dis = new java.io.DataInputStream(new ByteArrayInputStream(v.payload))
    require(dis.readInt() == c89Magic, s"bad container for doc ${v.doc_id}")
    val frames = dis.readInt()
    var f = 0
    var sampled = 0
    var total = 0L
    var prev = -1L
    var maxCut = 0L
    while (f < frames) {
      val len = dis.readInt()
      if (f % stride == 0) {
        val buf = new Array[Byte](len)
        dis.readFully(buf)
        val img = ImageIO.read(new ByteArrayInputStream(buf))
        require(img != null, s"undecodable frame $f for doc ${v.doc_id}")
        val w = img.getWidth
        val h = img.getHeight
        val px = img.getRGB(0, 0, w, h, null, 0, w)
        var sum = 0L
        var i = 0
        while (i < px.length) { sum += (px(i) >> 16) & 0xff; i += 1 }
        total += sum
        sampled += 1
        if (prev >= 0) maxCut = math.max(maxCut, math.abs(sum - prev))
        prev = sum
      } else {
        var left = len
        while (left > 0) left -= dis.skipBytes(left)
      }
      f += 1
    }
    VideoFeatures(v.doc_id, frames, sampled, total, maxCut)
  }

  def videoParquet(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    s.read.parquet(Staged.build("graft_video", d, "documents")(
      Tables.documents(s, d).select(col("doc_id")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
        .mapPartitions(_.map(id => Video(id, makeVideo(id), nFramesOf(id))))
        .write.parquet(_)))
  }

  def c89VideoSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    videoParquet(s, d).as[Video]
      .mapPartitions(_.grouped(64).flatMap(_.iterator.map(v => decodeVideoSampled(v))))
      .toDF()
      // see c12: one decode pass, not two (sort-sampling re-execution)
      .localCheckpoint(true)
      .orderBy(col("doc_id"))
  }

  /** Frame f's gray value at row y is (doc_id + f + y) % 256 — C12's
    * closed form with a = (doc_id + f) % 256; sampled frames are
    * range(0, F, stride).
    */
  val c89Sql: String =
    """WITH m AS (SELECT doc_id, (doc_id % 64) + 16 AS w,
      |             ((doc_id * 7) % 64) + 16 AS h, (doc_id % 12) + 4 AS nf
      |           FROM documents),
      |fr AS (SELECT doc_id, w, h, nf, CAST(f AS BIGINT) AS f,
      |         (doc_id + f) % 256 AS a
      |       FROM (SELECT doc_id, w, h, nf, unnest(range(0, nf, 2)) AS f FROM m)),
      |su AS (SELECT doc_id, nf, f,
      |         CAST(w * (h * a + h * (h - 1) // 2
      |                   - 256 * GREATEST(0, a + h - 256)) AS BIGINT) AS fsum
      |       FROM fr),
      |de AS (SELECT doc_id, nf, fsum,
      |         ABS(fsum - lag(fsum) OVER (PARTITION BY doc_id ORDER BY f)) AS d
      |       FROM su)
      |SELECT doc_id, CAST(MAX(nf) AS INTEGER) AS n_frames,
      |  CAST(COUNT(*) AS INTEGER) AS n_sampled,
      |  CAST(SUM(fsum) AS BIGINT) AS sampled_sum,
      |  CAST(COALESCE(MAX(d), 0) AS BIGINT) AS max_cut
      |FROM de GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ----------------------- C90 cross-modal dedup agreement
  /** C90: CROSS-MODAL duplication agreement — the signal-correlation
    * readout before setting multimodal dedup policy (content farms
    * repost the same text with the same image; a text-only or
    * image-only match is a different phenomenon than both agreeing, and
    * the policy for each differs): counts of (a) text near-dup
    * candidate pairs (C2's LSH set), (b) those pairs where BOTH sides
    * also share the C54 perceptual image hash, (c) all image-phash
    * pairs (Σ C(n,2) over hash groups). Shape: the pair frame ≪ corpus
    * joins the \|docs\|-row phash frame twice (broadcast at fixture
    * scale; bucketed at 100 TB), image-pair counting is one aggregate
    * over \|distinct hashes\| — no pairwise materialization. The phash
    * side rides C54's one-pass decode; oracle = C2's CTE chain × C54's
    * closed-form pixel model, composed — a drift in either signal
    * breaks the agreement counts.
    */
  def c90CrossModalAgreement(s: SparkSession, d: String): DataFrame = {
    // three consumers (two broadcast builds + the image-pair aggregate)
    // — materialized once or the codec pass runs three times (see c12)
    val ph = featurize(s, d).toDF()
      .select(col("doc_id"), c54Phash.as("phash"))
      .localCheckpoint(true)
    val pairs = graft.ops.Dedup.c2Pairs(s, d)
    val joined = pairs
      .join(broadcast(ph.select(col("doc_id").as("d1"), col("phash").as("p1"))), "d1")
      .join(broadcast(ph.select(col("doc_id").as("d2"), col("phash").as("p2"))), "d2")
    val textAgg = joined.agg(
      count(lit(1)).as("text_pairs"),
      sum(when(col("p1") === col("p2"), 1L).otherwise(0L)).as("both_modal"))
    val imgAgg = ph.groupBy(col("phash")).agg(count(lit(1)).as("n"))
      .agg(sum(expr("n * (n - 1) DIV 2")).as("image_pairs"))
    textAgg.crossJoin(imgAgg)
  }

  /** C54's phash closed form (per-doc) + C2's candidate CTE chain. */
  val c90Sql: String = {
    val phCtes =
      """pm AS (
        |  SELECT doc_id, (doc_id % 64) + 16 AS w, ((doc_id * 7) % 64) + 16 AS h,
        |    doc_id % 256 AS a
        |  FROM documents),
        |pb AS (
        |  SELECT doc_id, w, a, i,
        |    (i * h + 7) // 8 AS y0, ((i + 1) * h + 7) // 8 AS y1
        |  FROM pm, (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) AS iv(i)),
        |ps AS (
        |  SELECT doc_id, i, CAST(y1 - y0 AS BIGINT) AS n,
        |    CAST(w * ((y1 - y0) * a + (y1 * (y1 - 1) - y0 * (y0 - 1)) // 2
        |              - 256 * GREATEST(0, y1 - GREATEST(y0, 256 - a))) AS BIGINT)
        |      AS bsum
        |  FROM pb),
        |ph AS (
        |  SELECT s1.doc_id,
        |    CAST(SUM(CASE WHEN s2.bsum * s1.n > s1.bsum * s2.n
        |                  THEN 1 << s1.i ELSE 0 END) AS BIGINT) AS phash
        |  FROM ps s1 JOIN ps s2 ON s1.doc_id = s2.doc_id AND s2.i = s1.i + 1
        |  GROUP BY s1.doc_id)""".stripMargin
    s"""WITH ${graft.ops.Dedup.c2PairsCtes},
       |$phCtes,
       |t AS (
       |  SELECT COUNT(*) AS text_pairs,
       |    CAST(SUM(CASE WHEN a.phash = b.phash THEN 1 ELSE 0 END) AS BIGINT)
       |      AS both_modal
       |  FROM c2pairs
       |  JOIN ph a ON d1 = a.doc_id
       |  JOIN ph b ON d2 = b.doc_id),
       |i AS (
       |  SELECT CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS image_pairs
       |  FROM (SELECT phash, COUNT(*) AS n FROM ph GROUP BY phash))
       |SELECT t.text_pairs, t.both_modal, i.image_pairs FROM t, i""".stripMargin
  }

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c12_multimodal" -> (c12Multimodal _),
    "c29_media_metadata" -> (c29MediaMetadata _),
    "c54_perceptual_dedup" -> (c54PerceptualDedup _),
    "c88_audio_decode" -> (c88AudioDecode _),
    "c89_video_sample" -> (c89VideoSample _),
    "c90_crossmodal_agreement" -> (c90CrossModalAgreement _)
  )

  val oracle: Map[String, String] = Map(
    "c12_multimodal" -> c12Sql,
    "c29_media_metadata" -> c29Sql,
    "c54_perceptual_dedup" -> c54Sql,
    "c88_audio_decode" -> c88Sql,
    "c89_video_sample" -> c89Sql,
    "c90_crossmodal_agreement" -> c90Sql
  )
}
